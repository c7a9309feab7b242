#!/usr/bin/env python
"""ANN codebook-drift probe + search-parameter SWEEP (r13 verdict #5
measurement half; r14 verdict #4 tuning half): quantify the recall
decay a DISTRIBUTION SHIFT inflicts on an index searched with STALE
codebooks, the recovery a re-train (the C188 path) buys, and how the
search config (nprobe x shortlist) moves recall on both the original
and the shifted query segments.

Setup: the original embeddings plus a SHIFTED segment (every vector
displaced by a constant ±2·mean|x| per-dimension offset — a new region
of the space the original training never saw), written as a combined
corpus. Two indexes over the SAME combined corpus:
  stale     — books trained on the ORIGINAL corpus only (what a
              maintained index has after the shifted segment streams
              in through C178 ingest: new vectors coded by old books);
  retrained — books trained on the COMBINED corpus (what C188's
              epoch-2 rebuild produces).
Each searched with the shared _ivfpq_search plan at every cell of
NPROBE in {2,4,8} x SHORT_R in {30,60}; recall@5 and recall@10
measured against exact brute-force truth, split by query segment.
Also records how the shifted segment crowds the stale coarse lists
(occupancy skew — the geometric cause of the decay).

Usage: python tools/ann_drift_probe.py [sf_dir] [out_json]
Writes docs/ANN_DRIFT.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402

from kafka_clickhouse_implementation_spark.io import load  # noqa: E402
from kafka_clickhouse_implementation_spark.session import get_spark  # noqa: E402

SPAN = 10_000  # shifted-segment vec_id offset (multiple of Q_EVERY)
DRIFT_DIR = "/tmp/spark_graft_scale/ann_drift"
SWEEP_NPROBE = (2, 4, 8)
SWEEP_SHORT_R = (30, 60)
RECALL_KS = (5, 10)


def build_combined(spark, src: str) -> str:
    emb = load(spark, src, "embeddings")
    s = emb.select(
        F.avg(F.expr("aggregate(transform(embedding, x -> abs(x)), "
                     "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
                     " / size(embedding)")).alias("s")
    ).first().s
    off = 2.0 * float(s)
    shifted = emb.select(
        (F.col("vec_id") + SPAN).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) ->"
            f" CAST(x + {off} * (1 - 2 * (i % 2)) AS FLOAT))"
        ).alias("embedding"),
    )
    out = os.path.join(DRIFT_DIR, "embeddings.parquet")
    emb.select("vec_id", "embedding").unionByName(shifted).write.mode(
        "overwrite"
    ).parquet(out)
    return DRIFT_DIR


def recalls(spark, search_df, truth) -> dict:
    """recall@k for k in RECALL_KS, split orig/shifted. search_df must
    carry (query_id, rank, neighbor_id) with rank up to max(RECALL_KS);
    truth carries (query_id, neighbor_id, rk) up to the same depth."""
    out = {}
    got = search_df.select("query_id", "rank", "neighbor_id").localCheckpoint()
    for k in RECALL_KS:
        hit = (
            got.filter(F.col("rank") <= k)
            .join(
                truth.filter(F.col("rk") <= k), ["query_id", "neighbor_id"]
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        per_q = (
            truth.select("query_id").distinct()
            .join(hit, "query_id", "left")
            .select(
                "query_id",
                (F.coalesce("h", F.lit(0)) / float(k)).alias("r"),
            )
        )
        for label, pred in (("orig", f"query_id < {SPAN}"),
                            ("shifted", f"query_id >= {SPAN}")):
            row = per_q.filter(pred).agg(
                F.avg("r").alias("r"), F.count(F.lit(1)).alias("n")
            ).first()
            out[f"recall{k}_{label}"] = round(float(row.r), 4)
            out[f"n_queries_{label}"] = int(row.n)
    return out


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "docs/ANN_DRIFT.json"
    spark = get_spark("ann_drift_probe")

    from kafka_clickhouse_implementation_spark.operators.clustering import (
        Q_EVERY,
        _dist2_arrays,
        _eq_arrays,
        _ivfpq_search,
        _pts_long,
        _split_subspaces,
    )
    from kafka_clickhouse_implementation_spark.cachedirs import read_product
    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        _coded_index_rows,
        _coding_books,
        ann_index_product,
    )
    from pyspark.sql import Window

    drift = build_combined(spark, src)
    eq = _eq_arrays(spark, drift).localCheckpoint()
    pts = _split_subspaces(_pts_long(spark, drift))
    kmax = max(RECALL_KS)

    # exact brute-force truth for every query over the combined corpus
    q = eq.filter(F.col("vec_id") % Q_EVERY == 0).select(
        F.col("vec_id").alias("query_id"), F.col("eq").alias("ea")
    )
    pairs = q.join(
        eq.select(F.col("vec_id").alias("neighbor_id"), F.col("eq").alias("eb"))
    ).filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", _dist2_arrays("ea", "eb").alias("d")
    )
    truth = (
        pairs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d", "neighbor_id")
            ),
        )
        .filter(F.col("rk") <= kmax)
        .select("query_id", "neighbor_id", "rk")
        .localCheckpoint()
    )

    artifact: dict = {
        "source": src,
        "span": SPAN,
        "recall_ks": list(RECALL_KS),
        "sweep_nprobe": list(SWEEP_NPROBE),
        "sweep_short_r": list(SWEEP_SHORT_R),
    }

    def run_index(label: str, books_src_dir: str) -> None:
        root = ann_index_product(spark, books_src_dir)
        coarse_carr, pq_book = _coding_books(spark, root)
        coded = _coded_index_rows(eq, coarse_carr, pq_book).localCheckpoint()
        asg = coded.filter(F.col("sub") == -1).select("vec_id", "cid")
        codes = coded.filter(F.col("sub") >= 0).select(
            F.col("sub").cast("int").alias("sub"), "vec_id", "cid"
        )
        cdf = read_product(spark, root)["pq_adc_book"]
        cells = {}
        for nprobe in SWEEP_NPROBE:
            for short_r in SWEEP_SHORT_R:
                res = _ivfpq_search(
                    spark, eq, pts, coarse_carr, asg, codes, cdf,
                    nprobe=nprobe, short_r=short_r, topk=kmax,
                )
                cells[f"nprobe{nprobe}_short{short_r}"] = recalls(
                    spark, res, truth
                )
        artifact[label] = {"sweep": cells}
        # occupancy skew of the SHIFTED segment across coarse lists
        occ = (
            asg.filter(F.col("vec_id") >= SPAN)
            .groupBy("cid")
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.sum("count").alias("tot"),
                F.count(F.lit(1)).alias("lists"),
            )
            .first()
        )
        artifact[label]["shifted_max_list_share"] = round(
            occ.mx / occ.tot, 3
        )
        artifact[label]["shifted_lists_used"] = int(occ.lists)

    run_index("stale_books", src)
    run_index("retrained_books", drift)

    artifact["note"] = (
        "stale_books = trained on the original corpus only, searching the"
        " combined corpus (the maintained-index-after-drift state);"
        " retrained_books = the C188 epoch-2 rebuild on the combined"
        " corpus. recall*_shifted under stale books is the decay the"
        " retrain path exists to fix; the sweep grid is the r14"
        " verdict's nprobe x shortlist tuning pass — the certified"
        " tuned config (C193 q_ann_ivfpq_tuned) is chosen from it."
    )
    with open(out_json, "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")
    print(json.dumps(artifact))


if __name__ == "__main__":
    main()
