"""C155 — DSIR importance weighting: full pure-Python replay (exact
ints + pln_py, the third IEEE engine) on the real corpus, plus a
synthetic-corpus property test where the target domain is known by
construction."""

from __future__ import annotations

import collections
import hashlib
import math

import pyarrow.parquet as pq

from kafka_clickhouse_implementation_spark.functions.portable_math import pln_py
from kafka_clickhouse_implementation_spark.operators.dsir import (
    N_BUCKETS,
    TOP_N,
    dsir_scores,
    q_dsir_weights,
)

_HEX = "0123456789abcdef"


def _bucket_py(feat: str) -> int:
    h = hashlib.md5(feat.encode()).hexdigest()
    return (
        (_HEX.index(h[0])) * 256 + (_HEX.index(h[1])) * 16 + _HEX.index(h[2])
    )


def _replay(rows):
    """rows: (doc_id, source, text). Returns {doc_id: (score_nano,
    n_feats)} for docs with >= 1 feature."""
    dfc: dict[tuple[int, int], int] = collections.Counter()
    for d, _src, text in rows:
        t = text.split(" ")
        for w in t:
            if w:
                dfc[(d, _bucket_py(w))] += 1
        for i in range(len(t) - 1):
            if t[i] and t[i + 1]:
                dfc[(d, _bucket_py(t[i] + "_" + t[i + 1]))] += 1
    tgt_src = min(src for _, src, _t in rows)
    tgt = {d for d, src, _t in rows if src == tgt_src}
    cs: dict[int, int] = collections.Counter()
    ct: dict[int, int] = collections.Counter()
    for (d, b), n in dfc.items():
        cs[b] += n
        if d in tgt:
            ct[b] += n
    tots = sum(cs.values())
    tott = sum(ct.values())
    llr = {}
    for b in cs:
        pt = float(ct.get(b, 0) + 1) / float(tott + N_BUCKETS)
        ps = float(cs[b] + 1) / float(tots + N_BUCKETS)
        llr[b] = math.floor((pln_py(pt) - pln_py(ps)) * 1.0e9)
    out: dict[int, list[int]] = collections.defaultdict(lambda: [0, 0])
    for (d, b), n in dfc.items():
        out[d][0] += n * llr[b]
        out[d][1] += n
    return {d: tuple(v) for d, v in out.items()}


def test_dsir_matches_python_replay(spark, sf_dir):
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    rows = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("source").to_pylist(),
            tbl.column("text").to_pylist(),
        )
    )
    want_scores = _replay(rows)
    got = {
        r.doc_id: (r.score_nano, r.n_feats)
        for r in dsir_scores(
            spark.createDataFrame(rows, "doc_id long, source string, text string")
        ).collect()
    }
    assert got == want_scores

    # and the registered query's cut = top-TOP_N of the replay ranking
    want_top = sorted(
        ((d, s, n) for d, (s, n) in want_scores.items()),
        key=lambda r: (-r[1], r[0]),
    )[:TOP_N]
    got_top = [
        (r.doc_id, r.score_nano, r.n_feats)
        for r in q_dsir_weights(spark, sf_dir).orderBy("rnk").collect()
    ]
    assert got_top == want_top


def test_dsir_prefers_target_domain(spark):
    """Synthetic corpus: source 'a' docs share a private vocabulary,
    source 'b' docs another. Target = min(source) = 'a', so every 'a'
    doc must out-score every 'b' doc — and a mixed doc sits between."""
    rows = []
    for i in range(10):
        rows.append((i, "a", f"alpha aardvark anchor tone{i % 3}"))
    for i in range(10):
        rows.append((100 + i, "b", f"beta bison burrow tone{i % 3}"))
    rows.append((200, "b", "alpha aardvark beta bison"))  # mixed
    sdf = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.doc_id: r.score_nano for r in dsir_scores(sdf).collect()}
    a_min = min(got[i] for i in range(10))
    b_max = max(got[100 + i] for i in range(10))
    assert a_min > b_max
    assert b_max < got[200] < a_min


def test_stream_dsir_state_matches_batch_and_needs_dedup(spark):
    """C157: (a) the drained feature state equals batch doc_features
    exactly; (b) without the dropDuplicates stage every count doubles
    (the wire's duplicate files reach the counting state) — and the
    doubled counts do NOT cancel in the smoothed score ratios, so the
    dedup state is load-bearing for the DSIR hash."""
    import os

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.dsir import (
        _FEATS_EXPR,
        _bucket,
        doc_features,
        q_stream_dsir,
    )
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    q_stream_dsir(spark, SF_DIR)  # writes the dsir_dfc_table file drain
    _wire, _base = document_wire(spark, SF_DIR)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(_base, "dsir_dfc_table"))
            .select("doc_id", "b", "cnt")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, doc_features(load(spark, SF_DIR, "documents")).collect())
    )
    assert got == want

    wire, base = document_wire(spark, SF_DIR)
    nodedup = (
        read_wire(spark, wire, 4)
        .select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.explode(F.expr(_FEATS_EXPR)).alias("feat"))
        .selectExpr("doc_id", f"{_bucket('feat')} AS b")
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    drain(
        spark,
        (
            nodedup, "stream_dsir_dfc_nodedup",
            os.path.join(base, "ckpt_dsir_dfc_nodedup"), "complete",
        ),
    )
    got2 = sorted(map(tuple, spark.table("stream_dsir_dfc_nodedup").collect()))
    assert got2 == sorted((d, b, 2 * n) for d, b, n in want)


def test_dsir_tiers_partition_the_corpus(spark, sf_dir):
    """C163: the four tiers partition the scored docs; tier boundaries
    respect the quartile ordering (max of tier k < min of tier k+2's
    range via the fences); doc counts per tier are near-balanced
    (exact quartiles => within 1 of n/4 up to ties)."""
    from kafka_clickhouse_implementation_spark.operators.dsir import (
        dsir_scores,
        q_dsir_tiers,
    )
    from kafka_clickhouse_implementation_spark.io import load

    rows = {r.tier: r for r in q_dsir_tiers(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2, 3}
    n_total = dsir_scores(load(spark, sf_dir, "documents")).count()
    assert sum(r.n_docs for r in rows.values()) == n_total
    for t in (0, 1, 2):
        assert rows[t].max_score <= rows[t + 1].min_score
