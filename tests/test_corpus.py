"""Tests for the composed corpus-cleaning pipeline on crafted docs with
known duplicates."""

from __future__ import annotations

from kafka_clickhouse_implementation_spark.pipelines.corpus import (
    _clean_counts,
    exact_dedup,
    quality_filter,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today " * 2
    near = base.replace("today", "tonight")
    rows = [
        (0, base.strip(), "en", "s", len(base)),
        (1, base.strip(), "en", "s", len(base)),          # exact dup of 0
        (2, near.strip(), "en", "s", len(near)),          # near dup of 0
        (3, "completely different words here about spark engines and parquet files", "en", "s", 60),
        (4, "tiny", "en", "s", 4),                        # fails quality gate
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_quality_filter_drops_short(spark):
    docs = _docs(spark)
    kept = {r["doc_id"] for r in quality_filter(docs).collect()}
    assert 4 not in kept and 0 in kept


def test_exact_dedup_keeps_lowest_id(spark):
    docs = _docs(spark)
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert 0 in kept and 1 not in kept
    assert {2, 3, 4} <= kept


def test_clean_corpus_funnel(spark):
    s = _clean_counts(_docs(spark)).head()
    assert s["n_raw"] == 5
    assert s["n_after_quality"] == 4
    assert s["n_after_exact_dedup"] == 3
    assert s["n_after_near_dedup"] == 3
    assert s["n_unconverged"] == 0


def test_kn_gate_matches_python_replay(spark, sf_dir):
    """C144's quality stage: the KN-gated keep set over the real
    sf0.001 corpus must equal a pure-Python exact-integer replay of
    the even-half-trained model scoring EVERY >=2-token doc, gated on
    mean micro-probability >= KN_GATE_MICRO — and the gate must be
    meaningful (keeps some docs, drops some docs)."""
    import collections

    import pyarrow.parquet as pq

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.pipelines.corpus import (
        KN_GATE_MICRO,
        kn_quality_gate,
    )

    tab = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    rows = list(zip(tab["doc_id"].to_pylist(), tab["text"].to_pylist()))
    bgc: collections.Counter = collections.Counter()
    for did, text in rows:
        toks = text.split(" ")
        if did % 2 == 0 and len(toks) >= 2:
            bgc.update(zip(toks, toks[1:]))
    c1: collections.Counter = collections.Counter()
    n1: collections.Counter = collections.Counter()
    ncont: collections.Counter = collections.Counter()
    for (w1, w2), c in bgc.items():
        c1[w1] += c
        n1[w1] += 1
        ncont[w2] += 1
    nt = len(bgc)

    want: set = set()
    for did, text in rows:
        toks = text.split(" ")
        if len(toks) < 2:
            continue
        sp = sc = 0
        for w1, w2 in zip(toks, toks[1:]):
            if w1 in c1:
                num = (max(4 * bgc.get((w1, w2), 0) - 3, 0) * nt
                       + 3 * n1[w1] * ncont.get(w2, 0))
                p = (1_000_000 * num) // (4 * c1[w1] * nt)
            else:
                p = (1_000_000 * ncont.get(w2, 0)) // nt
            sp += p
            sc += 1
        if sp // sc >= KN_GATE_MICRO:
            want.add(did)

    docs = load(spark, sf_dir, "documents")
    got = {r.doc_id for r in kn_quality_gate(docs).select("doc_id").collect()}
    assert got == want
    assert 0 < len(got) < len(rows)


def test_funnel_twin_matches_pipeline_counts(spark, tmp_path):
    """q_corpus_funnel (single-scan flag agg) must agree with the
    pipeline's own per-stage counts on the deterministic stages."""
    docs = _docs(spark)
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    from kafka_clickhouse_implementation_spark.registry import all_queries

    row = all_queries()["q_corpus_funnel"](spark, str(tmp_path)).head()
    s = _clean_counts(docs).head()
    assert (row["n_raw"], row["n_after_quality"], row["n_after_exact_dedup"]) == (
        s["n_raw"],
        s["n_after_quality"],
        s["n_after_exact_dedup"],
    )


def test_corpus_export_ships_exactly_the_kept_set(spark, sf_dir):
    """C165: the written product's rows are exactly the composed
    clean's survivors — read-back 'kept' rows match C149's
    n_after_near_dedup, the four reasons partition the slice, every
    kept row labels a real cluster (comp <= doc_id, min-id convention),
    and the WRITTEN FILES contain only kept doc_ids with the fp of
    their text column."""
    import pyspark.sql.functions as F

    from kafka_clickhouse_implementation_spark.cachedirs import product_dir
    from kafka_clickhouse_implementation_spark.pipelines.corpus import (
        EXPORT_SLICE_MOD,
        q_corpus_clean_clipped_sampled,
        q_corpus_export,
    )

    audit = q_corpus_export(spark, sf_dir).cache()
    funnel = q_corpus_clean_clipped_sampled(spark, sf_dir).head()
    by_reason = {
        r["reason"]: r["n"]
        for r in audit.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    assert by_reason.get("kept", 0) == funnel["n_after_near_dedup"]
    assert sum(by_reason.values()) == funnel["n_raw"]
    assert (
        by_reason.get("kept", 0) + by_reason.get("near_dup", 0)
        == funnel["n_after_exact_dedup"]
    )
    # cluster labels follow the min-id convention; dropped-before-CC rows carry NULL
    assert audit.filter("reason = 'kept' AND (comp IS NULL OR comp > doc_id)").count() == 0
    assert audit.filter("reason IN ('quality', 'exact_dup') AND comp IS NOT NULL").count() == 0
    # the files themselves: only kept ids, fp(text-on-disk) matches the audit
    out = product_dir("corpus_export", sf_dir, "documents")
    files = spark.read.option("basePath", out).parquet(out)
    kept_ids = {r["doc_id"] for r in audit.filter("reason = 'kept'").collect()}
    assert {r["doc_id"] for r in files.select("doc_id").collect()} == kept_ids
    assert all(r["doc_id"] % EXPORT_SLICE_MOD == 0 for r in files.select("doc_id").collect())
    onfp = files.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp_disk")
    ).join(audit.select("doc_id", "fp"), "doc_id")
    assert onfp.filter("fp_disk <> fp").count() == 0
    audit.unpersist()


def test_pair_product_restriction_equals_direct(spark):
    """r15 pair-product soundness: for the NB-gated kept set S, the
    persisted full-corpus pair frame restricted to S×S equals the pair
    frame computed directly over S — the pair-locality property the
    shared product rests on (minhash signatures, band keys, and exact
    Jaccard are all independent of which other docs exist)."""
    import os

    import pyspark.sql.functions as F

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.minhash_portable import (
        verified_pairs,
    )
    from kafka_clickhouse_implementation_spark.operators.dsir import (
        features_product,
    )
    from kafka_clickhouse_implementation_spark.pipelines.corpus import (
        _restrict_pairs,
        exact_dedup,
        nb_quality_gate,
        neardup_pairs_product,
    )

    from kafka_clickhouse_implementation_spark.pipelines.corpus import (
        quality_filter,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load(spark, sf_dir, "documents")
    product = neardup_pairs_product(spark, sf_dir)
    assert product.count() > 0  # non-vacuous product
    dfc = features_product(spark, sf_dir)
    for gate in (
        quality_filter,
        lambda d: nb_quality_gate(d, dfc=dfc),
    ):
        kept = exact_dedup(gate(docs)).localCheckpoint()
        direct = sorted(
            map(tuple, verified_pairs(kept.select("doc_id", "text")).collect())
        )
        via_product = sorted(
            map(
                tuple,
                _restrict_pairs(product, kept.select("doc_id")).collect(),
            )
        )
        assert direct == via_product
    # non-vacuous restriction: the heuristic-gated set keeps near-dup
    # mass at this SF (the NB gate's kept set may legitimately have 0)
    heur = exact_dedup(quality_filter(docs))
    assert _restrict_pairs(product, heur.select("doc_id")).count() > 0
