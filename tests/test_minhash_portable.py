"""Portable MinHash-LSH: recall against exact ground truth, and the
banding S-curve's determinism across runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.minhash_portable import (
    JACCARD_T,
    _shingles,
    minhash_candidate_pairs,
)

SF = "/root/testdata/sf0.001"


def _exact_pairs(spark, docs):
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        sa.join(sb, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_int"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return {
        (r.doc_a, r.doc_b)
        for r in inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("j", F.col("n_int") / (F.col("na") + F.col("nb") - F.col("n_int")))
        .filter(F.col("j") >= JACCARD_T)
        .collect()
    }


def test_lsh_recall_against_exact_ground_truth(spark):
    """P[candidate | J>=0.8] ~ 0.98 with 4x4 banding; require >= 0.8
    recall on the real corpus slice (deterministic, so no flake)."""
    docs = load(spark, SF, "documents")
    truth = _exact_pairs(spark, docs)
    assert truth, "ground truth empty — test corpus changed?"
    found = {
        (r.doc_a, r.doc_b) for r in minhash_candidate_pairs(docs).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, (recall, len(truth))


def test_candidates_deterministic_across_runs(spark):
    docs = load(spark, SF, "documents")
    one = {(r.doc_a, r.doc_b) for r in minhash_candidate_pairs(docs).collect()}
    two = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(docs.repartition(13)).collect()
    }
    assert one == two


def test_minhash_plan_has_no_cartesian_and_prunes(spark):
    """Candidate generation must be the (band, bucket) equi-join —
    never a cross product — and every documents scan must read only
    (doc_id, text)."""
    from kafka_clickhouse_implementation_spark.registry import all_queries

    df = all_queries()["q_minhash_portable"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "FileScan parquet" in line and "documents" in line:
            assert "ReadSchema: struct<doc_id:bigint,text:string>" in line, line


def test_portable_simhash_similarity_property(spark):
    """Exact dup -> identical fingerprint; near-dup (one token swapped)
    -> small Hamming distance; unrelated doc -> large distance."""
    words = ("spark merge window table hash join scan filter group sort batch "
             "stream column row vector index shard level depth token corpus "
             "sample metric graph node edge label weight score rank")
    base = words  # 30 distinct tokens
    near = base.replace("filter", "select", 1)
    other = " ".join(w + "x" for w in words.split())  # fully disjoint vocab
    docs = spark.createDataFrame(
        [(0, base.strip(), "en", "s", 1), (1, base.strip(), "en", "s", 1),
         (2, near.strip(), "en", "s", 1), (3, other.strip(), "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        from kafka_clickhouse_implementation_spark.registry import all_queries

        fp = {r.doc_id: r.simhash16 for r in
              all_queries()["q_simhash_portable"](spark, d).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert fp[0] == fp[1]
    # 30-token docs: one swapped token moves few bit-sums past zero,
    # a disjoint vocab re-rolls every bit (verified offline: 1 vs 6)
    assert ham(fp[0], fp[2]) < ham(fp[0], fp[3]), fp


def test_verified_pairs_drops_broadcast_hints_past_the_gate(spark, monkeypatch):
    """verified_pairs hints the candidate pair list (and its doc set)
    broadcast only while the list is under the shared driver gate.
    With size-based broadcasting off, the hints are the only source of
    a BroadcastExchange: present under the gate, gone past it — and the
    verified pairs are identical either way."""
    from kafka_clickhouse_implementation_spark import gate
    from kafka_clickhouse_implementation_spark.operators.minhash_portable import (
        verified_pairs,
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    docs = load(spark, SF, "documents")
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        hinted = verified_pairs(docs)
        assert "BroadcastExchange" in plan(hinted)
        monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
        plain = verified_pairs(docs)
        assert "BroadcastExchange" not in plan(plain)
        got = sorted(map(tuple, plain.collect()))
        assert got and got == sorted(map(tuple, hinted.collect()))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
