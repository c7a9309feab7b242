"""text_ext invariants: the hash sample must be layout-independent
(the property that df.sample lacks), and bigram generation must not
leave JVM codegen."""

from __future__ import annotations

from kafka_clickhouse_implementation_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def test_stratified_sample_is_layout_independent(spark):
    q = all_queries()["q_stratified_sample"]
    base = {r.lang: (r.n_total, r.n_sampled) for r in q(spark, SF).collect()}
    # same computation over a repartitioned input must sample the same rows
    from kafka_clickhouse_implementation_spark.io import load
    from pyspark.sql import functions as F

    docs = load(spark, SF, "documents").repartition(7)
    keep = (F.col("doc_id") * 2654435761) % 1000 < 200
    again = {
        r.lang: (r.n_total, r.n_sampled)
        for r in docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
        )
        .collect()
    }
    assert base == again
    # a ~20% sample should actually thin every stratum
    for n_total, n_sampled in base.values():
        assert 0 < n_sampled < n_total


def test_bigram_plan_stays_jvm_side_and_prunes(spark):
    """No BatchEvalPython / ArrowEvalPython (bigrams are higher-order
    expressions), and the scan reads only the text column."""
    df = all_queries()["q_bigram_counts"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "ReadSchema: struct<text:string>" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_portable_hll_matches_pure_python_replay(spark):
    """Independent reimplementation of the portable HLL (C31): hashlib
    md5 -> 64 registers -> exact integer harmonic sum -> one IEEE
    division (+ literal linear-counting branch). Register checksums and
    the milli-quantized estimate must match Spark EXACTLY, and the
    estimate must sit within 25% of truth (m=64 -> 13% RSE, ~2sigma)."""
    import hashlib
    import math

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.registry import all_queries

    row = all_queries()["q_hll_sketch_union"](spark, SF).head()

    ev = load(spark, SF, "events").select("user_id").collect()
    regs: dict[int, int] = {}
    users = set()
    for r in ev:
        users.add(r.user_id)
        h = hashlib.md5(str(r.user_id).encode()).hexdigest()
        idx = int(h[:2], 16) % 64
        w = int(h[2:15], 16)
        rho = 53 if w == 0 else 53 - w.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    s_total = sum(1 << (53 - m) for m in regs.values()) + (64 - len(regs)) * (1 << 53)
    alpha = 0.7213 / (1.0 + 1.079 / 64)
    raw = (alpha * 64 * 64 * float(1 << 53)) / float(s_total)
    v_zero = 64 - len(regs)
    est = 64 * math.log(64 / v_zero) if (v_zero > 0 and raw <= 160.0) else raw
    assert row.n_regs == len(regs)
    assert row.reg_sum == sum(regs.values())
    assert row.exact_users == len(users)
    assert row.est_users_milli == math.floor(est * 1000.0)
    assert abs(est - len(users)) / len(users) <= 0.25, (est, len(users))


def test_oneshot_mg_guarantee_and_determinism(spark):
    """The oracle-checked q_heavy_hitters (bucketed one-shot MG) keeps
    the textbook guarantee: every reported est is a lower bound on the
    true count, undercount <= sum over buckets of n_b/(k+1), and the
    true top-5 tokens all surface. A repartitioned re-run returns the
    identical table (layout independence — the property that made the
    oracle upgrade possible)."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.registry import all_queries

    docs = load(spark, SF, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    true_counts = {
        r.token: r.n
        for r in tokens.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(true_counts.values())

    got = [tuple(r) for r in all_queries()["q_heavy_hitters"](spark, SF).collect()]
    # 32 buckets, k=64: undercount is bounded by n/(k+1) summed per
    # bucket, which the whole-corpus bound n_total/(k+1) dominates once
    # per bucket; with 32 buckets the conservative bound is still tight
    bound = n_total / (64 + 1)
    for tok, est in got:
        assert est <= true_counts[tok], (tok, est)
        assert true_counts[tok] - est <= bound, (tok, est, true_counts[tok], bound)
    top5_true = sorted(true_counts, key=lambda t: (-true_counts[t], t))[:5]
    assert set(top5_true) <= {tok for tok, _ in got}

    again = [tuple(r) for r in all_queries()["q_heavy_hitters"](spark, SF).collect()]
    assert got == again
