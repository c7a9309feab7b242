"""Extended relational surface — ClickHouse-style aggregate combinators
(argMax, -If conditionals, quantiles) and the join/grouping shapes a
complete engine owes its users beyond SURVEY §2's checklist: pivot,
cube, full-outer/cross joins, correlated EXISTS, scalar subqueries,
union-by-name, as-of join, range join.

The as-of join is the one genuinely custom operator: Spark has no
built-in; it's implemented as a last_value over a key-partitioned,
time-ordered window of the union of both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.functions.numeric import dsum
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.sketches import _nibble_value_sql
from kafka_clickhouse_implementation_spark.registry import query


@query(
    "q_argmax_segment",
    oracle="""
    SELECT c_mktsegment, top_cust, round(top_bal, 2) AS top_bal FROM (
      SELECT c_mktsegment, c_custkey AS top_cust, c_acctbal AS top_bal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      FROM customer
    ) WHERE rn = 1
    """,
)
def q_argmax_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `argMax` parity: per segment, the customer holding the
    max balance — `max_by` over a (balance, key) struct so ties break
    deterministically. Single aggregation pass, no window shuffle."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", F.struct("c_acctbal", "c_custkey")).alias("top_cust"),
        F.round(F.max("c_acctbal"), 2).alias("top_bal"),
    )


@query(
    "q_argmin_first_event",
    oracle="""
    SELECT user_id, first_event_id FROM (
      SELECT user_id, event_id AS first_event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 15
    ) WHERE rn = 1
    """,
)
def q_argmin_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `argMin` parity: each user's first event id by time —
    min_by over a (ts, id) struct, one aggregation pass (no window
    shuffle + filter)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 15)
        .groupBy("user_id")
        .agg(F.min_by("event_id", F.struct("ts", "event_id")).alias("first_event_id"))
    )


@query("q_approx_percentiles")  # no-oracle: t-digest estimates differ across engines
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass fixed-memory percentile sketch — the 100 TB path
    (exact percentiles need a global sort); rows-only check, the exact
    twin q_percentiles is the oracle-checked ground truth. The estimate
    array is unpacked to scalar columns so the result schema stays
    canonicalizer-safe (no ArrayType at the driver boundary)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.approx_percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000).alias(
            "approx_p"
        )
    ).select(
        F.col("approx_p")[0].alias("p50"),
        F.col("approx_p")[1].alias("p90"),
        F.col("approx_p")[2].alias("p99"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — matches quantile_cont).
    At 100 TB prefer approx_percentile (t-digest, one pass, fixed
    memory); exact keeps the oracle checkable."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 2).alias("p99"),
    )


@query(
    "q_corr_cov",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov
    FROM lineitem
    """,
)
def q_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: Pearson correlation and sample covariance."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_cov"),
    )


@query(
    "q_cond_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,8))) FILTER (WHERE l_discount > 0.05), 2) AS DOUBLE)
             AS discounted_revenue,
           CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_bulk,
           (CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,8))) FILTER (WHERE l_tax = 0), 4) AS DOUBLE) / count(*) FILTER (WHERE l_tax = 0)) AS avg_notax_price
    FROM lineitem GROUP BY 1
    """,
)
def q_cond_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sumIf/countIf/avgIf parity: conditional aggregation
    via when() inside the aggregate — one pass, no pre-filter scans."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).cast("decimal(28,8)")), 2
        ).cast("double").alias("discounted_revenue"),
        F.count(F.when(F.col("l_quantity") >= 25, 1)).alias("n_bulk"),
        (
            F.round(F.sum(F.when(F.col("l_tax") == 0, F.col("l_extendedprice")).cast("decimal(28,8)")), 4).cast("double")
            / F.count(F.when(F.col("l_tax") == 0, 1))
        ).alias("avg_notax_price"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(round(coalesce(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(28,8))), 0), 2) AS DOUBLE) AS O,
           CAST(round(coalesce(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(28,8))), 0), 2) AS DOUBLE) AS F
    FROM lineitem GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let pivot scan for
    distinct values at scale — that's an extra full pass)."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,8)")))
    )
    return out.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("O"), F.lit(0)), 2).cast("double").alias("O"),
        F.round(F.coalesce(F.col("F"), F.lit(0)), 2).cast("double").alias("F"),
    )


@query(
    "q_cube",
    oracle="""
    SELECT event_type, d, count(*) AS n
    FROM (SELECT event_type, CAST(day(CAST(ts AS DATE)) AS INTEGER) AS d FROM events)
    GROUP BY CUBE(event_type, d)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all 4 grouping combinations in one shuffle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.dayofmonth(F.to_date("ts")).alias("d"))
        .cube("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_full_outer",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_orders,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers_no_orders
    FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join preserving both unmatched sides."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias("n_orphan_orders"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_customers_no_orders"),
    )


@query(
    "q_cross_join",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           min(r_name || '/' || n_name) AS first_pair
    FROM region CROSS JOIN nation
    """,
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only ever sane between tiny dims."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.concat_ws("/", "r_name", "n_name")).alias("first_pair"),
    )


@query(
    "q_exists_correlated",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_customers_1995
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 1995)
    """,
)
def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (Catalyst decorrelates to a left-semi join)."""
    from kafka_clickhouse_implementation_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT count(*) AS n_customers_1995
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND year(o.o_orderdate) = 1995)
        """
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_above_avg
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (planned as a broadcast of one value)."""
    from kafka_clickhouse_implementation_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT count(*) AS n_above_avg
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        """
    )


@query(
    "q_union_by_name",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(v AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_bal
    FROM (
      SELECT c_custkey AS k, c_acctbal AS v FROM customer
      UNION ALL BY NAME
      SELECT s_acctbal AS v, s_suppkey AS k FROM supplier
    )
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union by column name (schema-aligned, order-independent)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("v"), F.col("s_suppkey").alias("k")
    )
    u = c.unionByName(s)
    return u.agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("v")).alias("total_bal"))


@query(
    "q_collect_tokens",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen
    FROM events WHERE user_id < 10 GROUP BY user_id
    """,
)
def q_collect_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → joined to a deterministic string (raw
    collect_set order is partition-dependent; never emit it unsorted)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_seen")
        )
    )


@query(
    "q_asof_join",
    oracle="""
    SELECT e.event_id, max(o.o_orderdate) AS asof_date
    FROM events e
    LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    WHERE e.user_id < 20
    GROUP BY e.event_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no built-in): for each
    event, the most recent order date at or before the event time for
    that user. Round-11 rewrite (the r10 verdict's last
    Python-in-the-hot-path item): UNION the two sides into one
    (user_id, t, side) stream and take last_value(o_orderdate,
    ignorenulls) over a user-partitioned time-ordered window — orders
    sort BEFORE events at an equal timestamp (side 0 < 1, the
    allow-exact-match convention), so every event row reads the most
    recent order at-or-before it. One shuffle on the key, whole-stage
    codegen end to end, no Python (plan-asserted in
    tests/test_plans.py). The oracle is the equivalent (quadratic)
    max-over-inequality-join."""
    from pyspark.sql import Window as W

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(1).alias("side"),
            "event_id",
            F.lit(None).cast("timestamp").alias("odate"),
        )
    )
    od = (
        load(spark, sf_dir, "orders")
        # orders for keys outside the probe set can never match
        .filter(F.col("o_custkey") < 20)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("t"),
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("o_orderdate").cast("timestamp").alias("odate"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        od.unionByName(ev)
        .withColumn("asof_date", F.last("odate", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("event_id", "asof_date")
    )


@query(
    "q_sliding_window",
    oracle="""
    SELECT ws_epoch, level, count(*) AS n FROM (
      SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS ws_epoch,
             event_type AS level
      FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
      UNION ALL
      SELECT CAST(floor((epoch(ts) - 300) / 600) * 600 + 300 AS BIGINT) AS ws_epoch,
             event_type AS level
      FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ) GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (10-minute windows every 5 minutes) as a
    batch query — each event lands in exactly two windows; Spark's
    window() expands them inline (no self-join). Window starts emitted
    as epoch seconds (engine-portable; no tz-typed timestamps). The
    streaming twin is the same groupBy over readStream (C7)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("event_type").alias("level"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("ws_epoch"), "level", "n")
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern, oracle-checked for transparency: a hot
    grouping key is salted (key, hash%16), partially aggregated per
    salt, then re-aggregated — two small shuffles instead of one skewed
    one. Result is provably identical to the direct groupBy (that's the
    oracle). At 100 TB this is the manual fallback when AQE skew
    handling can't split a single hot aggregation key."""
    ev = load(spark, sf_dir, "events")
    salted = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum(F.col("value").cast("decimal(28,8)")).alias("pv"))
    )
    return (
        salted.groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("pv"), 2).cast("double").alias("total_value"))
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT key, count(*) AS n
    FROM (SELECT unnest(json_keys(props)) AS key FROM events)
    GROUP BY 1
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed decode of the JSON props payload (the reference's
    stringified metadata object, kafka+clickhouse.md:152) → map_keys →
    explode → key frequency."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.explode(
                F.map_keys(F.from_json("props", "map<string,string>"))
            ).alias("key")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(value / 10.0) * 10 AS BIGINT) AS bin_lo, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (ClickHouse histogram() parity, fixed
    bins): floor-bucket + count, one aggregation pass."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select((F.floor(F.col("value") / 10.0) * 10).cast("long").alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_weekly_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
           event_type AS level, count(*) AS total
    FROM events GROUP BY 1, 2
    """,
)
def q_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly rollup via date_trunc (both engines start weeks on
    Monday) — the coarser-grain sibling of the daily MV."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
            F.col("event_type").alias("level"),
        )
        .groupBy("week_start", "level")
        .agg(F.count(F.lit(1)).alias("total"))
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH days AS (
      SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ),
    counts AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE event_type = 'purchase' AND user_id < 5
      GROUP BY 1
    )
    SELECT d.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM days d LEFT JOIN counts c ON d.day = c.day
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `ORDER BY ... WITH FILL` parity: a dense daily time
    axis generated with sequence() + explode, left-joined to the sparse
    counts, gaps filled with 0. The axis is the preserved side of the
    left join, so it cannot be a broadcast build side and carries no
    hint; the counts side is at most one row per day. Gap filling never
    rescans the fact table."""
    ev = load(spark, sf_dir, "events")
    counts = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 5))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    return (
        days.join(counts, "day", "left")
        .select("day", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n"))
    )


@query(
    "q_systematic_sample",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(round(sum(CAST(value AS DECIMAL(28,8))), 2) AS DOUBLE) AS sample_value
    FROM events WHERE event_id % 100 = 0
    """,
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1% systematic sample (key-modulo). TABLESAMPLE is
    engine-random and unreproducible across engines; modulo sampling is
    the reproducible, pushdown-friendly scale alternative."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 100 == 0).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        dsum(F.col("value")).alias("sample_value"),
    )


@query(
    "q_range_join",
    oracle="""
    WITH buckets(name, lo, hi) AS (
      VALUES ('tiny', 0.0, 5.0), ('small', 5.0, 20.0),
             ('mid', 20.0, 60.0), ('large', 60.0, 1e9)
    )
    SELECT b.name, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(e.value AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact values into interval buckets. The bucket
    side is tiny → broadcast nested-loop; at scale with a large interval
    table you'd bin both sides to equi-join keys first."""
    ev = load(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("tiny", 0.0, 5.0), ("small", 5.0, 20.0), ("mid", 20.0, 60.0), ("large", 60.0, 1e9)],
        ["name", "lo", "hi"],
    )
    j = ev.join(
        F.broadcast(buckets),
        (ev.value >= buckets.lo) & (ev.value < buckets.hi),
    )
    return j.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + grouping() ids (B8 went through
    rollup/cube; this is the third, hand-picked-lattice form — what a
    dashboard materializes when it needs exactly these marginals and
    not the full cube). Spark expands it into one Expand + single
    aggregation pass: each input row fans out only to its 3 target
    sets, so the shuffle is 3x rows, not 2^k."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE)
                 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "q_bit_aggs",
    oracle="""
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS mask_and,
           CAST(bit_or(user_id) AS BIGINT) AS mask_or,
           CAST(bit_xor(user_id) AS BIGINT) AS mask_xor
    FROM events GROUP BY event_type
    """,
)
def q_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse groupBitAnd/Or/Xor parity: bitwise aggregation over
    integer ids — exact, associative, order-independent (the same
    property that makes them perfect map-side partials). Used in
    practice for permission-mask folding and parity checksums."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("bit_and(user_id)").alias("mask_and"),
        F.expr("bit_or(user_id)").alias("mask_or"),
        F.expr("bit_xor(user_id)").alias("mask_xor"),
    )


# ---- portable HLL (register-exact, oracle-checked) -------------------
#
# Flajolet et al.'s HyperLogLog rebuilt from engine-portable primitives
# so the WHOLE sketch — register values, zero-register count, and the
# final estimate — is differentially checked against DuckDB:
#   register index = first 2 md5 nibbles mod 64  (256/64 exact -> uniform)
#   rank input w   = next 13 nibbles (52 bits, exactly a double mantissa)
#   rho            = leading-zeros(w in 52 bits) + 1 = 53 - bitlen(w)
#                    (bin() renders identical strings in both engines)
# The harmonic mean is kept EXACT in integers: sum over registers of
# 2^(53 - M_j) fits a BIGINT (<= 64 * 2^53 = 2^59), absent registers
# contribute 2^53 each; the only float ops are one literal division
# and the small-range branch, whose ln() values are COMPILE-TIME
# literals below (V has only 64 possible values), so no engine ever
# evaluates a transcendental at query time.
_HLL_M = 64
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # Flajolet bias constant
_HLL_NUMER = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53))
# linear-counting lookup: est = m * ln(m / V) for V zero registers
_HLL_LC = [repr(_HLL_M * math.log(_HLL_M / v)) for v in range(1, _HLL_M + 1)]
_HLL_RHO = (
    "CASE WHEN w = 0 THEN CAST(53 AS BIGINT)"
    " ELSE CAST(53 - length(bin(w)) AS BIGINT) END"
)
_HLL_FINISH = f"""
      CAST(sum(CAST(1 AS BIGINT) << (53 - m_j)) AS BIGINT)
        + ({_HLL_M} - CAST(count(*) AS BIGINT)) * {1 << 53} AS s_total,
      {_HLL_M} - CAST(count(*) AS BIGINT) AS v_zero,
      CAST(count(*) AS BIGINT) AS n_regs,
      CAST(sum(m_j) AS BIGINT) AS reg_sum
"""


def _hll_estimate_sql(lc_array: str) -> str:
    """Shared estimate expression: raw harmonic-mean estimate with the
    standard small-range (linear counting) branch; quantized to integer
    milli-users by floor AFTER the single IEEE division so both engines
    see bit-identical doubles."""
    raw = f"(CAST({_HLL_NUMER} AS DOUBLE) / CAST(s_total AS DOUBLE))"
    est = (
        f"CASE WHEN v_zero > 0 AND {raw} <= {2.5 * _HLL_M!r}"
        f" THEN CAST({lc_array} AS DOUBLE)"
        f" ELSE {raw} END"
    )
    return f"CAST(floor({est} * 1000.0) AS BIGINT)"


@query(
    "q_hll_sketch_union",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(ts AS DATE) AS day, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ), slotted AS (
      SELECT day,
             ({_nibble_value_sql("h", 2)}) % {_HLL_M} AS idx,
             {_nibble_value_sql("h", 13, start=3)} AS w
      FROM hashed
    ), per_day AS (
      SELECT day, idx, max({_HLL_RHO}) AS m_j
      FROM slotted GROUP BY day, idx
    ), unioned AS (
      SELECT idx, max(m_j) AS m_j FROM per_day GROUP BY idx
    ), finish AS (
      SELECT {_HLL_FINISH} FROM unioned
    ), days AS (
      SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM per_day
    ), exact AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events
    )
    SELECT {_hll_estimate_sql(f"list_extract([{', '.join(_HLL_LC)}], CAST(v_zero AS INT))")}
             AS est_users_milli,
           n_regs, reg_sum, n_days, exact_users
    FROM finish CROSS JOIN days CROSS JOIN exact
    """,
)
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog, value-checked END TO END: per-day register
    vectors (max-rho per slot) are built independently, then UNIONED by
    register max — the real sketch-merge law, same as persisting a few
    hundred bytes per partition at 100 TB and answering any date-range
    distinct count without re-scanning. The driver hash covers the
    register checksum (n_regs, reg_sum), the exact distinct count, and
    the milli-quantized estimate, so a single flipped register bit in
    either engine fails the row. Exact twin q_distinct_users."""
    ev = load(spark, sf_dir, "events")
    slotted = ev.select(
        F.to_date("ts").alias("day"),
        F.md5(F.col("user_id").cast("string").cast("binary")).alias("h"),
    ).selectExpr(
        "day",
        f"({_nibble_value_sql('h', 2)}) % {_HLL_M} AS idx",
        f"{_nibble_value_sql('h', 13, start=3)} AS w",
    )
    per_day = (
        slotted.selectExpr("day", "idx", f"{_HLL_RHO} AS rho")
        .groupBy("day", "idx")
        .agg(F.max("rho").alias("m_j"))
    )
    unioned = per_day.groupBy("idx").agg(F.max("m_j").alias("m_j"))
    finish = unioned.selectExpr("idx", "m_j").agg(
        F.expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - m_j)) AS BIGINT)"
               f" + ({_HLL_M} - count(*)) * {1 << 53}").alias("s_total"),
        F.expr(f"{_HLL_M} - count(*)").alias("v_zero"),
        F.count("*").alias("n_regs"),
        F.sum("m_j").alias("reg_sum"),
    )
    days = per_day.agg(F.countDistinct("day").alias("n_days"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    lc = f"element_at(array({', '.join(v + 'D' for v in _HLL_LC)}), CAST(v_zero AS INT))"
    return (
        finish.crossJoin(F.broadcast(days))
        .crossJoin(F.broadcast(exact))
        .selectExpr(
            f"{_hll_estimate_sql(lc)} AS est_users_milli",
            "n_regs", "reg_sum", "n_days", "exact_users",
        )
    )


@query(
    "q_scd2_join",
    oracle="""
    WITH dim AS (
      SELECT p_partkey, v.v AS version,
             DATE '1995-01-01' + INTERVAL (v.v * 900) DAY AS valid_from,
             DATE '1995-01-01' + INTERVAL ((v.v + 1) * 900) DAY AS valid_to,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) + v.v * 5
                  AS DECIMAL(18,2)) AS price
      FROM part, (SELECT unnest(range(0, 3)) AS v) v
    )
    SELECT CAST(d.version AS INT) AS version,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(d.price AS DECIMAL(28,8)) * l.l_quantity), 2)
                AS DOUBLE) AS priced_revenue
    FROM lineitem l
    JOIN dim d ON d.p_partkey = l.l_partkey
              AND CAST(l.l_shipdate AS DATE) >= d.valid_from
              AND CAST(l.l_shipdate AS DATE) < d.valid_to
    GROUP BY d.version
    """,
)
def q_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 point-in-time join: each fact row joins the ONE
    dimension version whose validity interval contains its event date
    (the as-of-correct price, not today's). The versioned dim is
    synthesized deterministically from `part` (3 versions x 900 days,
    +5 absolute per version) so both engines build the identical table.

    Scale shape: dim is broadcast (versions x parts is still dim-sized);
    the interval predicate rides along the partkey equi-join as a
    post-join filter, so there is no range-join blowup — the standard
    SCD2 pattern. Decimal discipline for the price math throughout."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    dim = part.select(
        "p_partkey",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("version"),
        F.col("p_retailprice").cast("decimal(18,2)").alias("base_price"),
    ).select(
        "p_partkey",
        "version",
        F.expr("date_add(DATE '1995-01-01', version * 900)").alias("valid_from"),
        F.expr("date_add(DATE '1995-01-01', (version + 1) * 900)").alias("valid_to"),
        (F.col("base_price") + F.col("version") * 5)
        .cast("decimal(18,2)").alias("price"),
    )
    j = li.join(
        F.broadcast(dim),
        (li.l_partkey == dim.p_partkey)
        & (F.to_date(li.l_shipdate) >= dim.valid_from)
        & (F.to_date(li.l_shipdate) < dim.valid_to),
    )
    return j.groupBy("version").agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(F.col("price").cast("decimal(28,8)") * F.col("l_quantity")), 2
        ).cast("double").alias("priced_revenue"),
    )
