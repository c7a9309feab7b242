"""C132 AggregatingMergeTree state-table tests: the state algebra must
be associative (merging merged states == merging the originals), and
the state columns must be pure functions of the row set (independent
python replay)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.agg_state import (
    _KMV_K,
    build_state_table,
    merge_states,
)
from tests.conftest import SF_DIR as SF


def _collect_states(df):
    return {
        r.g: (r.s_cnt, r.s_sum, r.s_min, r.s_max, tuple(r.s_hll), tuple(r.s_kmv))
        for r in df.collect()
    }


def test_merge_is_associative(spark):
    """daily -> global must equal daily -> weekly -> global: the
    defining AggregatingMergeTree property (background merges can
    combine parts in any grouping without changing reads)."""
    daily = build_state_table(spark, SF).localCheckpoint()
    direct = _collect_states(merge_states(daily, "CAST(0 AS BIGINT)"))
    weekly = merge_states(
        daily, "CAST(datediff(day, DATE '1970-01-01') AS BIGINT) div 7"
    ).withColumnRenamed("g", "day")
    twice = _collect_states(merge_states(weekly, "CAST(0 AS BIGINT)"))
    assert direct == twice


def test_daily_states_match_python_replay(spark):
    """Every state column is a pure function of the day's row set:
    an independent hashlib/python replay over the raw rows must equal
    the Spark-built daily state table exactly."""
    daily = {
        r.day.isoformat(): (
            r.s_cnt,
            r.s_sum,
            r.s_min,
            r.s_max,
            tuple(r.s_hll),
            tuple(r.s_kmv),
        )
        for r in build_state_table(spark, SF).collect()
    }
    rows = (
        load(spark, SF, "events")
        .selectExpr("CAST(ts AS DATE) AS day", "value", "user_id")
        .collect()
    )
    per_day: dict[str, list] = {}
    for r in rows:
        per_day.setdefault(r.day.isoformat(), []).append((r.value, r.user_id))
    for day, vs in per_day.items():
        vms = [int(math.floor(v * 1000 + 0.5)) for v, _ in vs]
        regs = [0] * 64
        digests = set()
        for _, uid in vs:
            h = hashlib.md5(str(uid).encode()).hexdigest()
            digests.add(h)
            idx = int(h[:2], 16) % 64
            w = int(h[2:15], 16)
            rho = 53 if w == 0 else 53 - w.bit_length()
            regs[idx] = max(regs[idx], rho)
        kmv = tuple(sorted(digests)[:_KMV_K])
        want = (len(vs), sum(vms), min(vms), max(vms), tuple(regs), kmv)
        assert daily[day] == want, day


def test_weekly_rollup_never_rescans_raw(spark):
    """The merge stage's physical plan must read the STATE frame, not
    the events table: scan the executed plan of merge_states over a
    checkpointed state table for parquet scans."""
    daily = build_state_table(spark, SF).localCheckpoint()
    weekly = merge_states(
        daily, "CAST(datediff(day, DATE '1970-01-01') AS BIGINT) div 7"
    )
    plan = weekly._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan


def test_streaming_states_cross_batch_boundaries(spark):
    """C134 contract: the streaming-maintained daily states must equal
    the batch-built state table EXACTLY even when the wire is forced
    through one-file-per-trigger micro-batches (4 files -> 4 batches),
    i.e. the state store genuinely accumulates across batches."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_clickhouse_implementation_spark.operators.agg_state import (
        _VM,
        build_state_table,
    )
    from kafka_clickhouse_implementation_spark.operators.relational_ext import (
        _HLL_M,
    )
    from kafka_clickhouse_implementation_spark.streaming.agg_state_stream import (
        _value_wire,
    )
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    wire_dir, base = _value_wire(spark, SF)
    # read the wire with forced multi-batch replay (the query itself
    # drains availableNow over whole files; _hashed_stream unused here)
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.operators.sketches import (
        _nibble_value_sql,
    )
    from kafka_clickhouse_implementation_spark.operators.relational_ext import (
        _HLL_RHO,
    )

    ev = (
        read_wire(spark, wire_dir, 1)
        .select(
            F.to_date(F.timestamp_micros("e_us")).alias("day"),
            "value",
            F.md5(F.col("user_id").cast("string").cast("binary")).alias("uh"),
        )
        .selectExpr(
            "day", "value", "uh",
            f"({_nibble_value_sql('uh', 2)}) % {_HLL_M} AS idx",
            f"{_nibble_value_sql('uh', 13, start=3)} AS w",
        )
        .selectExpr("day", "value", "uh", "idx", f"{_HLL_RHO} AS rho")
    )
    nums = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("s_cnt"),
        F.sum(F.expr(_VM)).cast("long").alias("s_sum"),
        F.min(F.expr(_VM)).alias("s_min"),
        F.max(F.expr(_VM)).alias("s_max"),
    )
    drain(spark, (nums, "t_mb_nums", os.path.join(base, "ckpt_t_nums"), "complete"))
    regs = ev.groupBy("day", "idx").agg(F.max("rho").alias("m"))
    drain(spark, (regs, "t_mb_regs", os.path.join(base, "ckpt_t_regs"), "complete"))
    dig = ev.groupBy("day", "uh").agg(F.count(F.lit(1)).alias("n"))
    drain(spark, (dig, "t_mb_dig", os.path.join(base, "ckpt_t_dig"), "complete"))

    hll = (
        spark.table("t_mb_regs")
        .groupBy("day")
        .agg(F.expr("map_from_entries(collect_list(struct(idx, m)))").alias("mm"))
        .selectExpr(
            "day",
            f"transform(sequence(0, {_HLL_M - 1}),"
            " s -> coalesce(mm[CAST(s AS BIGINT)], CAST(0 AS BIGINT))) AS s_hll",
        )
    )
    from kafka_clickhouse_implementation_spark.operators.agg_state import _KMV_K

    w = Window.partitionBy("day").orderBy("uh")
    kmv = (
        spark.table("t_mb_dig")
        .select("day", "uh")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("day")
        .agg(F.expr("array_sort(collect_list(uh))").alias("s_kmv"))
    )
    streamed = spark.table("t_mb_nums").join(hll, "day").join(kmv, "day")

    def snap(df):
        return {
            r.day.isoformat(): (
                r.s_cnt, r.s_sum, r.s_min, r.s_max,
                tuple(r.s_hll), tuple(r.s_kmv),
            )
            for r in df.collect()
        }

    assert snap(streamed) == snap(build_state_table(spark, SF))
    # multi-batch actually happened: the wire has 4 data files
    n_files = len([f for f in os.listdir(wire_dir) if f.startswith("part-")])
    assert n_files >= 2


def test_week_key_portable_pre_epoch(spark):
    """Negative-epoch-day portability pin for the weekly rollup key:
    Spark `div` truncates toward zero, and DuckDB's integer `//` ALSO
    truncates (it floors only for FLOAT operands; DATE - DATE is
    BIGINT), so the two engines agree on week keys even for events
    before 1970-01-01. This pins that agreement so a DuckDB semantics
    change (or a refactor to float division) fails loudly."""
    import duckdb

    days = [-15, -8, -7, -6, -1, 0, 1, 6, 7, 8, 15]
    got_spark = [
        r.wk
        for r in spark.sql(
            "SELECT CAST(d AS BIGINT) div 7 AS wk FROM VALUES "
            + ", ".join(f"({d})" for d in days)
            + " AS t(d) ORDER BY d"
        ).collect()
    ]
    got_duck = [
        r[0]
        for r in duckdb.sql(
            "SELECT CAST(d AS BIGINT) // 7 AS wk FROM (VALUES "
            + ", ".join(f"({d})" for d in days)
            + ") t(d) ORDER BY d"
        ).fetchall()
    ]
    trunc = [int(d / 7) for d in sorted(days)]
    assert got_spark == got_duck == trunc

    # the modulo companion (q_kmv_setops' parity key cites this test):
    # both engines use TRUNCATED remainder — sign follows the dividend
    # (-15 % 2 == -1, not +1 as Python's floored % would give)
    mod_spark = [
        r.m
        for r in spark.sql(
            "SELECT CAST(d AS BIGINT) % 2 AS m FROM VALUES "
            + ", ".join(f"({d})" for d in days)
            + " AS t(d) ORDER BY d"
        ).collect()
    ]
    mod_duck = [
        r[0]
        for r in duckdb.sql(
            "SELECT CAST(d AS BIGINT) % 2 AS m FROM (VALUES "
            + ", ".join(f"({d})" for d in days)
            + ") t(d) ORDER BY d"
        ).fetchall()
    ]
    cmod = [d - int(d / 2) * 2 for d in sorted(days)]  # truncated remainder
    assert mod_spark == mod_duck == cmod
