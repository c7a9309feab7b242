"""C134 — INCREMENTAL maintenance of the C132 AggregatingMergeTree
state table by the streaming engine.

C132 builds the daily state table in batch; this module maintains the
SAME states incrementally as events stream in — the ClickHouse
analogue is a materialized view with -State combinators feeding an
AggregatingMergeTree (kafka+clickhouse.md:221-229 is exactly that
machinery for counts). Three streaming aggregations share one replay
wire, each maintained by the state store across micro-batches:

- (day) -> count / milli-sum / min / max        (order-independent)
- (day, hll_idx) -> max rho                     (register slot-max)
- (day, user-digest) -> first-seen              (the distinct set the
  bottom-k is ranked from at drain; production would bound this state
  with the bucketed bottom-k q_stream_kmv already proves — here the
  point is the ALGEBRA, and the driver hash needs the exact k-list)

After the drain, the memory tables are assembled into the identical
state-row schema as operators/agg_state.build_state_table, pushed
through the SAME merge_states + finalize code, and checked against the
SAME DuckDB oracle — so the driver hash certifies the full law:

    streaming-maintained daily states --merge--> weekly
      == batch-built states --merge--> weekly
      == DuckDB recomputing weeks from raw rows.

Every state is a pure function of the row SET (no arrival-order
dependence), which is what makes the replayed stream hash-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_clickhouse_implementation_spark.operators.agg_state import (
    _KMV_K,
    _VM,
    _WEEK_SPARK,
    _oracle_sql,
    finalize,
    merge_states,
)
from kafka_clickhouse_implementation_spark.operators.relational_ext import (
    _HLL_LC,
    _HLL_M,
    _HLL_RHO,
)
from kafka_clickhouse_implementation_spark.operators.sketches import (
    _nibble_value_sql,
)
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire, source_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain


def _value_wire(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The `events` replay in (e_us, user_id) order CARRYING value (the
    shared stateful wire omits it); same immutable-per-source-identity
    cache contract as ordered_event_wire."""
    return source_wire(
        spark, sf_dir, "events", "aggstate", ("e_us", "user_id"),
        lambda ev: ev.select("user_id", "value", F.unix_micros("ts").alias("e_us")),
    )


def _hashed_stream(spark: SparkSession, wire_dir: str) -> DataFrame:
    ev = (
        read_wire(spark, wire_dir)
        .select(
            F.to_date(F.timestamp_micros("e_us")).alias("day"),
            "value",
            F.md5(F.col("user_id").cast("string").cast("binary")).alias("uh"),
        )
    )
    return ev.selectExpr(
        "day",
        "value",
        "uh",
        f"({_nibble_value_sql('uh', 2)}) % {_HLL_M} AS idx",
        f"{_nibble_value_sql('uh', 13, start=3)} AS w",
    ).selectExpr("day", "value", "uh", "idx", f"{_HLL_RHO} AS rho")


@query("q_stream_agg_state", oracle=_oracle_sql())
def q_stream_agg_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C134: the weekly rollup of q_agg_state_merge, but with the daily
    states maintained INCREMENTALLY by three streaming aggregations
    over the replay wire instead of a batch build — same merge, same
    finish, same oracle (see module docstring for the law this
    certifies)."""
    wire_dir, base = _value_wire(spark, sf_dir)
    stream = _hashed_stream(spark, wire_dir)

    nums = stream.groupBy("day").agg(
        F.count(F.lit(1)).alias("s_cnt"),
        F.sum(F.expr(_VM)).cast("long").alias("s_sum"),
        F.min(F.expr(_VM)).alias("s_min"),
        F.max(F.expr(_VM)).alias("s_max"),
    )
    regs = stream.groupBy("day", "idx").agg(F.max("rho").alias("m"))
    dig = stream.groupBy("day", "uh").agg(F.count(F.lit(1)).alias("n_seen"))
    # the three independent state maintainers drain CONCURRENTLY
    # (guide §2.6) — each keeps its own checkpoint, state store and
    # complete-mode output exactly as before; only the driver-side
    # await order changed (r15: 3 sequential micro-batch lifecycles
    # of wall time -> ~1)
    drain(
        spark,
        (nums, "agg_state_nums", os.path.join(base, "ckpt_nums"), "complete"),
        (regs, "agg_state_regs", os.path.join(base, "ckpt_regs"), "complete"),
        (dig, "agg_state_digests", os.path.join(base, "ckpt_digests"), "complete"),
    )

    hll = (
        spark.table("agg_state_regs")
        .groupBy("day")
        .agg(F.expr("map_from_entries(collect_list(struct(idx, m)))").alias("mm"))
        .selectExpr(
            "day",
            f"transform(sequence(0, {_HLL_M - 1}),"
            " s -> coalesce(mm[CAST(s AS BIGINT)], CAST(0 AS BIGINT))) AS s_hll",
        )
    )
    w = Window.partitionBy("day").orderBy("uh")
    kmv = (
        spark.table("agg_state_digests")
        .select("day", "uh")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("day")
        .agg(F.expr("array_sort(collect_list(uh))").alias("s_kmv"))
    )
    daily = spark.table("agg_state_nums").join(hll, "day").join(kmv, "day")

    weekly = merge_states(daily, _WEEK_SPARK)
    lc = (
        f"element_at(array({', '.join(v + 'D' for v in _HLL_LC)}),"
        " CAST(v_zero AS INT))"
    )
    return finalize(weekly, lc, "week").orderBy("week")
