"""Driver-checkable watermark semantics — SURVEY C8 (late-data drop)
and C55 (stateful TTL eviction) proven against arithmetic DuckDB
oracles, not just pytest.

Both queries restate Spark's watermark state machine exactly:

- The global watermark applied while processing batch k derives from
  the max event-time over batches <= k-2 (``floor(max_us/1000) ms -
  delay``; floor-to-ms happens per event inside EventTimeStatsAccum,
  and max-of-floors == floor-of-max). The one-EXTRA-batch lag (k-2,
  not k-1) is Spark's planned-offsets behavior under AvailableNow,
  established empirically with a crafted 4-file wire; the sf-level
  oracle match across every chunk boundary re-confirms it per run.
- A late row is dropped from a windowed aggregation iff its window END
  (ms) is <= that watermark (probed: end == wm drops).
- An event-time timeout fires iff its stamp (ms) is STRICTLY below the
  watermark (probed empirically: stamp == watermark does NOT fire), and
  under Trigger.AvailableNow a trailing no-data micro-batch runs
  timeout processing at the final watermark (also probed).

To make "which batch saw which row" deterministic (the part a
file-source replay normally leaves to sampling-based range partitioning
and mtime races), ``q_stream_late_drop`` builds its own wire: one JSON
file per 7-day ARRIVAL chunk with strictly increasing mtimes +
``maxFilesPerTrigger=1``, so batch k == chunk k, and the oracle can
reconstruct every watermark with integer arithmetic. Lateness is
injected deterministically: cohort ``user_id % 10 == 7`` has its EVENT
time shifted 10 days earlier while arriving per its original timestamp
(the shift must exceed the chunk length plus the lag-2 watermark
horizon, or nothing is ever late).

``q_stream_funnel_ttl`` needs no chunk determinism: the TTL (8 days)
exceeds the maximum within-user event gap (~5.9 days at sf0.1), so no
funnel can expire BETWEEN two of its user's events (the watermark never
exceeds an unprocessed file's minimum event time in a ts-ordered wire);
expiry is therefore decided solely by the FINAL watermark — a
file-boundary-independent rule the oracle states per user. A cohort
(``user_id % 7 == 3``) is truncated 12 days before stream end to make
the expired/active split non-trivial (untruncated users are all active
through stream end in this dataset).

Reference anchor: the MV's per-insert-block incremental semantics and
late-arrival behavior (kafka+clickhouse.md:221-229, 447-449) — the
reference recomputes daily counts per inserted block with NO late-data
bound; the watermark is what makes the same rollup state-bounded on an
unbounded stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire, source_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain
from kafka_clickhouse_implementation_spark.streaming.funnel import (
    streaming_funnel_levels_ttl,
)

CHUNK_US = 7 * 86400 * 1_000_000  # one wire file per 7-day arrival chunk
LATE_SHIFT_US = 10 * 86400 * 1_000_000  # cohort events arrive 10 days late
# (must exceed chunk length + the lag-2 watermark horizon, ~7 d + 1 h,
#  or nothing is ever late and the oracle equivalence is vacuous)
LATE_DELAY_MS = 3_600_000  # withWatermark("ets", "1 hour")

TTL_US = 8 * 86400 * 1_000_000  # > max within-user gap at every sf
TRUNCATE_DAYS_US = 12 * 86400 * 1_000_000


def chunked_late_wire(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One JSON wire file per 7-day arrival chunk, in chunk order, plus
    a far-future flush sentinel as the last file (it pushes the final
    watermark past every real window so every kept window is emitted
    in append mode). The sentinel is one more row, in a chunk of its
    own 30 days past the max ARRIVAL time, so the one Spark write
    produces it too."""

    def rows(ev: DataFrame) -> DataFrame:
        shifted = ev.select(
            F.expr(f"unix_micros(ts) div {CHUNK_US}").alias("chunk"),
            "event_type",
            F.when(
                F.col("user_id") % 10 == 7,
                F.unix_micros("ts") - F.lit(LATE_SHIFT_US),
            )
            .otherwise(F.unix_micros("ts"))
            .alias("e_us"),
        )
        flush = ev.agg(
            (F.max(F.unix_micros("ts")) + F.lit(30 * 86400 * 1_000_000)).alias("e_us")
        ).select(
            F.expr(f"e_us div {CHUNK_US}").alias("chunk"),
            F.lit("__flush").alias("event_type"),
            "e_us",
        )
        return shifted.unionByName(flush)

    return source_wire(spark, sf_dir, "events", "latedrop1", ("e_us",), rows, split="chunk")


@query(
    "q_stream_late_drop",
    # Integer-ms reconstruction of Spark's watermark machine: per-chunk
    # floor-to-ms event-time maxima, running max over PRIOR chunks,
    # minus the 1 h delay; a row survives iff its daily window end (ms)
    # exceeds its batch-start watermark. NULL watermark = first batch
    # (nothing is ever late in batch 0).
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             CASE WHEN user_id % 10 = 7
                  THEN epoch_us(ts) - {LATE_SHIFT_US}
                  ELSE epoch_us(ts) END AS e_us,
             epoch_us(ts) // {CHUNK_US} AS chunk
      FROM events
    ), cm AS (
      SELECT chunk, max(e_us) // 1000 AS mx_ms FROM ev GROUP BY chunk
    ), wm AS (
      SELECT chunk,
             max(mx_ms) OVER (ORDER BY chunk
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - {LATE_DELAY_MS} AS wm_ms
      FROM cm
    ), kept AS (
      SELECT e.event_type, e.e_us
      FROM ev e JOIN wm w USING (chunk)
      WHERE w.wm_ms IS NULL
         OR ((e.e_us // 86400000000) * 86400000 + 86400000) > w.wm_ms
    )
    SELECT CAST(make_timestamp(e_us) AS DATE) AS day,
           event_type AS level,
           CAST(count(*) AS BIGINT) AS total
    FROM kept GROUP BY 1, 2
    """,
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 driver-checked: daily windowed counts under a 1-hour watermark
    over a deterministically chunked replay where the user_id%10==7
    cohort's events arrive 10 days late (event time shifted back, arrival
    order unchanged). Append mode: the memory sink holds exactly the
    closed windows built from the non-dropped rows; the flush sentinel
    closes every real window. State is one (window, type) count row per
    day x type within the watermark horizon — O(days x types), evicted
    as the watermark passes."""
    wire, base = chunked_late_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_latedrop")
    stream = (
        read_wire(spark, wire, 1)
        .select("event_type", F.timestamp_micros("e_us").alias("ets"))
    )
    agg = (
        stream.withWatermark("ets", "1 hour")
        .groupBy(F.window("ets", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("total"))
    )
    name = "stream_late_drop_out"
    drain(spark, (agg, name, ckpt, "append"))
    return (
        spark.table(name)
        .filter(F.col("event_type") != "__flush")
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            F.col("event_type").alias("level"),
            F.col("total"),
        )
    )


def truncated_ttl_wire(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The `events` replay in (e_us, event_id) order with the
    user_id%7==3 cohort truncated 12 days before stream end — the
    cohort whose funnels the TTL must evict."""

    def kept(ev: DataFrame) -> DataFrame:
        mx = ev.agg(F.max(F.unix_micros("ts")).alias("mx_us"))
        return (
            ev.crossJoin(F.broadcast(mx))
            .filter(
                ~(
                    (F.col("user_id") % 7 == 3)
                    & (F.unix_micros("ts") > F.col("mx_us") - F.lit(TRUNCATE_DAYS_US))
                )
            )
            .select(
                "user_id", "event_id", "event_type",
                F.unix_micros("ts").alias("e_us"),
            )
        )

    return source_wire(spark, sf_dir, "events", "funnelttl1", ("e_us", "event_id"), kept)


@query(
    "q_stream_funnel_ttl",
    # Expiry rule restated arithmetically: a funnel expires iff its
    # timeout stamp (last event us + TTL, floored to ms — exactly what
    # _make_update_ttl stamps) is STRICTLY below the final watermark
    # (global max event-time us floored to ms, delay 0). No funnel can
    # expire mid-stream: TTL (8 d) > max within-user gap (~5.9 d), and
    # in a ts-ordered wire the watermark never exceeds an unprocessed
    # event's time. Funnel levels are the batch chain over the same
    # truncated event set.
    oracle=f"""
    WITH base AS (
      SELECT * FROM events
      WHERE NOT (user_id % 7 = 3
                 AND epoch_us(ts) > (SELECT max(epoch_us(ts)) FROM events)
                                      - {TRUNCATE_DAYS_US})
    ), w1 AS (
      SELECT user_id, event_type, epoch_us(ts) AS e_us,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS t1
      FROM base
    ), w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND e_us > t1 THEN e_us END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w1
    ), w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND e_us > t2 THEN e_us END)
                  OVER (PARTITION BY user_id) AS t3
      FROM w2
    ), per_user AS (
      SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3,
             max(e_us) AS last_us
      FROM w3 GROUP BY user_id
    ), lv AS (
      SELECT user_id,
             CAST(CASE WHEN t1 IS NULL THEN 0
                  WHEN t3 IS NOT NULL AND t3 - t1 <= {6 * 3600 * 1_000_000} THEN 3
                  WHEN t2 IS NOT NULL AND t2 - t1 <= {6 * 3600 * 1_000_000} THEN 2
                  ELSE 1 END AS INT) AS funnel_level,
             ((last_us + {TTL_US}) // 1000)
               < ((SELECT max(e_us) FROM w1) // 1000) AS expired
      FROM per_user
    )
    SELECT funnel_level, expired, CAST(count(*) AS BIGINT) AS n_users
    FROM lv GROUP BY 1, 2
    """,
)
def q_stream_funnel_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C55 driver-checked: the TTL funnel (streaming/funnel.py
    streaming_funnel_levels_ttl) over a hermetic ts-ordered wire where
    the user_id%7==3 cohort goes silent 12 days before stream end.
    Their funnels are evicted (expired=true, state removed — the
    bounded-by-ACTIVE-users property) by the trailing no-data batch's
    timeout pass; everyone else stays live. Update-mode drain: the last
    emission per user is its terminal (level, expired) — levels are
    monotone and the expired emission is final."""
    wire, base = truncated_ttl_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_ttl")
    stream = (
        read_wire(spark, wire)
        .select(
            "user_id", "event_id", "event_type",
            F.timestamp_micros("e_us").alias("ts"),
        )
    )
    out = streaming_funnel_levels_ttl(stream, ttl_us=TTL_US)
    name = "stream_funnel_ttl_out"
    drain(spark, (out, name, ckpt, "update"))
    final = spark.table(name).groupBy("user_id").agg(
        F.max("funnel_level").alias("funnel_level"),
        F.max("expired").alias("expired"),
    )
    return (
        final.groupBy("funnel_level", "expired")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
