"""Native Structured-Streaming session windows (SURVEY C7's streaming
half) — ``F.session_window`` gap-merging inside the state store, the
operator ClickHouse has no incremental analogue for (its sessionization
re-scans with window functions per query; reference context
kafka+clickhouse.md:240-243 re-reads the raw table for every answer).

Semantics: a session is a maximal run of a user's events where
consecutive gaps are < 30 minutes (an event landing exactly on the gap
boundary starts a new session — session windows are half-open
``[start, last_event + gap)``). The DuckDB oracle states the same rule
with lag/cumulative-sum arithmetic in microseconds.

Output mode: session-window aggregations reject update mode (a session
merge retires old keys, which update sinks can't express), so the
hermetic replay drains in COMPLETE mode — the memory sink then holds
exactly the final merged sessions, including the tail sessions a
watermark would never close. Production over an unbounded stream would
use watermark + append (each session emitted once on close, state
evicted); the operator body is identical.

Scale: state is one (start, end, count) per OPEN session per user,
hash-partitioned by user_id; the gap merge is in-store, no shuffle
beyond the groupBy exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import doubled_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain
from kafka_clickhouse_implementation_spark.streaming.funnel import (
    ordered_event_wire,
    wire_stream,
)

SESSION_GAP = "30 minutes"


def streaming_sessions(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-(user, session) event counts maintained incrementally by the
    native session-window state store. ``events`` needs user_id and a
    ``ts`` timestamp column."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_stream_sum_map",
    # incrementally-maintained (day, type) counts drained complete-mode
    # equal the batch counts exactly, so the batch sumMap oracle
    # hash-checks the streaming state store + the array assembly.
    oracle="""
    WITH per AS (
      SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           string_agg(event_type, ',' ORDER BY event_type) AS type_keys,
           string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY event_type) AS type_counts
    FROM per GROUP BY day
    """,
)
def q_stream_sum_map(spark, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap`` maintained INCREMENTALLY: the streaming
    state store keeps per-(day, event_type) counts across micro-batches
    (complete-mode drain over the shared wire); the per-day sorted
    parallel arrays are assembled from the final counts — #days×#types
    rows, map-side partials before the exchange, same as the batch
    twin (operators/funnels.q_sum_map). Arrays are serialized to
    comma-joined strings at the driver boundary (the correctness
    harness's canonicalizer cannot hash Python lists)."""
    wire_dir, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_summap")
    ev = wire_stream(spark, wire_dir)
    counts = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(F.count("*").alias("cnt"))
    name = "stream_summap_out"
    drain(spark, (counts, name, ckpt, "complete"))
    assembled = (
        spark.table(name)
        .groupBy("day")
        .agg(F.sort_array(F.collect_list(F.struct("event_type", "cnt"))).alias("kv"))
    )
    return assembled.select(
        "day",
        F.concat_ws(
            ",", F.transform("kv", lambda x: x["event_type"])
        ).alias("type_keys"),
        F.concat_ws(
            ",", F.transform("kv", lambda x: x["cnt"].cast("string"))
        ).alias("type_counts"),
    )


@query(
    "q_stream_dedup",
    # After exact-duplicate injection (every ts-slice file replayed
    # again one micro-batch after its original) and watermarked
    # streaming dedup on event_id, the surviving rows are exactly the
    # original events — so plain batch counts per type hash-check the
    # dedup state machine.
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q_stream_dedup(spark, sf_dir: str) -> DataFrame:
    """Hermetic streaming dedup (SURVEY C9/C52, driver-checked): every
    wire file replayed twice with interleaved mtimes (orig_i, dup_i,
    orig_i+1, …) under maxFilesPerTrigger=1, so each event's exact
    duplicate arrives in the NEXT micro-batch and
    ``dropDuplicatesWithinWatermark`` on event_id must hit state
    written by an earlier batch (r5 fix: the former self-union landed
    original and duplicate in the SAME batch, leaving cross-batch
    state carriage unexercised). The drained append stream must
    collapse back to the original per-type counts. State is one
    event_id per event within the watermark horizon, evicted as the
    watermark passes — the reason this scales where an unbounded
    ``dropDuplicates`` would not."""
    wire_dir, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_dedup")
    # interleaved, not after every original: a dup delayed past later
    # slices would be dropped as LATE data instead of exercising the
    # dedup state lookup
    doubled_dir = doubled_wire(wire_dir, os.path.join(base, "wire_doubled"), interleaved=True)
    doubled = wire_stream(spark, doubled_dir, max_files_per_trigger=1)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = "stream_dedup_out"
    drain(spark, (deduped, name, ckpt, "append"))
    return spark.sql(
        f"SELECT event_type, count(*) AS n FROM {name} GROUP BY event_type"
    )


@query(
    "q_stream_join",
    # Inner time-interval join over a finite ordered replay is exactly
    # the batch interval self-join, so the oracle states it directly.
    oracle="""
    SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
)
def q_stream_join(spark, sf_dir: str) -> DataFrame:
    """Hermetic STREAM-STREAM join (SURVEY streaming tier): the view
    stream inner-joins the purchase stream on user_id within a
    30-minute interval — the Structured Streaming two-sided state-store
    join, drained over the shared wire and hash-checked against the
    equivalent batch interval join.

    The replay omits watermarks so the finite drain is exactly the
    batch join (state is bounded by the replay size); an unbounded
    production stream adds ``withWatermark`` on both sides so the state
    store evicts rows older than watermark + interval — the join body
    is unchanged (streaming/pipeline.stream_stream_join carries that
    variant)."""
    wire_dir, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_join")
    ev = wire_stream(spark, wire_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = v.join(
        p,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts"
            " AND p_ts <= v_ts + INTERVAL 30 MINUTES"
        ),
    )
    name = "stream_join_out"
    drain(spark, (joined, name, ckpt, "append"))
    return spark.sql(
        f"SELECT v_user AS user_id, count(*) AS n_pairs FROM {name} GROUP BY v_user"
    )


@query(
    "q_stream_sessions",
    # Gap rule restated in exact integer microseconds; >= because the
    # half-open session window excludes an event exactly gap after the
    # previous one. Every event belongs to exactly one session, so
    # n_events doubles as a conservation check on the state machine.
    oracle="""
    WITH g AS (
      SELECT user_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
                  ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(new_sess) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q_stream_sessions(spark, sf_dir: str) -> DataFrame:
    """Hermetic native-session-window replay: drain the shared ts-sorted
    event wire through ``streaming_sessions`` and reduce the final
    maximal session intervals to per-user (n_sessions, n_events) —
    hash-checked against the batch gap-rule oracle."""
    wire_dir, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_sessions")
    stream = wire_stream(spark, wire_dir)
    name = "stream_sessions_out"
    drain(spark, (streaming_sessions(stream), name, ckpt, "complete"))
    return spark.sql(
        f"""
        SELECT user_id,
               count(*) AS n_sessions,
               sum(n) AS n_events
        FROM {name}
        GROUP BY user_id
        """
    )
