"""Stateful streaming funnel — the incremental twin of
operators/funnels.funnel_levels, maintained per-user across
micro-batches with ``applyInPandasWithState``.

This is the operator class ClickHouse's ``windowFunnel`` cannot do
incrementally (it re-scans on every query); here the funnel chain
(first view -> first later click -> first later purchase) is a 3-long
state tuple per user, updated as events stream in and emitted in
update mode. Funnel level is monotone non-decreasing over a user's
stream (stage timestamps only ever get set), so the latest emission per
user IS the current level — consumers can upsert by user_id.

Semantics contract (tested): when each user's events arrive in
timestamp order (within-batch disorder is fine — batches are sorted in
the operator), the drained stream's final levels equal the batch
``funnel_levels`` result exactly.

Scale: state is 24 bytes/user + store overhead, partitioned by the
groupBy(user_id) hash — no global structure, no re-scan; watermark/TTL
plugs into GroupStateTimeout if abandoned funnels should expire.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_clickhouse_implementation_spark.operators.funnels import FUNNEL_WINDOW_US

_UNSET = 0  # event times are positive epoch-micros, 0 is safely "unset"


def _level(t1: int, t2: int, t3: int, window_us: int) -> int:
    if t1 == _UNSET:
        return 0
    if t3 != _UNSET and t3 - t1 <= window_us:
        return 3
    if t2 != _UNSET and t2 - t1 <= window_us:
        return 2
    return 1


def _fold_chain(
    t1: int, t2: int, t3: int, batches: Iterator[pd.DataFrame]
) -> tuple[int, int, int, int]:
    """Advance the (t1, t2, t3) funnel state tuple over one micro-batch
    group: sort the batch (within-batch disorder is allowed), then apply
    the same chain as the batch operator's min/min-after/min-after — in
    arrival order, the first qualifying event IS that min. Shared by the
    plain and TTL update functions so a semantics tweak can never desync
    them (round-3 ADVICE). Returns the new tuple plus the batch's max
    event time (for TTL stamping)."""
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values(["e_us", "event_id"])
    for e_us, et in zip(pdf["e_us"], pdf["event_type"]):
        if et == "view" and t1 == _UNSET:
            t1 = int(e_us)
        elif et == "click" and t1 != _UNSET and t2 == _UNSET and e_us > t1:
            t2 = int(e_us)
        elif et == "purchase" and t2 != _UNSET and t3 == _UNSET and e_us > t2:
            t3 = int(e_us)
    return t1, t2, t3, int(pdf["e_us"].max())


def _make_update(window_us: int):
    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        t1, t2, t3 = state.get if state.exists else (_UNSET, _UNSET, _UNSET)
        t1, t2, t3, _ = _fold_chain(t1, t2, t3, batches)
        state.update((t1, t2, t3))
        yield pd.DataFrame(
            {"user_id": [user_id], "funnel_level": [_level(t1, t2, t3, window_us)]}
        )

    return update


def streaming_funnel_levels(
    events: DataFrame, window_us: int = FUNNEL_WINDOW_US
) -> DataFrame:
    """Streaming (user_id, funnel_level) updates. ``events`` needs
    user_id, event_id, event_type, and a ``ts`` timestamp column."""
    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("e_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_update(window_us),
        outputStructType="user_id long, funnel_level int",
        stateStructType="t1 long, t2 long, t3 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _make_update_ttl(window_us: int, ttl_us: int):
    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # abandoned funnel: emit its terminal level and free the state
            t1, t2, t3 = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "funnel_level": [_level(t1, t2, t3, window_us)],
                    "expired": [True],
                }
            )
            return
        t1, t2, t3 = state.get if state.exists else (_UNSET, _UNSET, _UNSET)
        t1, t2, t3, last_us = _fold_chain(t1, t2, t3, batches)
        state.update((t1, t2, t3))
        # expire this funnel if no activity for ttl past its latest event
        # (event-time clock: fires once the WATERMARK passes the stamp)
        state.setTimeoutTimestamp((last_us + ttl_us) // 1000)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "funnel_level": [_level(t1, t2, t3, window_us)],
                "expired": [False],
            }
        )

    return update


def streaming_funnel_levels_ttl(
    events: DataFrame,
    window_us: int = FUNNEL_WINDOW_US,
    ttl_us: int = 3_600_000_000,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Funnel state with TTL eviction — the production variant for an
    unbounded user population: a funnel idle for ``ttl_us`` past its
    latest event is emitted once with ``expired=true`` and its state
    REMOVED, so the store is bounded by ACTIVE users, not ever-seen
    users. Event-time timeouts run off the watermark, which makes the
    expiry deterministic under replay (a processing-time TTL would
    depend on wall-clock batch pacing)."""
    ev = events.withWatermark("ts", watermark).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("e_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_update_ttl(window_us, ttl_us),
        outputStructType="user_id long, funnel_level int, expired boolean",
        stateStructType="t1 long, t2 long, t3 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


from kafka_clickhouse_implementation_spark.operators.funnels import _FUNNEL_ORACLE  # noqa: E402
from kafka_clickhouse_implementation_spark.registry import query  # noqa: E402
from kafka_clickhouse_implementation_spark.sources.streams import read_wire, source_wire  # noqa: E402
from kafka_clickhouse_implementation_spark.streaming.drain import drain  # noqa: E402


# The wire carries event time as epoch-MICROS in a long (`e_us`), not a
# timestamp string: Spark's default JSON timestampFormat truncates to
# milliseconds, which would silently desync the strict `>` comparisons in
# the funnel state machine from the full-microsecond batch/DuckDB oracle
# whenever two events share a millisecond. Integers round-trip exactly.
def ordered_event_wire(spark, sf_dir: str) -> tuple[str, str]:
    """The `events` replay in (e_us, event_id) order, 4 parts. Returns
    (wire_dir, base_dir); the wire is immutable per SOURCE PARQUET
    IDENTITY (realpath + size + mtime via cachedirs — a driver-side
    testdata regeneration invalidates it) and shared by every stateful
    replay query. (`stateful2` flavor = wire format v2,
    micros-as-long.)"""
    return source_wire(
        spark, sf_dir, "events", "stateful2", ("e_us", "event_id"),
        lambda ev: ev.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("e_us")),
    )


def wire_stream(
    spark, wire_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the wire, with `ts` reconstructed exactly from
    the micros long (shared by every stateful replay query).
    ``max_files_per_trigger`` forces multi-batch replay (the file
    source takes files oldest-mtime-first) for queries whose contract
    is about state crossing batch boundaries."""
    return read_wire(spark, wire_dir, max_files_per_trigger).select(
        "user_id", "event_id", "event_type",
        F.timestamp_micros("e_us").alias("ts"),
    )


@query(
    "q_stream_funnel",
    # The stateful replay's final levels equal the batch operator by
    # construction (tested multi-batch in tests/test_funnels.py), so
    # the batch funnel oracle hash-checks the streaming state machine.
    oracle=_FUNNEL_ORACLE,
)
def q_stream_funnel(spark, sf_dir: str):
    """Hermetic stateful-streaming funnel: replay `events` as a
    ts-sorted JSON wire, drain it through streaming_funnel_levels
    (AvailableNow), and aggregate the final per-user levels. State is
    3 longs per user."""
    import os

    wire_dir, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_funnel")
    stream = wire_stream(spark, wire_dir)
    out = streaming_funnel_levels(stream)
    name = "stream_funnel_out"
    drain(spark, (out, name, ckpt, "update"))
    final = spark.sql(
        f"SELECT user_id, max(funnel_level) AS funnel_level FROM {name} GROUP BY user_id"
    )
    return (
        final.groupBy("funnel_level")
        .count()
        .select("funnel_level", F.col("count").alias("n_users"))
    )
