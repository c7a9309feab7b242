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


from kafka_clickhouse_implementation_spark.io import load  # noqa: E402
from kafka_clickhouse_implementation_spark.operators.funnels import _FUNNEL_ORACLE  # noqa: E402
from kafka_clickhouse_implementation_spark.registry import query  # noqa: E402


# The wire carries event time as epoch-MICROS in a long (`e_us`), not a
# timestamp string: Spark's default JSON timestampFormat truncates to
# milliseconds, which would silently desync the strict `>` comparisons in
# the funnel state machine from the full-microsecond batch/DuckDB oracle
# whenever two events share a millisecond. Integers round-trip exactly.
WIRE_SCHEMA = "user_id long, event_id long, event_type string, e_us long"


def ordered_event_wire(spark, sf_dir: str) -> tuple[str, str]:
    """Spark-written ts-sorted JSON replay of `events` (no driver
    collect; range-partitioned so file order == time order). Returns
    (wire_dir, base_dir); the wire is immutable per SOURCE PARQUET
    IDENTITY (realpath + size + mtime via cachedirs — a driver-side
    testdata regeneration invalidates it) and shared by every stateful
    replay query. (`stateful2` flavor = wire format v2,
    micros-as-long.)"""
    import os

    from kafka_clickhouse_implementation_spark.cachedirs import source_tagged_dir

    base = source_tagged_dir("stateful2", sf_dir, "events")
    wire_dir = os.path.join(base, "wire")
    if not os.path.exists(os.path.join(wire_dir, "_SUCCESS")):
        ev = load(spark, sf_dir, "events")
        (
            ev.select(
                "user_id", "event_id", "event_type",
                F.unix_micros("ts").alias("e_us"),
            )
            .repartitionByRange(4, "e_us", "event_id")
            .sortWithinPartitions("e_us", "event_id")
            .write.mode("overwrite")
            .json(wire_dir)
        )
    return wire_dir, base


def wire_stream(
    spark, wire_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the wire, with `ts` reconstructed exactly from
    the micros long (shared by every stateful replay query).
    ``max_files_per_trigger`` forces multi-batch replay (the file
    source takes files oldest-mtime-first) for queries whose contract
    is about state crossing batch boundaries."""
    reader = spark.readStream.schema(WIRE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(wire_dir).select(
        "user_id", "event_id", "event_type",
        F.timestamp_micros("e_us").alias("ts"),
    )


# Scale-adaptive stream partitioning (r15, guide §2). AQE is disabled
# inside stateful streaming micro-batches, so the state/shuffle
# partition count of a streaming query is pinned at stream start from
# spark.sql.shuffle.partitions — a constant sized for BATCH plans. Each
# HDFS-backed state partition then pays a per-micro-batch delta-file
# commit (task + fsync) regardless of how little state it holds:
# measured r15, an 8-file document-wire drain spent 2-4 s/batch in
# addBatch at 32 state partitions vs ~0.5 s at an input-derived count,
# with identical results. The fix the guide prescribes is deriving the
# partition count from the INPUT VOLUME (bytes per partition), not from
# a mode-tuned constant: a few-MB replay wire gets a few partitions, a
# 100 TB wire gets thousands (up to the cap). The derived value only
# ever LOWERS the session setting — on a real cluster the session
# value is the operator's sizing ceiling, and the replay-wire volume
# refines it downward when the source is small.
# Target SOURCE bytes per state partition. The stateful stages process
# an exploded multiple of the raw wire bytes (tokens/features per JSON
# byte, ~8-16x), so 4 MiB of source is ~32-64 MiB of processed rows
# per partition — the conservative end of the guide's partition-sizing
# band. Measured r15 at sf0.1 (20 MB doc wire → 5 partitions): the
# per-query sweep over {2,4,8,16,32} put every drain's optimum at 4-8,
# with 32 costing 1.3-2.4 s extra per query in state-commit overhead.
_STREAM_PARTITION_BYTES = 4 * 2**20
_STREAM_PARTITION_CAP = 32768


def _scaled_stream_partitions(out) -> int | None:
    """Input-derived shuffle/state partition count for a streaming
    frame backed by file source(s): ceil(total source bytes / 4 MiB)
    clamped to [floor, cap], floor = a quarter of the cluster's
    default parallelism (per-group fold compute — Python stateful
    operators invoke one fold call per group — needs a minimum of
    distributed parallelism even when the wire is tiny; a quarter of
    the cores keeps that while shedding most of the per-partition
    state-commit overhead, and the floor scales with however many
    cores the session actually has rather than a local constant).
    Returns None when no file source is found (unknown volume — leave
    the session setting alone)."""
    import math
    import os
    import re

    try:
        plan = out._jdf.queryExecution().logical().toString()
    except Exception:
        return None
    paths = set(re.findall(r"FileSource\[([^\]]+)\]", plan))
    if not paths:
        return None
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    if total == 0:
        # No measurable local bytes — a URI-scheme / remote path that
        # os.walk can't traverse, or a genuinely empty wire. Unknown
        # volume → leave the session setting alone (r15 advisory: the
        # floor must not be pinned onto a source we couldn't size).
        return None
    try:
        floor = max(2, out.sparkSession.sparkContext.defaultParallelism // 4)
    except Exception:
        floor = 2
    return max(
        floor,
        min(_STREAM_PARTITION_CAP, math.ceil(total / _STREAM_PARTITION_BYTES)),
    )


class stream_partitions_conf:
    """Context manager: lower spark.sql.shuffle.partitions to the
    input-derived count for the duration of a drain, then restore.
    The value is captured into the stream's checkpoint at start, so
    restoring after termination never affects the running query.
    Public shared helper (r15 advisory) — the index-upsert drains in
    operators/retrieval.py wrap their stream starts in it too."""

    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark, out):
        self._spark = spark
        self._out = out

    def __enter__(self):
        self._old = self._spark.conf.get(self._KEY)
        n = _scaled_stream_partitions(self._out)
        try:
            cur = int(self._old)
        except (TypeError, ValueError):
            # a non-integer session value (vendor 'auto' settings) —
            # skip the lowering rather than abort the drain
            return self
        if n is not None and cur > n:
            self._spark.conf.set(self._KEY, str(n))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set(self._KEY, self._old)
        return False


def _drain(spark, out, name: str, ckpt: str, mode: str = "update"):
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    with stream_partitions_conf(spark, out):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(f"stream {name} did not drain in 600s — memory table would be partial")


def _drain_files(spark, out, path: str, ckpt: str, mode: str = "update") -> str:
    """Drain a stateful streaming frame to a PARQUET table instead of
    the driver-held memory sink (r16, guide §5: the driver should do
    almost no data work). For corpus-sized drained states (the dsir
    feature table is 3.8M rows at sf1) the memory sink collects every
    emitted row to the DRIVER, and downstream distributed use pays a
    second driver→executor round-trip (the localCheckpoint pin).
    foreachBatch appends each trigger's rows as parquet from the
    executors; under the one-batch-per-key property (doc-scoped state
    keys behind the stateful dedup) the union of update-mode emissions
    equals the final complete-mode state row-for-row. The table and
    checkpoint are deleted first — drains stay re-runnable and nothing
    persists across invocations. Returns ``path``."""
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)

    def _append(bdf, _epoch_id):
        bdf.write.mode("append").parquet(path)

    with stream_partitions_conf(spark, out):
        q = (
            out.writeStream.foreachBatch(_append)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                f"file drain {path} did not finish in 600s — table would be partial"
            )
    return path


def _drain_many(spark, specs):
    """Drain several INDEPENDENT streaming queries concurrently —
    ``specs`` is an iterable of (out, name, ckpt, mode). Spark runs
    concurrent streaming queries happily (guide §2.6: actions are only
    sequential because driver code awaits them sequentially); for a
    query whose operator maintains several states over one replay wire
    this turns N full micro-batch lifecycles of wall time into ~1.
    Each query keeps its own checkpoint/state exactly as _drain gives
    it, so per-query semantics (batching, state, output mode) are
    unchanged."""
    import shutil

    specs = list(specs)
    key = stream_partitions_conf._KEY
    old = spark.conf.get(key)
    try:
        cur = int(old)
    except (TypeError, ValueError):
        cur = None  # non-integer session value — never lower it
    try:
        started = []
        for out, name, ckpt, mode in specs:
            shutil.rmtree(ckpt, ignore_errors=True)
            # per-spec input-derived count, set immediately before THIS
            # start (r15 advisory: each stream captures
            # spark.sql.shuffle.partitions at .start(), so a group-wide
            # minimum under-partitioned a large wire mixed with a tiny
            # one)
            n = _scaled_stream_partitions(out)
            if cur is not None:
                spark.conf.set(
                    key, str(n) if n is not None and n < cur else old
                )
            started.append(
                (
                    name,
                    out.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(mode)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start(),
                )
            )
        for name, q in started:
            if not q.awaitTermination(600):
                for _n, other in started:
                    other.stop()
                raise TimeoutError(
                    f"stream {name} did not drain in 600s — memory table would be partial"
                )
    finally:
        spark.conf.set(key, old)


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
    _drain(spark, out, name, ckpt)
    final = spark.sql(
        f"SELECT user_id, max(funnel_level) AS funnel_level FROM {name} GROUP BY user_id"
    )
    return (
        final.groupBy("funnel_level")
        .count()
        .select("funnel_level", F.col("count").alias("n_users"))
    )
