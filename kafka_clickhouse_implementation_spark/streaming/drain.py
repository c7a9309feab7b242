"""One streaming drain: start queries over replay wires, run them to the
end of their input, and land the rows in a sink.

The reference consumes a queue one way. A Kafka-engine table feeds a
materialized view, which runs to the end of the queue and lands its
rows in a table (kafka+clickhouse.md:183-243). The Structured Streaming
paper (SIGMOD 2018) states the same contract as a replayable source, a
checkpoint and a sink. Every stream the package starts goes through
``drain``, the MV job ``streaming/pipeline.run_mv_pipeline`` included.

``drain(spark, *specs, resume=False)``, each spec ``(out, sink, ckpt,
mode)``:

- ``sink`` is a memory-sink query name (``str``) or a ``foreachBatch``
  callable;
- each ``ckpt`` is deleted first, unless ``resume=True``, which the
  marker-driven incremental upserts use to pick up where their last
  drain stopped;
- each query runs ``availableNow``: every file the wire holds at start,
  then it stops. All specs start before the first wait, so independent
  queries over one wire run concurrently;
- ``spark.sql.shuffle.partitions`` is set from the spec's input volume
  just before that spec's ``.start()`` (only ever lowered; a stream
  captures the value at start) and restored when the call returns;
- each query gets up to 600 s. On a timeout (``TimeoutError``) or any
  other failure, every query the call started is stopped before the
  error propagates, so no sibling keeps running into a half-read sink.

``drain_table`` drains one frame into a parquet table through
``sources.sinks.parquet_sink`` and returns it read with the frame's own
schema, so the read-back runs no schema-inference job. Each epoch is a
plain append, yet a replayed epoch cannot duplicate rows: Spark re-runs
a ``foreachBatch`` epoch only when a query restarts from its
checkpoint, and every ``drain_table`` call deletes the table and the
checkpoint before it starts a fresh query. An epoch that fails fails
the drain, and the next call starts over from an empty table.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame

from kafka_clickhouse_implementation_spark.sources.sinks import parquet_sink

_PARTITIONS_KEY = "spark.sql.shuffle.partitions"
_DRAIN_TIMEOUT_S = 600


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


def drain(spark, *specs, resume: bool = False) -> None:
    """Run each ``(out, sink, ckpt, mode)`` spec to the end of its input
    (see the module docstring for the contract)."""
    old = spark.conf.get(_PARTITIONS_KEY)
    try:
        cur = int(old)
    except (TypeError, ValueError):
        cur = None  # a non-integer session value (vendor 'auto') — never lower it
    started = []
    try:
        for out, sink, ckpt, mode in specs:
            if not resume:
                shutil.rmtree(ckpt, ignore_errors=True)
            # per-spec count, set immediately before THIS start (r15
            # advisory: a group-wide minimum under-partitioned a large
            # wire drained beside a tiny one)
            n = _scaled_stream_partitions(out)
            if cur is not None:
                spark.conf.set(
                    _PARTITIONS_KEY, str(n) if n is not None and n < cur else old
                )
            w = out.writeStream
            if isinstance(sink, str):
                w = w.format("memory").queryName(sink)
            else:
                w = w.foreachBatch(sink)
            started.append(
                w.outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        for q in started:
            if not q.awaitTermination(_DRAIN_TIMEOUT_S):
                raise TimeoutError(
                    f"stream {q.name or q.id} did not drain in {_DRAIN_TIMEOUT_S}s"
                    " — its sink would be partial"
                )
    except BaseException:
        for q in started:
            q.stop()
        raise
    finally:
        spark.conf.set(_PARTITIONS_KEY, old)


def drain_table(spark, out, path: str, ckpt: str, mode: str = "update") -> DataFrame:
    """Drain ``out`` into a fresh parquet table at ``path`` and return it,
    read with ``out``'s schema (no inference job). Replaces the
    driver-held memory sink for corpus-sized states: the executors
    write each epoch. Callers use it where every key is emitted in
    exactly one micro-batch (doc-scoped keys behind a stateful dedup),
    so the union of update-mode emissions equals the final state."""
    shutil.rmtree(path, ignore_errors=True)
    drain(spark, (out, parquet_sink(path), ckpt, mode))
    return spark.read.schema(out.schema).parquet(path)
