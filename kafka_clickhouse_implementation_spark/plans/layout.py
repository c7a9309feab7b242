"""Physical table layouts — the MergeTree/SummingMergeTree analogues.

The reference declares its physical design in DDL
(kafka+clickhouse.md:101-103, 205-211); here it is a parquet lakehouse
layout:

- ``write_day_partitioned``: PARTITION BY toYYYYMMDD(event_time) +
  ORDER BY (key, event_time) becomes ``partitionBy(day)`` +
  ``sortWithinPartitions`` so (a) Catalyst prunes whole day directories
  for date predicates and (b) parquet row-group min/max stats skip
  granules for key-prefix predicates — the sparse-primary-index
  approximation from SURVEY §4.

- ``write_rollup_batch`` / ``read_rollup``: the SummingMergeTree
  contract (kafka+clickhouse.md:396-401). Each insert block's partial
  per-(day, level) counts are *appended* as one batch_id-keyed
  directory (the MV body, kafka+clickhouse.md:221-229); readers must
  re-aggregate (sum over equal (day, level)),
  exactly like reading an unmerged SummingMergeTree
  (kafka+clickhouse.md:240-243). ``compact_rollup`` plays the role of
  the background merge.

At 100 TB: day-partitioning bounds every daily query to ~1/365 of the
data; sortWithinPartitions costs one in-partition sort at write time and
no shuffle; rollup partials are tiny (days × levels × batches) so the
read-time re-agg is O(rollup), never O(raw).

Both tables carry their DDL, so no read infers a schema (inference runs
a Spark job over parquet footers before the query even plans):

- The rollup's DDL is ``schemas.DAILY_SCHEMA`` (kafka+clickhouse.md:
  205-211). The writers emit exactly ``day, level, total`` and raise if
  a batch's ``day`` or ``level`` does not have its type;
  ``read_rollup`` and ``compact_rollup`` read the partials, batch dirs
  and parked dirs with it, on either path below.
- The fact table's DDL is recorded next to its data, in
  ``_schema.json`` (Spark readers skip ``_``-prefixed files), written
  after the data commits by the write that creates or overwrites the
  table. It is the schema inference would return: the data columns plus
  ``event_date`` as int. An append whose columns differ from the record
  raises before any file is written, so a declared read can never drop
  or null a column. ``read_day_partitioned`` reads with the record; a
  table without one (written before records existed, or by a write that
  died between the data commit and the record) is read with inference.

Where the writes, rollup reads and merges run (``gate.DRIVER_MAX_ROWS``,
the one driver-size gate). A live micro-batch is a few thousand rows and
a rollup's partials are days × levels × batches, yet a Spark write of
either costs a shuffle job plus a write job, each re-reading the input,
and a Spark read of the rollup two or three jobs with a shuffle. Below
the gate every writer here pulls its input once as Arrow
(``gate.driver_arrow``, one job), sorts or counts it in pyarrow and
writes the parquet files from the driver; ``read_rollup`` and
``compact_rollup`` size the partials from their parquet footers
(``gate.driver_parquet``), read and sum them in pyarrow and run no job
(the read returns a local relation over the sums). Above it the Spark
plans run unchanged, and they are the reference the tests compare the
driver paths with:

- Part names: a fact append writes one
  ``<partition_col>=<yyyyMMdd>/part-<uuid>.parquet`` per day, sorted by
  the sort keys then the timestamp (Spark's ascending order, nulls
  first), without the partition column; a null day lands in Spark's
  ``__HIVE_DEFAULT_PARTITION__``. A rollup batch is
  ``batch-<id>/part-00000.parquet``, a compaction
  ``part-00000.parquet``.
  Timestamps are written the way the session's Spark writer would
  (``spark.sql.parquet.outputTimestampType``), so both paths leave the
  same physical types; a frame with a ``timestamp_ntz`` column, which
  that setting does not cover, takes the Spark path.
- Visibility: each file is written under a ``.``-prefixed temp name in
  its target dir and renamed into place. Spark's file index and the
  driver rollup read skip ``.``/``_`` names and DuckDB's ``*.parquet``
  globs skip ``.tmp``, so a concurrent dashboard read sees a whole file
  or none, and a writer killed mid-file leaves only an ignored
  ``.…tmp``. A write that creates or overwrites the fact table writes
  ``_SUCCESS`` after its last part and then the schema record, as a
  Spark write's commit does. A driver rollup read opens every partial
  through one descriptor of the rollup dir, so a compaction swapping the
  dir under it yields the totals before the swap or an error, never a
  mix of both trees.
- Delivery: rollup batches are idempotent (``write_rollup_batch``). Fact
  appends are at-least-once on either path: a retried append writes its
  rows again under new part names.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.schemas import DAILY_SCHEMA

# The fact table's recorded schema; Spark readers skip `_`-prefixed names.
SCHEMA_FILE = "_schema.json"
# Spark's directory value for a null partition column
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _write_parquet(table, dir_path: str, name: str, int96: bool = False) -> None:
    """Write the Arrow ``table`` as the one parquet file
    ``dir_path/name``: under a ``.``-prefixed temp name first, then
    renamed into place, so no reader sees it half-written."""
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    tmp = os.path.join(dir_path, f".{name}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp, use_deprecated_int96_timestamps=int96)
    os.replace(tmp, os.path.join(dir_path, name))


def write_day_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    sort_keys: tuple[str, ...] = ("user_id",),
    partition_col: str = "event_date",
    mode: str = "overwrite",
) -> None:
    """Write a day-partitioned, within-partition-sorted parquet fact table.

    Mirrors ``PARTITION BY toYYYYMMDD(event_time) ORDER BY (campaign_id,
    event_time)`` (kafka+clickhouse.md:101-103). A write that creates or
    overwrites the table records its schema; an append to a recorded
    table must match it (see the module docstring).
    """
    out = df.withColumn(partition_col, F.date_format(F.col(ts_col), "yyyyMMdd"))
    schema = _table_schema(out, partition_col)
    if mode == "append":
        recorded = recorded_schema(path)
        if recorded is not None and not _same_columns(schema, recorded):
            raise ValueError(
                f"append to {path}: columns {schema.simpleString()} differ from"
                f" the table's {recorded.simpleString()}"
            )
    new_table = mode == "overwrite" or not os.path.isdir(path) or not os.listdir(path)
    table = None if "timestamp_ntz" in out.schema.simpleString() else gate.driver_arrow(out)
    if table is not None:
        if mode == "overwrite":
            shutil.rmtree(path, ignore_errors=True)
        int96 = df.sparkSession.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
        _write_days(table, path, partition_col, [*sort_keys, ts_col], int96)
        if new_table:
            with open(os.path.join(path, "_SUCCESS"), "w"):
                pass
    else:
        # repartition on the partition column first so each day is written by
        # few tasks (avoids the small-files explosion a 1000-executor write
        # would otherwise produce), then sort within partitions for row-group
        # stat locality on the sort keys.
        out = (
            out.repartition(partition_col)
            .sortWithinPartitions(*sort_keys, ts_col)
            .write.mode(mode)
            .partitionBy(partition_col)
        )
        out.parquet(path)
    if new_table:
        record_schema(path, schema)


def _write_days(table, path: str, partition_col: str, order: list[str], int96: bool) -> None:
    """The driver write of one fact batch: a sorted part per day, without
    the partition column. An empty batch writes no part."""
    import pyarrow.compute as pc

    os.makedirs(path, exist_ok=True)
    days = table.column(partition_col)
    for day in pc.unique(days).to_pylist():
        rows = table.filter(pc.is_null(days) if day is None else pc.equal(days, day))
        rows = rows.drop_columns([partition_col]).sort_by(
            [(c, "ascending") for c in order], null_placement="at_start"
        )
        day_dir = os.path.join(path, f"{partition_col}={NULL_PARTITION if day is None else day}")
        _write_parquet(rows, day_dir, f"part-{uuid.uuid4().hex}.parquet", int96)


def _table_schema(out: DataFrame, partition_col: str) -> T.StructType:
    """What schema inference returns for the written table: the data
    columns, all nullable, then the yyyyMMdd partition column as int."""
    fields = [
        T.StructField(f.name, f.dataType, True, f.metadata)
        for f in out.schema.fields
        if f.name != partition_col
    ]
    return T.StructType(fields + [T.StructField(partition_col, T.IntegerType(), True)])


def _same_columns(a: T.StructType, b: T.StructType) -> bool:
    # simpleString holds names and types, not nullability
    return a.simpleString() == b.simpleString()


def record_schema(path: str, schema: T.StructType) -> None:
    """Record ``schema`` as the table at ``path``'s ``_schema.json``
    (temp name, then rename)."""
    tmp = os.path.join(path, SCHEMA_FILE + ".tmp")
    with open(tmp, "w") as f:
        f.write(schema.json())
    os.replace(tmp, os.path.join(path, SCHEMA_FILE))


def recorded_schema(path: str) -> T.StructType | None:
    """The schema recorded for the table at ``path``, or ``None``."""
    try:
        with open(os.path.join(path, SCHEMA_FILE)) as f:
            return T.StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def read_day_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """The fact table, read with its recorded schema; a table without a
    record falls back to schema inference."""
    schema = recorded_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _check_keys(batch_df: DataFrame) -> None:
    """Raise unless ``batch_df``'s ``day`` and ``level`` have the rollup
    DDL's types; the counts a batch's partials add are always bigint."""
    types = {f.name: f.dataType for f in batch_df.schema.fields}
    keys = ("day", "level")
    if any(types.get(k) != DAILY_SCHEMA[k].dataType for k in keys):
        got = ", ".join(f"{k} {types[k].simpleString() if k in types else 'missing'}" for k in keys)
        raise ValueError(f"rollup partials ({got}) do not match {DAILY_SCHEMA.simpleString()}")


def _partials(batch_df: DataFrame) -> DataFrame:
    """One batch's per-(day, level) counts, in the rollup's DDL."""
    return batch_df.groupBy("day", "level").agg(F.count(F.lit(1)).alias("total"))


def _driver_partials(batch_df: DataFrame):
    """``_partials`` counted on the driver: the batch's (day, level)
    columns pulled once as Arrow and counted in pyarrow, with no shuffle
    job; ``None`` above the gate."""
    import pyarrow as pa

    keys = gate.driver_arrow(batch_df.select("day", "level"))
    if keys is None:
        return None
    counts = keys.group_by(["day", "level"]).aggregate([([], "count_all")])
    return pa.table({"day": counts["day"], "level": counts["level"], "total": counts["count_all"]})


def write_rollup_batch(batch_df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent per-batch MV sink — the standard foreachBatch
    exactly-once pattern: each batch's partials land in a
    batch_id-keyed subdirectory with overwrite mode, so a batch retried
    after a crash between the write and the checkpoint commit REPLACES
    its previous (possibly partial) output instead of double-appending
    it. ``read_rollup`` picks the subdirectories up recursively."""
    out = f"{path.rstrip('/')}/batch-{batch_id:010d}"
    _check_keys(batch_df)  # before either path writes
    table = _driver_partials(batch_df)
    if table is None:
        (
            _partials(batch_df)
            # partials are days x levels rows per batch regardless of input
            # volume — one output file beats 32 near-empty ones (the small-
            # files problem is the reader's bottleneck, not the writer's)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(out)
        )
    else:
        shutil.rmtree(out, ignore_errors=True)  # what overwrite mode does
        _write_parquet(table, out, "part-00000.parquet")


def _summed(spark: SparkSession, *paths: str) -> DataFrame:
    """Every partial under ``paths``, read with the rollup's DDL, summed
    per (day, level). recursiveFileLookup tolerates any mix of flat
    partial files, per-batch subdirectories, and compacted output."""
    return (
        spark.read.schema(DAILY_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(*paths)
        .groupBy("day", "level")
        .agg(F.sum("total").alias("total"))
    )


# Spark's reader skips these prefixes (`_SUCCESS`, `.crc`, `.…tmp`)
_HIDDEN = ("_", ".")


def _raise(err: OSError) -> None:
    raise err


def _open_partials(stack: ExitStack, path: str) -> list:
    """Every partial under ``path``, opened for reading and closed with
    ``stack``: the files recursiveFileLookup reads (no ``_``- or
    ``.``-prefixed file or directory), batch dirs before a compaction's
    flat file. A missing ``path`` raises FileNotFoundError.

    Each file is opened relative to one descriptor of ``path`` taken
    first, never by its name under ``path``, so every file comes from
    the tree that was at ``path`` when the read began. A compaction that
    swaps ``path`` meanwhile cannot mix its merged file into the set and
    double-count; once the swap has deleted the old tree, the open
    raises instead."""
    top = os.open(path, os.O_RDONLY | os.O_DIRECTORY)
    stack.callback(os.close, top)
    names = []
    for root, dirs, files, _fd in os.fwalk(".", dir_fd=top, onerror=_raise):
        dirs[:] = [d for d in dirs if not d.startswith(_HIDDEN)]
        names += [os.path.normpath(os.path.join(root, f)) for f in files if not f.startswith(_HIDDEN)]

    def opener(name: str, flags: int) -> int:
        return os.open(name, flags, dir_fd=top)

    return [stack.enter_context(open(n, "rb", opener=opener)) for n in sorted(names)]


def _driver_summed(*paths: str):
    """``_summed`` on the driver: every partial under ``paths`` read with
    pyarrow and summed per (day, level), with no Spark job; ``None`` when
    their footers hold more than ``gate.DRIVER_MAX_ROWS`` rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    # Spark's reader makes every column of a declared schema nullable
    ddl = to_arrow_schema(T.StructType([T.StructField(f.name, f.dataType) for f in DAILY_SCHEMA]))
    with ExitStack() as stack:
        raw = gate.driver_parquet([f for p in paths for f in _open_partials(stack, p)], ddl)
    if raw is None:
        return None
    sums = raw.group_by(["day", "level"]).aggregate([("total", "sum")])
    return pa.table({"day": sums["day"], "level": sums["level"], "total": sums["total_sum"]})


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Read-time re-aggregation — the SummingMergeTree reader contract
    (sum over possibly-unmerged partials, kafka+clickhouse.md:240-243,
    464-468). Below the gate the sums are taken on the driver when this
    is called and the frame is a local relation over them, so a filter
    or collect on it runs no Spark job; above it the frame is Spark's
    scan and aggregate."""
    summed = _driver_summed(path)
    return _summed(spark, path) if summed is None else spark.createDataFrame(summed)


def _swap_names(path: str) -> tuple[str, str, str]:
    p = path.rstrip("/")
    return p + "__compact_old", p + "__compact_tmp", p + "__swap_started"


def _parked_dirs(path: str) -> list[str]:
    """Parked-remnant directories: committed rows that may not be in
    `path` yet. Invariant: a parked dir is deleted ONLY after a swap
    that folded its rows into the new `path` has fully completed."""
    import glob

    return sorted(glob.glob(path.rstrip("/") + "__compact_parked_*"))


def _next_parked(path: str) -> str:
    parked = _parked_dirs(path)
    n = 1 + max((int(p.rsplit("_", 1)[1]) for p in parked), default=-1)
    return path.rstrip("/") + f"__compact_parked_{n:03d}"


def _recover_swap(path: str) -> None:
    """Repair any crash state a previous `_swap_in` left behind. Run
    before reading `path` for a new compaction.

    The marker file is the commit record: it is touched only AFTER the
    merged `tmp` is fully written AND `path` has been renamed aside —
    so marker-present means tmp is complete and is a superset of the
    old dir and of every parked dir on disk. Marker-absent means every
    committed row is still reachable at `path`/`old`/parked, and `tmp`
    (possibly half-written) is discardable."""
    old, tmp, marker = _swap_names(path)
    if os.path.exists(marker):
        # Every parked dir on disk predates the tmp write (parking
        # happens only here, which runs before the merge), so each was
        # folded into tmp — their rows are duplicates of tmp's and MUST
        # be dropped once tmp's content is durable, or the additive
        # rollup would double-count them at the next merge.
        stale = _parked_dirs(path)
        if os.path.exists(tmp):
            if not os.path.exists(path):
                os.rename(tmp, path)  # crash between the two renames: finish
            else:
                # the writer recreated `path` with NEW rows meanwhile;
                # tmp still holds the only fold of old+parked — park it
                # (it will be folded by the merge below, deleted after
                # the next successful swap)
                os.rename(tmp, _next_parked(path))
        # tmp missing → the swap-in completed; `path` ⊇ everything.
        shutil.rmtree(old, ignore_errors=True)
        for p in stale:
            shutil.rmtree(p, ignore_errors=True)
        os.remove(marker)
    else:
        # un-committed merge output: all of its rows are still on disk
        # at path/old/parked, so it is safe to discard
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(old):
            if not os.path.exists(path):
                os.rename(old, path)  # crash right after path was moved
            else:
                # defensive (legacy crash shape): park for folding
                os.rename(old, _next_parked(path))


def _swap_in(path: str, tmp: str, folded: list[str]) -> None:
    """Replace `path` with the fully-written `tmp` via two renames plus
    a marker commit record — never deleting any directory before its
    rows are durably inside the new `path`. Local-fs rename is atomic;
    on HDFS this maps to FileSystem.rename, on object stores to a
    manifest commit (e.g. a table format's atomic metadata swap).

    `folded` lists the parked dirs whose rows the caller merged into
    `tmp`; they are removed only after the swap-in rename succeeds.
    Crash at ANY point here is repaired by `_recover_swap` — the parked
    rows' durable copy is `old`/parked before the marker is touched and
    `tmp` after. A concurrent reader can still observe the brief
    missing-path gap; single-writer semantics (see compact_rollup) are
    the contract."""
    old, _tmp_name, marker = _swap_names(path)
    os.rename(path, old)
    with open(marker, "w"):
        pass  # commit point: tmp is complete and path is parked at old
    try:
        os.rename(tmp, path)
    except BaseException as swap_err:
        try:
            os.rename(old, path)  # roll back so the table never disappears
            os.remove(marker)
        except OSError as rollback_err:
            # marker stays: the next _recover_swap completes the swap
            # from tmp, which holds every committed row
            raise RuntimeError(
                f"compaction swap failed AND rollback failed; data parked at {old}"
            ) from rollback_err
        raise swap_err
    shutil.rmtree(old, ignore_errors=True)
    for p in folded:
        shutil.rmtree(p, ignore_errors=True)
    os.remove(marker)


def compact_rollup(spark: SparkSession, path: str) -> None:
    """Background-merge analogue: rewrite the partials as fully-merged
    sums (kafka+clickhouse.md:396-401). Optional; readers are correct
    without it, it just bounds the partials file count.

    The merged output is written to a temporary sibling directory and
    swapped in via rename — overwriting the path the plan reads from
    (the previous design) relied on cache(), and cached blocks are not
    fault-tolerant: an executor loss mid-overwrite would recompute from
    already-deleted files.

    Concurrency contract: compaction must NOT run while a streaming
    batch that may still be RETRIED is writing — folding a batch subdir
    whose checkpoint has not committed would break write_rollup_batch's
    idempotence (the retried batch would re-add already-compacted
    partials). Run it from the single writer between committed batches
    (e.g. in foreachBatch after the sink write), never from a second
    process.

    Crash recovery: `_recover_swap` repairs any interrupted previous
    swap (restoring or parking remnants), then every parked dir is
    folded into this merge and deleted only after the new path is
    durably in place — no committed row is ever lost, and no row is
    ever double-counted (parked dirs and `path` are always disjoint row
    sets: a dir is parked precisely when its rows are NOT in the
    recreated `path`)."""
    _recover_swap(path)
    parked = _parked_dirs(path)
    _, tmp, _ = _swap_names(path)
    merged = _driver_summed(path, *parked)
    if merged is None:
        _summed(spark, path, *parked).write.mode("overwrite").parquet(tmp)
    else:
        _write_parquet(merged, tmp, "part-00000.parquet")
    _swap_in(path, tmp, folded=parked)


def expire_partitions(path: str, keep_from, partition_col: str = "event_date") -> list[str]:
    """TTL retention for the day-partitioned fact table (ClickHouse
    ``TTL event_time + INTERVAL n DAY DELETE`` analogue): drop whole
    partition directories with ``<partition_col>`` lexicographically
    below ``keep_from`` (yyyyMMdd strings order correctly).

    This is the reason the fact table is day-partitioned at 100 TB:
    retention is an O(#expired-partitions) directory delete — no scan,
    no rewrite, no tombstone compaction. Returns the dropped partition
    values (for the audit log a production system would write).
    """
    keep_from = str(keep_from)  # Spark reads yyyyMMdd partition values back as ints
    dropped = []
    prefix = partition_col + "="
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        if name[len(prefix):] < keep_from:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(name[len(prefix):])
    return dropped


def detach_partition(path: str, value, partition_col: str = "event_date") -> str:
    """ClickHouse ``ALTER TABLE ... DETACH PARTITION`` analogue: move
    the partition directory into the table's ``_detached/`` subdir —
    Spark readers skip underscore-prefixed directories, so the
    partition disappears from every read WITHOUT a scan or rewrite
    (exactly ClickHouse's detached/ semantics: an O(1) rename). Returns
    the detached directory name. Raises FileNotFoundError if the
    partition does not exist."""
    name = f"{partition_col}={value}"
    src = os.path.join(path, name)
    if not os.path.isdir(src):
        raise FileNotFoundError(src)
    dst_root = os.path.join(path, "_detached")
    os.makedirs(dst_root, exist_ok=True)
    os.rename(src, os.path.join(dst_root, name))
    return name


def attach_partition(path: str, value, partition_col: str = "event_date") -> str:
    """``ALTER TABLE ... ATTACH PARTITION``: move a previously detached
    partition back into the table — again one rename, no data
    movement."""
    name = f"{partition_col}={value}"
    src = os.path.join(path, "_detached", name)
    if not os.path.isdir(src):
        raise FileNotFoundError(src)
    os.rename(src, os.path.join(path, name))
    return name
