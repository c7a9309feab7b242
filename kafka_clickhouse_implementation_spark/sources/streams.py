"""Pluggable streaming sources — the reference's ingest boundary.

The reference consumes the `campaign.event_tracking` topic two ways: a
Python poll loop (kafka+clickhouse.md:127-143) and a ClickHouse
Kafka-engine table (kafka+clickhouse.md:183-194). In Spark both are the
same thing: a streaming DataFrame from the Kafka source, decoded with
``from_json`` against the declared wire schema (JSONEachRow ≙ one JSON
object per message).

Because the test environment has no broker, the source is pluggable
(SURVEY §7 risk list): ``kafka`` (production), ``file`` (hermetic
replay of the same wire format), ``rate`` (synthetic load). The
downstream pipeline is identical for all three.

Every hermetic replay wire in the package is written by
:func:`write_wire` (or copied by :func:`doubled_wire`), which own the
four parts of the replay contract:

- **key order**: rows sorted by the caller's keys, in at most ``files``
  contiguous key ranges, named ``part-00000.json``… in key order;
- **arrival order**: the file source takes files oldest-mtime-first and
  breaks ties by listing order, and one Spark write gives every part
  about the same mtime, so part mtimes are stamped strictly increasing
  in key order;
- **readiness**: :data:`WIRE_MARKER` is written last, so a failed build
  leaves no ready wire, and a directory without it (an interrupted
  build, or a wire an earlier version marked otherwise) is rebuilt;
- **schema**: the written columns are recorded next to the parts
  (``plans.layout.record_schema``) before the marker, and every wire
  is read by :func:`read_wire` with that record: the columns are
  declared once, by the code that writes them, and never inferred. A
  marked wire without a record (an earlier version's) is rebuilt.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_clickhouse_implementation_spark.cachedirs import source_tagged_dir
from kafka_clickhouse_implementation_spark.config import KAFKA_SETTINGS
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.plans.layout import record_schema, recorded_schema
from kafka_clickhouse_implementation_spark.schemas import QUEUE_WIRE_SCHEMA


def kafka_stream(spark: SparkSession, topic_key: str = "event_tracking") -> DataFrame:
    """The Kafka-engine-table analogue (kafka+clickhouse.md:183-194):
    subscribe to the registry topic, earliest offsets (matching
    'auto.offset.reset': 'earliest', kafka+clickhouse.md:130), decode
    JSONEachRow against the declared schema. Consumer-group offset
    tracking (kafka_group_name, :193) is replaced by the checkpoint
    location the caller passes to writeStream."""
    topic = KAFKA_SETTINGS["topics"][topic_key]
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA_SETTINGS["bootstrap_servers"])
        .option("subscribe", topic)
        .option("startingOffsets", KAFKA_SETTINGS["starting_offsets"])
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), QUEUE_WIRE_SCHEMA).alias("j")
    ).select("j.*")


def file_stream(spark: SparkSession, json_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Hermetic replay source: JSON-lines files in the reference wire
    format (timestamp epoch-sec, level, message — FIXTURES.md §C),
    decoded against the same declared schema (never inferSchema on a
    streaming path)."""
    reader = spark.readStream.schema(QUEUE_WIRE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(json_dir)


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic load source shaped to the wire schema."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    levels = F.array(*[F.lit(x) for x in ("click", "error", "purchase", "signup", "view")])
    return raw.select(
        F.unix_timestamp("timestamp").alias("timestamp"),
        F.element_at(levels, (F.col("value") % 5 + 1).cast("int")).alias("level"),
        F.concat(F.lit('{"k": '), (F.col("value") % 100).cast("string"), F.lit("}")).alias("message"),
    )


def write_wire_format(events: DataFrame, out_dir: str, partitions: int = 4) -> None:
    """S1 — the producer path (kafka+clickhouse.md:38-52) without a
    broker: serialize rows to the JSONEachRow wire format, replayed in
    event-time order. With a broker this exact select writes to
    format('kafka') instead."""
    wire = events.select(
        F.unix_timestamp("ts").alias("timestamp"),
        F.col("event_type").alias("level"),
        F.coalesce(F.col("props"), F.lit("")).alias("message"),
    )
    write_wire(wire, out_dir, ("timestamp",), files=partitions)


# Not Spark's _SUCCESS: Spark writes that when its job commits, before
# the parts are renamed and stamped.
WIRE_MARKER = "_WIRE_PUBLISHED"
_STAMP_STEP_S = 10.0


def wire_ready(out_dir: str) -> bool:
    """Whether ``out_dir`` holds a published wire with its schema record."""
    marked = os.path.exists(os.path.join(out_dir, WIRE_MARKER))
    return marked and recorded_schema(out_dir) is not None


def read_wire(
    spark: SparkSession, wire: str, files_per_trigger: int | None = None, batch: bool = False
) -> DataFrame:
    """The published wire ``wire`` as a stream, read with the schema its
    writer recorded, ``files_per_trigger`` files per micro-batch when
    given; with ``batch``, all of it as one batch frame."""
    schema = recorded_schema(wire)
    if schema is None:
        raise ValueError(f"{wire} has no recorded wire schema")
    reader = (spark.read if batch else spark.readStream).schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.json(wire)


def _publish(out_dir: str, files: Sequence[str]) -> None:
    """Stamp ``files`` (paths in ``out_dir``) with strictly increasing
    mtimes in the order given, then write the marker: the one step
    that makes a wire ready."""
    t0 = time.time()
    for i, path in enumerate(files):
        os.utime(path, (t0 + _STAMP_STEP_S * i,) * 2)
    with open(os.path.join(out_dir, WIRE_MARKER), "w"):
        pass


def write_wire(
    rows: DataFrame,
    out_dir: str,
    keys: Sequence[str],
    files: int = 4,
    split: str | None = None,
) -> None:
    """Replace ``out_dir`` with a published JSON-lines wire of ``rows``:
    one Spark write sorted by ``keys`` and cut into at most ``files``
    contiguous key ranges. With ``split`` (an integer column) each
    value of that column gets one part instead, in value order, and
    the column itself is neither written nor recorded."""
    shutil.rmtree(out_dir, ignore_errors=True)
    if split is None:
        ranged = rows.repartitionByRange(files, *keys).sortWithinPartitions(*keys)
        ranged.write.json(out_dir)
        dirs = [out_dir]
    else:
        split_rows = rows.repartition(split).sortWithinPartitions(split, *keys)
        split_rows.write.partitionBy(split).json(out_dir)
        values = [d for d in os.listdir(out_dir) if d.startswith(f"{split}=")]
        values.sort(key=lambda d: int(d.split("=", 1)[1]))
        dirs = [os.path.join(out_dir, d) for d in values]
    # Spark names each part by its task, and a task holds one key range
    # (or all of one split value), so name order is key order.
    written = [
        os.path.join(d, n) for d in dirs for n in sorted(os.listdir(d)) if n.startswith("part-")
    ]
    parts = [os.path.join(out_dir, f"part-{i:05d}.json") for i in range(len(written))]
    for src, dst in zip(written, parts):
        os.rename(src, dst)
    for n in os.listdir(out_dir):
        path = os.path.join(out_dir, n)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif path not in parts:
            os.remove(path)
    record_schema(out_dir, T.StructType([f for f in rows.schema.fields if f.name != split]))
    _publish(out_dir, parts)


def source_wire(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    flavor: str,
    keys: Sequence[str],
    rows: Callable[[DataFrame], DataFrame],
    split: str | None = None,
) -> tuple[str, str]:
    """(wire_dir, base_dir) of the wire of ``rows(<table>)`` under the
    source-identity cache dir ``flavor`` (``cachedirs``): written by
    :func:`write_wire` unless it is ready."""
    base = source_tagged_dir(flavor, sf_dir, table)
    wire_dir = os.path.join(base, "wire")
    if not wire_ready(wire_dir):
        write_wire(rows(load(spark, sf_dir, table)), wire_dir, keys, split=split)
    return wire_dir, base


def doubled_wire(src_dir: str, out_dir: str, interleaved: bool = False) -> str:
    """Publish, unless it is ready, a copy of the published wire
    ``src_dir`` in which each part arrives a second time as
    ``dup-NNNNN.json``: after every original, or with ``interleaved``
    right after its own (orig_0 < dup_0 < orig_1 < …). Returns
    ``out_dir``."""
    if wire_ready(out_dir):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    names = sorted(n for n in os.listdir(src_dir) if n.startswith("part-"))
    origs = [os.path.join(out_dir, n) for n in names]
    dups = [os.path.join(out_dir, f"dup-{i:05d}.json") for i in range(len(names))]
    for n, orig, dup in zip(names, origs, dups):
        shutil.copyfile(os.path.join(src_dir, n), orig)
        shutil.copyfile(os.path.join(src_dir, n), dup)
    order = [f for pair in zip(origs, dups) for f in pair] if interleaved else origs + dups
    record_schema(out_dir, recorded_schema(src_dir))
    _publish(out_dir, order)
    return out_dir


def write_to_kafka(events: DataFrame, topic_key: str = "event_tracking") -> None:
    """S1 with a live broker: DataFrame → to_json(struct(*)) → Kafka.
    (Gated: requires a reachable bootstrap server.)"""
    topic = KAFKA_SETTINGS["topics"][topic_key]
    (
        events.select(F.to_json(F.struct("*")).alias("value"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA_SETTINGS["bootstrap_servers"])
        .option("topic", topic)
        .save()
    )
