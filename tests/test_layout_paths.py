"""The two paths of plans.layout: below ``gate.DRIVER_MAX_ROWS`` each
writer pulls its input as Arrow and writes the parquet files from the
driver, and the rollup is read and merged with pyarrow; with the gate
patched to 0 the Spark writes, reads and merges run. Both must leave
tables that every reader sees the same, and mixing them in one table
must not matter."""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark import gate
from kafka_clickhouse_implementation_spark.plans import layout
from kafka_clickhouse_implementation_spark.plans.layout import (
    compact_rollup,
    read_day_partitioned,
    read_rollup,
    write_day_partitioned,
    write_rollup_batch,
)
from kafka_clickhouse_implementation_spark.schemas import EVENTS_SCHEMA

DRIVER, SPARK = "driver", "spark"


def _events(spark):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, i % 24, i % 60), i % 7,
         ["click", "view"][i % 2], None if i % 9 == 0 else i / 4, None)
        for i in range(60)
    ]
    return spark.createDataFrame(rows, schema=EVENTS_SCHEMA)


def _day_level(df):
    return df.select(F.to_date("ts").alias("day"), F.col("event_type").alias("level"))


def _on(side, monkeypatch, call, *args, **kwargs):
    """Run one write or read on ``side``: the gate at its default, or at 0."""
    with monkeypatch.context() as mp:
        if side == SPARK:
            mp.setattr(gate, "DRIVER_MAX_ROWS", 0)
        return call(*args, **kwargs)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _parquet_files(path):
    return sorted(
        os.path.relpath(os.path.join(root, f), path)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    )


# ---------------------------------------------------------------- fact table


def _fact_readers(spark, path):
    """The table as read by the declared read, an inferring Spark read and
    DuckDB, each with ts as epoch micros so the engines compare exactly."""
    cols = ["event_id", "user_id", "event_type", "value", "props", "event_date"]
    declared = read_day_partitioned(spark, path)
    inferred = spark.read.parquet(path)
    for df in (declared, inferred):
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        assert df.schema["event_date"].dataType.simpleString() == "int"
    spark_rows = [
        _rows(df.select(F.unix_micros("ts").alias("us"), *cols)) for df in (declared, inferred)
    ]
    duck = duckdb.sql(
        f"SELECT epoch_us(ts) AS us, {', '.join(cols)} FROM read_parquet("
        f"'{path}/*/*.parquet', hive_partitioning=true)"
    ).fetchall()
    return spark_rows + [sorted(duck)]


@pytest.mark.parametrize("sides", [(DRIVER, DRIVER), (SPARK, SPARK), (SPARK, DRIVER), (DRIVER, SPARK)])
def test_fact_tables_read_the_same_from_either_path(spark, tmp_path, monkeypatch, sides):
    """A create then an append, each on its own path: the declared read,
    an inferring read and DuckDB return the same rows (ts a timestamp,
    event_date an int), a day predicate prunes, and the create left
    ``_SUCCESS`` and ``_schema.json``."""
    ev = _events(spark)
    path = str(tmp_path / "fact")
    _on(sides[0], monkeypatch, write_day_partitioned, ev.filter("event_id < 35"), path)
    assert os.path.isfile(os.path.join(path, "_SUCCESS"))
    assert os.path.isfile(os.path.join(path, "_schema.json"))
    _on(sides[1], monkeypatch, write_day_partitioned, ev.filter("event_id >= 35"), path, mode="append")

    want = _rows(
        ev.select(F.unix_micros("ts").alias("us"), "event_id", "user_id", "event_type",
                  "value", "props", F.date_format("ts", "yyyyMMdd").cast("int"))
    )
    for got in _fact_readers(spark, path):
        assert got == want
    one_day = read_day_partitioned(spark, path).filter(F.col("event_date") == 20240103)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    assert one_day.count() == 12


def test_timestamp_ntz_fact_keeps_its_encoding(spark, tmp_path):
    """The session's timestamp encoding (INT96 by default) would store a
    timestamp_ntz column as an instant, so such a frame takes the Spark
    write: a local INT64 timestamp that reads back as it went in."""
    import pyarrow.parquet as pq

    ev = _events(spark).withColumn("local_ts", F.col("ts").cast("timestamp_ntz"))
    path = str(tmp_path / "fact")
    write_day_partitioned(ev, path)
    got = read_day_partitioned(spark, path)
    assert got.schema["local_ts"].dataType.simpleString() == "timestamp_ntz"
    assert _rows(got.drop("event_date")) == _rows(ev)
    for p in _parquet_files(path):
        schema = pq.ParquetFile(os.path.join(path, p)).schema
        col = schema.column(schema.names.index("local_ts"))
        assert col.physical_type == "INT64" and "isAdjustedToUTC=false" in str(col.logical_type)


def test_driver_fact_parts_are_sorted_per_day(spark, tmp_path):
    """The driver write lands one part per day, without the partition
    column, sorted by the sort keys then the timestamp."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "fact")
    write_day_partitioned(_events(spark), path, sort_keys=("user_id",))
    parts = _parquet_files(path)
    assert len(parts) == 5 and all(p.split("/")[0].startswith("event_date=2024010") for p in parts)
    for p in parts:
        t = pq.read_table(os.path.join(path, p))
        assert "event_date" not in t.column_names
        keys = list(zip(t["user_id"].to_pylist(), t["ts"].to_pylist()))
        assert keys == sorted(keys)


# ---------------------------------------------------------------- rollup


def _read_both(spark, monkeypatch, path):
    """The rollup as read on each path; the two reads must agree."""
    driver, distributed = (_rows(_on(side, monkeypatch, read_rollup, spark, path))
                           for side in (DRIVER, SPARK))
    assert driver == distributed
    return driver


def _rollup_on(spark, monkeypatch, path, sides):
    """Three batches, on ``sides``, then a compaction on the last side;
    returns the rollup read, which the compaction keeps."""
    d = _day_level(_events(spark).withColumn("k", F.col("event_id") % 3))
    _on(sides[0], monkeypatch, write_rollup_batch, d.filter("k = 0").drop("k"), path, 0)
    _on(sides[1], monkeypatch, write_rollup_batch, d.filter("k = 1").drop("k"), path, 1)
    _on(sides[2], monkeypatch, write_rollup_batch, d.filter("k = 2").drop("k"), path, 2)
    before = _read_both(spark, monkeypatch, path)
    _on(sides[2], monkeypatch, compact_rollup, spark, path)
    compacted = _rows(spark.read.parquet(path))
    assert compacted == _read_both(spark, monkeypatch, path) == before
    return before


def test_rollups_read_the_same_from_either_path(spark, tmp_path, monkeypatch):
    """read_rollup on either path and the compacted files agree across
    the write paths and a mix of them, and equal a plain count."""
    want = _rows(_day_level(_events(spark)).groupBy("day", "level").agg(F.count("*").alias("total")))
    for sides in ((DRIVER,) * 3, (SPARK,) * 3, (DRIVER, SPARK, DRIVER), (SPARK, DRIVER, SPARK)):
        assert _rollup_on(spark, monkeypatch, str(tmp_path / "_".join(sides)), sides) == want


# ---------------------------------------------------------------- jobs


def _live_batch(spark, tmp_path):
    """A live micro-batch: 12 JSON wire files of 40 events, read as the
    ingest query reads them."""
    wire = tmp_path / "wire"
    wire.mkdir()
    for i in range(12):
        with open(wire / f"f-{i:03d}.json", "w") as f:
            for j in range(40):
                ts = f"2024-01-0{1 + (i + j) % 3}T{j % 24:02d}:00:00"
                f.write(json.dumps({"event_ts": ts, "level": ["a", "b", "c"][j % 3], "n": j}) + "\n")
    return spark.read.schema("event_ts timestamp, level string, n long").json(str(wire))


@pytest.mark.parametrize("side,jobs", [(DRIVER, 1), (SPARK, 3)])
def test_jobs_per_write(spark, tmp_path, monkeypatch, jobs_launched, side, jobs):
    """Below the gate an append and a rollup batch each run one job, the
    Arrow pull. With the gate at 0 each runs the size probe plus the
    Spark write's shuffle job and write job, and writes Spark's part
    names. A compaction runs one job fewer on either side: it sizes the
    partials from their footers, so below the gate it merges them in
    pyarrow with no job, and above it runs the two Spark jobs without a
    probe."""
    if side == SPARK:
        monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    batch = _live_batch(spark, tmp_path)
    fact, rollup = str(tmp_path / "fact"), str(tmp_path / "rollup")
    write_day_partitioned(batch, fact, ts_col="event_ts", sort_keys=("level",))
    before = set(_parquet_files(fact))
    partials = batch.select(F.to_date("event_ts").alias("day"), "level")
    assert jobs_launched(lambda: write_day_partitioned(
        batch, fact, ts_col="event_ts", sort_keys=("level",), mode="append")) == jobs
    assert jobs_launched(lambda: write_rollup_batch(partials, rollup, 0)) == jobs
    assert jobs_launched(lambda: compact_rollup(spark, rollup)) == jobs - 1
    spark_named = [p.endswith(".snappy.parquet") for p in set(_parquet_files(fact)) - before]
    assert len(spark_named) == 3 and all(spark_named) == (side == SPARK)


def test_filtered_rollup_read_runs_no_job(spark, tmp_path, jobs_launched):
    """Below the gate a dashboard's filtered rollup read, built and
    collected, runs no Spark job: the sums are a local relation."""
    d = _day_level(_events(spark))
    path = str(tmp_path / "rollup")
    write_rollup_batch(d, path, 0)
    compact_rollup(spark, path)
    write_rollup_batch(d, path, 1)
    got = []
    assert jobs_launched(lambda: got.extend(
        read_rollup(spark, path).where(F.col("day") >= F.lit("2024-01-03").cast("date")).collect()
    )) == 0
    want = d.where("day >= date'2024-01-03'").groupBy("day", "level").agg((2 * F.count("*")).alias("total"))
    assert sorted(tuple(r) for r in got) == _rows(want)


@pytest.mark.parametrize("side", [DRIVER, SPARK])
def test_missing_rollup_raises(spark, tmp_path, monkeypatch, side):
    """A missing rollup path raises, never reads as an empty rollup."""
    with pytest.raises(FileNotFoundError):
        _on(side, monkeypatch, read_rollup, spark, str(tmp_path / "absent"))


def test_read_racing_a_compaction_never_double_counts(spark, tmp_path, monkeypatch):
    """A compaction's swap that lands partway through a driver read,
    after the batch partials are opened and before the compacted
    ``part-00000.parquet`` is, gives the totals before the swap, the
    totals after it, or an error; never the two trees' files summed."""
    import shutil

    d = _day_level(_events(spark))
    path = str(tmp_path / "rollup")
    write_rollup_batch(d, path, 0)
    compact_rollup(spark, path)  # batch 0 becomes the flat part-00000.parquet
    write_rollup_batch(d, path, 1)
    write_rollup_batch(d, path, 2)
    want = _rows(read_rollup(spark, path))
    # the next compaction's merged tree, ready to swap in
    merged = str(tmp_path / "merged")
    shutil.copytree(path, merged)
    compact_rollup(spark, merged)
    _, tmp, _ = layout._swap_names(path)
    os.rename(merged, tmp)

    opened, swapped = [], []

    def racing_open(file, *args, **kwargs):
        if "batch-" in str(file):
            opened.append(file)
        elif str(file).endswith(".parquet") and opened and not swapped:
            swapped.append(file)
            layout._swap_in(path, tmp, folded=[])
        return open(file, *args, **kwargs)

    monkeypatch.setattr(layout, "open", racing_open, raising=False)
    try:
        got = _rows(read_rollup(spark, path))
    except FileNotFoundError:
        got = None  # the swap deleted the old tree under the read
    assert len(opened) == 2 and swapped, (opened, swapped)
    assert got in (None, want)
    monkeypatch.undo()
    assert _rows(read_rollup(spark, path)) == want


# ---------------------------------------------------------------- retry, visibility


@pytest.mark.parametrize("sides", [(SPARK, DRIVER), (DRIVER, SPARK)])
def test_retried_rollup_batch_leaves_one_copy(spark, tmp_path, monkeypatch, sides):
    """A batch rewritten under the same id on the other path replaces
    its first output: one parquet file, counted once."""
    d = _day_level(_events(spark))
    path = str(tmp_path / "rollup")
    for side in sides:
        _on(side, monkeypatch, write_rollup_batch, d, path, 7)
    assert len(_parquet_files(path)) == 1
    want = _rows(d.groupBy("day", "level").agg(F.count("*").alias("total")))
    assert _rows(read_rollup(spark, path)) == want


def test_leftover_temp_files_are_not_read(spark, tmp_path):
    """A writer killed mid-file leaves a ``.``-prefixed ``.tmp`` in a day
    dir or a batch dir; neither reader picks it up."""
    ev = _events(spark)
    fact, rollup = str(tmp_path / "fact"), str(tmp_path / "rollup")
    write_day_partitioned(ev, fact)
    write_rollup_batch(_day_level(ev), rollup, 0)
    before = (_rows(read_day_partitioned(spark, fact)), _rows(read_rollup(spark, rollup)))
    for d in (os.path.join(fact, "event_date=20240102"), os.path.join(rollup, f"batch-{0:010d}")):
        part = os.path.join(d, _parquet_files(d)[0])
        with open(part, "rb") as f:
            half = f.read()[:200]
        with open(os.path.join(d, ".part-dead.parquet.0a1b.tmp"), "wb") as f:
            f.write(half)
    after = (_rows(read_day_partitioned(spark, fact)), _rows(read_rollup(spark, rollup)))
    assert after == before


# ---------------------------------------------------------------- empty batches


@pytest.mark.parametrize("side", [DRIVER, SPARK])
def test_empty_batch_takes_a_tested_path(spark, tmp_path, monkeypatch, side):
    """An empty micro-batch: a first write gives a readable 0-row table
    with its schema record, an append adds no part, a rollup batch reads
    back as no rows, and a compaction over it succeeds."""
    if side == SPARK:
        monkeypatch.setattr(gate, "DRIVER_MAX_ROWS", 0)
    ev = _events(spark)
    empty = ev.limit(0)

    fresh = str(tmp_path / "fresh")
    write_day_partitioned(empty, fresh)
    assert os.path.isfile(os.path.join(fresh, "_schema.json"))
    got = read_day_partitioned(spark, fresh)
    assert got.count() == 0 and got.schema["event_date"].dataType.simpleString() == "int"

    fact = str(tmp_path / "fact")
    write_day_partitioned(ev, fact)
    parts = _parquet_files(fact)
    write_day_partitioned(empty, fact, mode="append")
    assert _parquet_files(fact) == parts

    rollup = str(tmp_path / "rollup")
    write_rollup_batch(_day_level(empty), rollup, 0)
    assert read_rollup(spark, rollup).count() == 0
    compact_rollup(spark, rollup)
    assert read_rollup(spark, rollup).count() == 0
