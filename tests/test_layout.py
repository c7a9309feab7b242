"""Tests for the physical layout patterns (MergeTree / SummingMergeTree
analogues in plans.layout)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.plans.layout import (
    compact_rollup,
    read_day_partitioned,
    read_rollup,
    write_day_partitioned,
    write_rollup_batch,
)
from kafka_clickhouse_implementation_spark.schemas import EVENTS_SCHEMA


def _events(spark, n=50):
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, i % 24), i % 7, ["click", "view"][i % 2], 1.0, None)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema=EVENTS_SCHEMA)


def test_day_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "fact")
    write_day_partitioned(_events(spark), path)
    fact = spark.read.parquet(path)
    one_day = fact.filter(F.col("event_date") == "20240103")
    # partition pruning visible in the physical plan
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert one_day.count() == 10
    assert "event_date" not in [f.name for f in one_day.schema.fields if f.name == "nonexistent"]
    assert "PartitionFilters" in plan or "20240103" in plan


def test_rollup_partials_reaggregate(spark, tmp_path):
    """Two appended batches of partials must re-aggregate to the global
    counts — the unmerged-SummingMergeTree reader contract."""
    path = str(tmp_path / "rollup")
    ev = _events(spark, 40)
    d = ev.select("event_id", F.to_date("ts").alias("day"), F.col("event_type").alias("level"))
    write_rollup_batch(d.filter(F.col("event_id") % 2 == 0).drop("event_id"), path, 0)
    write_rollup_batch(d.filter(F.col("event_id") % 2 == 1).drop("event_id"), path, 1)
    d = d.drop("event_id")
    got = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    want = {
        (str(r["day"]), r["level"]): r["n"]
        for r in d.groupBy("day", "level").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_rollup_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch retry semantics: re-writing the same batch_id must
    REPLACE its partials (overwrite into the batch-keyed subdir), not
    double-count them — the mid-batch-crash exactly-once contract."""
    path = str(tmp_path / "rollup3")
    ev = _events(spark, 40)
    d = ev.select("event_id", F.to_date("ts").alias("day"), F.col("event_type").alias("level"))
    b0 = d.filter(F.col("event_id") % 2 == 0).drop("event_id")
    b1 = d.filter(F.col("event_id") % 2 == 1).drop("event_id")
    write_rollup_batch(b0, path, 0)
    write_rollup_batch(b1, path, 1)
    write_rollup_batch(b1, path, 1)  # the crash-retry of batch 1
    got = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    want = {
        (str(r["day"]), r["level"]): r["n"]
        for r in d.groupBy("day", "level").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_compact_rollup_mixes_with_batch_dirs(spark, tmp_path):
    """Compaction must coexist with later per-batch subdirectories:
    compact, then stream two more batches, and the reader still sums
    everything (recursiveFileLookup over flat + nested files)."""
    path = str(tmp_path / "rollup4")
    ev = _events(spark, 30)
    d = ev.select(F.to_date("ts").alias("day"), F.col("event_type").alias("level"))
    write_rollup_batch(d, path, 0)
    compact_rollup(spark, path)
    write_rollup_batch(d, path, 1)
    got = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    want = {
        (str(r["day"]), r["level"]): 2 * r["n"]
        for r in d.groupBy("day", "level").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_compact_rollup_preserves_totals(spark, tmp_path):
    path = str(tmp_path / "rollup2")
    ev = _events(spark, 30)
    d = ev.select(F.to_date("ts").alias("day"), F.col("event_type").alias("level"))
    write_rollup_batch(d, path, 0)
    write_rollup_batch(d, path, 1)  # duplicate partials
    before = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    compact_rollup(spark, path)
    after = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    assert before == after
    # compacted: one row per key on disk now
    raw = spark.read.parquet(path)
    assert raw.count() == raw.select("day", "level").distinct().count()


def test_compact_rollup_restores_parked_dir_after_crash(spark, tmp_path):
    """Crash simulation: death between the swap's two renames leaves the
    rollup parked at __compact_old and `path` missing — the next
    compaction must restore it, losing nothing."""
    import os

    path = str(tmp_path / "rollup3")
    d = _events(spark, 30).select(
        F.to_date("ts").alias("day"), F.col("event_type").alias("level")
    )
    write_rollup_batch(d, path, 0)
    before = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    os.rename(path, path + "__compact_old")  # the mid-swap crash state
    compact_rollup(spark, path)
    after = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    assert before == after


def test_compact_rollup_folds_parked_dir_when_path_recreated(spark, tmp_path):
    """Crash simulation, worse case: after the mid-swap crash the single
    writer already recreated `path` with NEW partials before the next
    compaction ran. The parked pre-crash rows must be folded into the
    merge, not discarded."""
    import os

    path = str(tmp_path / "rollup4")
    d = _events(spark, 30).select(
        F.to_date("ts").alias("day"), F.col("event_type").alias("level")
    )
    write_rollup_batch(d, path, 0)
    os.rename(path, path + "__compact_old")  # mid-swap crash
    write_rollup_batch(d, path, 1)  # writer resumed: fresh partials
    compact_rollup(spark, path)
    got = {(str(r["day"]), r["level"]): r["total"] for r in read_rollup(spark, path).collect()}
    want = {
        (str(r["day"]), r["level"]): 2 * r["total"]
        for r in d.groupBy("day", "level").agg(F.count("*").alias("total")).collect()
    }
    assert got == want
    assert not os.path.exists(path + "__compact_old")


def _rollup_totals(spark, path):
    return {
        (str(r["day"]), r["level"]): r["total"]
        for r in read_rollup(spark, path).collect()
    }


def test_compact_rollup_completes_swap_after_marker_crash(spark, tmp_path):
    """ADVICE r3 data-loss window: a fold-case crash AFTER the old dir
    was already incorporated into tmp and `path` renamed away used to
    leave tmp as the parked rows' ONLY copy — and the next compaction
    overwrote tmp without reading it. With the marker protocol the next
    compaction completes the interrupted swap from tmp instead."""
    import os

    path = str(tmp_path / "rollup5")
    d = _events(spark, 30).select(
        F.to_date("ts").alias("day"), F.col("event_type").alias("level")
    )
    write_rollup_batch(d, path, 0)
    before = _rollup_totals(spark, path)
    # crash state: tmp fully written, marker committed, path parked
    read_rollup(spark, path).write.mode("overwrite").parquet(path + "__compact_tmp")
    os.rename(path, path + "__compact_old")
    with open(path + "__swap_started", "w"):
        pass
    compact_rollup(spark, path)
    assert _rollup_totals(spark, path) == before
    for leftover in ("__compact_old", "__compact_tmp", "__swap_started"):
        assert not os.path.exists(path + leftover)


def test_compact_rollup_marker_crash_with_recreated_path(spark, tmp_path):
    """Same crash point, but the single writer recreated `path` with NEW
    partials before the next compaction: the committed tmp must be
    parked and folded (its rows are in neither path nor anywhere else),
    and nothing is double-counted."""
    import os

    path = str(tmp_path / "rollup6")
    d = _events(spark, 30).select(
        F.to_date("ts").alias("day"), F.col("event_type").alias("level")
    )
    write_rollup_batch(d, path, 0)
    read_rollup(spark, path).write.mode("overwrite").parquet(path + "__compact_tmp")
    os.rename(path, path + "__compact_old")
    with open(path + "__swap_started", "w"):
        pass
    write_rollup_batch(d, path, 1)  # writer resumed: fresh partials
    compact_rollup(spark, path)
    want = {
        (str(r["day"]), r["level"]): 2 * r["total"]
        for r in d.groupBy("day", "level").agg(F.count("*").alias("total")).collect()
    }
    assert _rollup_totals(spark, path) == want
    import glob

    assert glob.glob(path + "__compact_*") == []


def test_compact_rollup_discards_uncommitted_tmp(spark, tmp_path):
    """A tmp WITHOUT the marker is an aborted merge write whose rows all
    still live at `path` — folding it would double-count; it must be
    discarded."""
    import os

    path = str(tmp_path / "rollup7")
    d = _events(spark, 30).select(
        F.to_date("ts").alias("day"), F.col("event_type").alias("level")
    )
    write_rollup_batch(d, path, 0)
    before = _rollup_totals(spark, path)
    read_rollup(spark, path).write.mode("overwrite").parquet(path + "__compact_tmp")
    compact_rollup(spark, path)
    assert _rollup_totals(spark, path) == before
    assert not os.path.exists(path + "__compact_tmp")


def test_compact_versions_folds_parked_remnant(spark, tmp_path):
    """ReplacingMergeTree compaction shares the swap protocol: a parked
    remnant's row versions must survive recovery and lose only to newer
    versions."""
    import os

    from kafka_clickhouse_implementation_spark.plans.upsert import (
        append_versions,
        compact_versions,
        read_latest,
    )

    path = str(tmp_path / "versions")
    v1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k int, v int, val string")
    append_versions(v1, path)
    os.rename(path, path + "__compact_old")  # mid-swap crash
    v2 = spark.createDataFrame([(1, 2, "a2")], "k int, v int, val string")
    append_versions(v2, path)  # writer resumed with a newer version of k=1
    compact_versions(spark, path, ("k",), "v")
    got = {(r["k"], r["v"], r["val"]) for r in read_latest(spark, path, ("k",), "v").collect()}
    assert got == {(1, 2, "a2"), (2, 1, "b")}
    import glob

    assert glob.glob(path + "__compact_*") == []


def test_expire_partitions_is_partition_level_ttl(spark, tmp_path):
    """Dropping expired days must remove exactly the old partitions and
    leave survivors byte-identical (no rewrite), and the pruned scan
    must still work."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.plans.layout import (
        expire_partitions,
        read_day_partitioned,
        write_day_partitioned,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "fact")
    write_day_partitioned(ev, path)

    before = read_day_partitioned(spark, path)
    days = sorted(r.event_date for r in before.select("event_date").distinct().collect())
    cutoff = days[5]
    expected_keep = before.filter(F.col("event_date") >= cutoff).count()

    dropped = expire_partitions(path, keep_from=cutoff)
    assert dropped == [str(d) for d in days[:5]]

    after = read_day_partitioned(spark, path)
    assert after.count() == expected_keep
    assert sorted(r.event_date for r in after.select("event_date").distinct().collect()) == days[5:]


def test_detach_attach_partition_roundtrip(spark, tmp_path):
    """C172: DETACH makes a day invisible to readers (one rename, no
    rewrite), ATTACH restores it byte-identically; detaching a missing
    partition raises instead of silently no-opping."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from kafka_clickhouse_implementation_spark.plans.layout import (
        attach_partition,
        detach_partition,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [(i, f"2024-01-{15 + i % 2:02d} 00:00:0{i % 10}") for i in range(20)],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    path = str(tmp_path / "fact")
    write_day_partitioned(df, path, ts_col="ts", sort_keys=("user_id",))
    full = spark.read.parquet(path).count()
    day15 = (
        spark.read.parquet(path).filter(F.col("event_date") == "20240115").count()
    )
    assert full == 20 and 0 < day15 < 20
    detach_partition(path, "20240115")
    assert spark.read.parquet(path).count() == full - day15
    assert os.path.isdir(os.path.join(path, "_detached", "event_date=20240115"))
    attach_partition(path, "20240115")
    assert spark.read.parquet(path).count() == full
    with pytest.raises(FileNotFoundError):
        detach_partition(path, "19990101")
    with pytest.raises(FileNotFoundError):
        attach_partition(path, "19990101")


# ---------------------------------------------------------------- declared schemas


def _inferred_rollup(spark, *paths):
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(*paths)
        .groupBy("day", "level")
        .agg(F.sum("total").alias("total"))
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _day_level(spark, n=40):
    return _events(spark, n).select(
        "event_id", F.to_date("ts").alias("day"), F.col("event_type").alias("level")
    )


def test_declared_reads_launch_no_job(spark, tmp_path, jobs_launched):
    """Building a rollup or fact-table read plans from the declared
    schema: no footer-reading inference job, where an inferring read of
    the same dirs launches one."""
    fact, rollup = str(tmp_path / "fact"), str(tmp_path / "rollup")
    write_day_partitioned(_events(spark), fact)
    write_rollup_batch(_day_level(spark).drop("event_id"), rollup, 0)
    assert jobs_launched(lambda: spark.read.parquet(fact)) >= 1
    assert jobs_launched(lambda: read_rollup(spark, rollup)) == 0
    assert jobs_launched(lambda: read_day_partitioned(spark, fact)) == 0

    # past Spark's default parallel-listing threshold (32 sub-dirs) the
    # listing still runs on the driver: 40 day partitions, 40 batch dirs
    import shutil

    wide_fact, wide_rollup = str(tmp_path / "wide_fact"), str(tmp_path / "wide_rollup")
    days = _events(spark, 80).withColumn(
        "ts", F.expr("timestamp'2024-01-01' + make_interval(0, 0, 0, event_id % 40)")
    )
    write_day_partitioned(days, wide_fact)
    write_rollup_batch(_day_level(spark).drop("event_id"), wide_rollup, 0)
    for b in range(1, 40):
        shutil.copytree(f"{wide_rollup}/batch-{0:010d}", f"{wide_rollup}/batch-{b:010d}")
    assert jobs_launched(lambda: read_day_partitioned(spark, wide_fact)) == 0
    assert jobs_launched(lambda: read_rollup(spark, wide_rollup)) == 0


def test_declared_rollup_reads_equal_inferred(spark, tmp_path):
    """The declared rollup read returns what inference returned, over
    batch-* subdirs, a compaction's flat partial file and, in
    compaction, a parked dir."""
    import os

    path = str(tmp_path / "rollup")
    d = _day_level(spark)
    write_rollup_batch(d.filter("event_id % 3 = 0").drop("event_id"), path, 0)
    compact_rollup(spark, path)  # batch 0 becomes the flat part-00000.parquet
    write_rollup_batch(d.filter("event_id % 3 = 1").drop("event_id"), path, 1)
    write_rollup_batch(d.filter("event_id % 3 = 2").drop("event_id"), path, 2)
    declared, inferred = read_rollup(spark, path), _inferred_rollup(spark, path)
    assert declared.schema == inferred.schema
    assert _sorted_rows(declared) == _sorted_rows(inferred)

    parked = path + "__compact_parked_000"
    write_rollup_batch(d.drop("event_id"), parked, 0)
    want = _sorted_rows(_inferred_rollup(spark, path, parked))
    compact_rollup(spark, path)
    assert _sorted_rows(read_rollup(spark, path)) == want
    assert not os.path.exists(parked)


def test_declared_fact_read_equals_inferred(spark, tmp_path):
    """The recorded schema is the inferred one (event_date an int), the
    rows match after an append, and day predicates still prune."""
    import os

    path = str(tmp_path / "fact")
    ev = _events(spark)
    write_day_partitioned(ev.filter("event_id < 30"), path)
    write_day_partitioned(ev.filter("event_id >= 30"), path, mode="append")
    assert os.path.isfile(os.path.join(path, "_schema.json"))
    declared, inferred = read_day_partitioned(spark, path), spark.read.parquet(path)
    assert declared.schema == inferred.schema
    assert declared.schema["event_date"].dataType.simpleString() == "int"
    assert _sorted_rows(declared) == _sorted_rows(inferred) and declared.count() == 50
    one_day = declared.filter(F.col("event_date") == 20240103)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    assert one_day.count() == 10


def _files(path):
    import os

    return sorted(
        (os.path.relpath(os.path.join(root, f), path), os.path.getsize(os.path.join(root, f)))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def test_mismatched_append_raises_and_writes_nothing(spark, tmp_path):
    """An append whose columns differ from the recorded schema (one
    missing, one retyped) raises before writing, and so does a rollup
    batch whose columns are not the DDL's."""
    import pytest

    path = str(tmp_path / "fact")
    ev = _events(spark)
    write_day_partitioned(ev, path)
    before = _files(path)
    for bad in (ev.drop("props"), ev.withColumn("value", F.col("value").cast("string"))):
        with pytest.raises(ValueError, match="differ"):
            write_day_partitioned(bad, path, mode="append")
    assert _files(path) == before

    rollup = str(tmp_path / "rollup")
    bad_day = _day_level(spark).select(F.col("day").cast("string").alias("day"), "level")
    with pytest.raises(ValueError, match="do not match"):
        write_rollup_batch(bad_day, rollup, 0)
    assert not (tmp_path / "rollup").exists()


def test_fact_without_recorded_schema_still_reads(spark, tmp_path):
    """A fact dir written before schemas were recorded has no record; it
    is read with inference, and an append to it writes none."""
    import os

    path = str(tmp_path / "fact")
    ev = _events(spark)
    write_day_partitioned(ev.filter("event_id < 30"), path)
    os.remove(os.path.join(path, "_schema.json"))
    write_day_partitioned(ev.filter("event_id >= 30"), path, mode="append")
    assert not os.path.exists(os.path.join(path, "_schema.json"))
    got = read_day_partitioned(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.count() == 50
