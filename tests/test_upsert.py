"""Tests for the ReplacingMergeTree-style upsert layout."""

from __future__ import annotations

import os

from kafka_clickhouse_implementation_spark.plans.upsert import (
    append_versions,
    compact_versions,
    read_latest,
    stamp,
    stamped_or_reset,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ver long")


def test_read_latest_resolves_newest_version(spark, tmp_path):
    path = str(tmp_path / "t")
    append_versions(_df(spark, [(1, "a", 1), (2, "x", 1)]), path)
    append_versions(_df(spark, [(1, "b", 2), (3, "z", 1)]), path)
    got = {r["k"]: (r["v"], r["ver"]) for r in read_latest(spark, path, ("k",), "ver").collect()}
    assert got == {1: ("b", 2), 2: ("x", 1), 3: ("z", 1)}


def test_compact_preserves_latest_and_shrinks(spark, tmp_path):
    path = str(tmp_path / "t")
    append_versions(_df(spark, [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "x", 1)]), path)
    before = {r["k"]: r["v"] for r in read_latest(spark, path, ("k",), "ver").collect()}
    compact_versions(spark, path, ("k",), "ver")
    after = {r["k"]: r["v"] for r in read_latest(spark, path, ("k",), "ver").collect()}
    assert before == after == {1: "c", 2: "x"}
    assert spark.read.parquet(path).count() == 2  # versions collapsed


def test_compact_with_drop_keys_materializes_deletes(spark, tmp_path):
    """C183: compaction with drop_keys physically removes deleted
    keys, so compacted-plain-read == marker-anti-join read of the
    uncompacted table (the _row_exists contract on the versioned
    store)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    append_versions(
        _df(spark, [(1, "a", 1), (1, "b", 2), (2, "x", 1), (3, "z", 1)]),
        path,
    )
    marks = spark.createDataFrame([(2,)], "k long")
    masked = {
        r["k"]: r["v"]
        for r in read_latest(spark, path, ("k",), "ver")
        .join(F.broadcast(marks), "k", "left_anti")
        .collect()
    }
    compact_versions(spark, path, ("k",), "ver", drop_keys=marks)
    plain = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert plain == masked == {1: "b", 3: "z"}


def test_index_delete_read_path_matches_compacted(spark, tmp_path):
    """C183 end-to-end on the REAL coded table: after the upsert wire
    drains, anti-join read path == compact(drop_keys) plain read, and
    no deleted vec_id survives either."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.streaming.vector_stream import (
        DELETE_MOD,
        DELETE_RES,
        index_delete_markers,
        stream_ann_index_upsert,
    )
    import os as _os
    import shutil as _shutil

    SF = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    _root, path = stream_ann_index_upsert(spark, SF)
    # compact into a COPY so the shared wire table stays intact for
    # other tests/queries
    cpath = str(tmp_path / "coded_copy")
    _shutil.copytree(path, cpath)
    marks = index_delete_markers(spark, SF)
    masked = read_latest(spark, cpath, ("vec_id", "sub"), "version").join(
        F.broadcast(marks), "vec_id", "left_anti"
    )
    masked_rows = {
        (r.vec_id, r.sub): (r.cid, r.version) for r in masked.collect()
    }
    compact_versions(
        spark, cpath, ("vec_id", "sub"), "version", drop_keys=marks
    )
    plain_rows = {
        (r.vec_id, r.sub): (r.cid, r.version)
        for r in spark.read.parquet(cpath).collect()
    }
    assert plain_rows == masked_rows
    assert not any(
        vid % DELETE_MOD == DELETE_RES for vid, _ in plain_rows
    )


def test_stamp_keeps_or_resets_a_maintained_table(tmp_path):
    """A matching stamp with every dir present keeps them; a stamp of
    another product build, or a missing dir, removes the marker and the
    dependent markers, then the dirs."""
    table, ckpt = tmp_path / "t", tmp_path / "ckpt"
    marker, dep = str(tmp_path / "t_DRAINED"), str(tmp_path / "t_RECODED")

    def lay_down(identity):
        for d in (table, ckpt):
            os.makedirs(d, exist_ok=True)
        stamp(marker, identity)
        stamp(dep, "other")

    lay_down("build-1")
    assert stamped_or_reset(marker, "build-1", str(table), str(ckpt), dependents=(dep,))
    assert table.is_dir() and os.path.exists(dep)
    assert not stamped_or_reset(marker, "build-2", str(table), str(ckpt), dependents=(dep,))
    assert not any(os.path.exists(p) for p in (table, ckpt, marker, dep))

    lay_down("build-1")
    os.rmdir(ckpt)
    assert not stamped_or_reset(marker, "build-1", str(table), str(ckpt), dependents=(dep,))
    assert not any(os.path.exists(p) for p in (table, marker, dep))
