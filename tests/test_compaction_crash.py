"""Systematic crash-point testing for the marker-committed compaction
swap protocol (plans/layout.py).

Rather than hand-picking crash states, inject a crash at EVERY Python
filesystem operation (os.rename / os.remove / shutil.rmtree) the
protocol performs, in order, and assert the invariant the module
promises: after recovery (the next compact_rollup) the rollup's totals
are exactly preserved — no committed row lost, none double-counted —
even when the single writer appends NEW partials between the crash and
the recovery (the fold case that round 3's ADVICE showed could lose
data under the old protocol).

The parquet writes themselves (pyarrow below the driver gate, Spark's
above it) are not intercepted here; their failure mode (a half-written
__compact_tmp without the marker) is covered by
test_layout.test_compact_rollup_discards_uncommitted_tmp.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.plans.layout import (
    compact_rollup,
    read_rollup,
    write_rollup_batch,
)
from kafka_clickhouse_implementation_spark.schemas import EVENTS_SCHEMA


class _Crash(Exception):
    pass


class _FsCrasher:
    """Raises _Crash on the N-th intercepted filesystem call."""

    def __init__(self, monkeypatch, crash_at: int):
        self.remaining = crash_at
        self.calls = 0
        real_rename, real_remove, real_rmtree = os.rename, os.remove, shutil.rmtree

        def _gate():
            self.calls += 1
            if self.remaining == 0:
                raise _Crash()
            self.remaining -= 1

        def rename(src, dst, **kw):
            _gate()
            return real_rename(src, dst, **kw)

        def remove(p, **kw):
            _gate()
            return real_remove(p, **kw)

        def rmtree(p, **kw):
            _gate()
            return real_rmtree(p, **kw)

        monkeypatch.setattr(os, "rename", rename)
        monkeypatch.setattr(os, "remove", remove)
        monkeypatch.setattr(shutil, "rmtree", rmtree)


def _totals(spark, path):
    return {
        (str(r["day"]), r["level"]): r["total"]
        for r in read_rollup(spark, path).collect()
    }


def _partials(spark, n=30):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, i % 24), i % 7,
         ["click", "view"][i % 2], 1.0, None)
        for i in range(n)
    ]
    ev = spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
    return ev.select(F.to_date("ts").alias("day"), F.col("event_type").alias("level"))


@pytest.mark.parametrize("writer_resumes", [False, True])
def test_compaction_totals_survive_crash_at_every_fs_op(
    spark, tmp_path, monkeypatch, writer_resumes
):
    d = _partials(spark)
    base_want = {k: 2 * v for k, v in (
        (k, r) for k, r in (
            ((str(x["day"]), x["level"]), x["n"])
            for x in d.groupBy("day", "level").agg(F.count("*").alias("n")).collect()
        )
    )}
    crash_at = 0
    while True:
        path = str(tmp_path / f"rollup_{writer_resumes}_{crash_at}")
        write_rollup_batch(d, path, 0)
        write_rollup_batch(d, path, 1)  # duplicate partials: merge is non-trivial
        want = dict(base_want)
        with pytest.MonkeyPatch.context() as mp:
            crasher = _FsCrasher(mp, crash_at)
            try:
                compact_rollup(spark, path)
                crashed = False
            except _Crash:
                crashed = True
        if writer_resumes and crashed:
            # the single writer comes back first and appends NEW rows
            write_rollup_batch(d, path, 2)
            want = {k: v + v // 2 for k, v in want.items()}
        # recovery: the next compaction must repair any crash state
        compact_rollup(spark, path)
        assert _totals(spark, path) == want, (
            f"crash at fs-op {crash_at} (writer_resumes={writer_resumes}) "
            "lost or double-counted rows"
        )
        import glob

        assert glob.glob(path + "__compact_*") == [], f"remnants after crash {crash_at}"
        assert not os.path.exists(path + "__swap_started")
        if not crashed:  # the whole protocol ran without reaching the fuse
            break
        crash_at += 1
    assert crash_at >= 3  # sanity: the sweep actually exercised crash points
