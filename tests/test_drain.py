"""The one streaming drain (streaming/drain.py): failure handling,
per-spec partition sizing, the declared read-back of ``drain_table``,
and a source scan that keeps every stream start inside it."""

from __future__ import annotations

import ast
import json
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.streaming import drain as drain_mod
from kafka_clickhouse_implementation_spark.streaming.drain import drain, drain_table

_KEY = "spark.sql.shuffle.partitions"
_SCHEMA = "k long, v long"


def _wire(path, n_files: int, rows_per_file: int) -> str:
    """A JSON replay wire of ``n_files`` files, keys cycling over 5."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(path, f"part-{i:04d}.json"), "w") as f:
            for j in range(rows_per_file):
                r = i * rows_per_file + j
                f.write(json.dumps({"k": r % 5, "v": r}) + "\n")
    return str(path)


def _stream(spark, wire: str, per_trigger: int | None = None):
    reader = spark.readStream.schema(_SCHEMA)
    if per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(per_trigger))
    return reader.json(wire)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_failed_drain_stops_its_siblings(spark, tmp_path):
    """A query that fails, or a later start that raises, stops every query
    the call already started and restores the partition setting."""
    before = spark.conf.get(_KEY)
    wire = _wire(tmp_path / "wire", 24, 4)
    failing = _stream(spark, wire).select(
        "k", F.raise_error(F.concat(F.lit("boom "), F.col("v").cast("string"))).alias("e")
    )
    # one file per trigger, so the sibling is still running when the
    # first query fails
    slow = _stream(spark, wire, per_trigger=1).groupBy("k").count()
    with pytest.raises(Exception, match="boom"):
        drain(
            spark,
            (failing, "t_drain_failing", str(tmp_path / "ckpt_fail"), "append"),
            (slow, "t_drain_slow", str(tmp_path / "ckpt_slow"), "complete"),
        )
    assert spark.streams.active == []
    assert spark.conf.get(_KEY) == before

    # complete mode without an aggregation: the second start raises
    plain = _stream(spark, wire)
    with pytest.raises(Exception):
        drain(
            spark,
            (slow, "t_drain_slow2", str(tmp_path / "ckpt_slow2"), "complete"),
            (plain, "t_drain_bad", str(tmp_path / "ckpt_bad"), "complete"),
        )
    assert spark.streams.active == []
    assert spark.conf.get(_KEY) == before


def _recorded_partitions(ckpt: str) -> int:
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"][_KEY])


def test_each_spec_gets_its_own_partition_count(spark, tmp_path, monkeypatch):
    """Each spec's checkpoint records the count derived from its own wire;
    the session value is unchanged afterwards."""
    monkeypatch.setattr(drain_mod, "_STREAM_PARTITION_BYTES", 512)
    small = _wire(tmp_path / "small", 4, 24)
    large = _wire(tmp_path / "large", 12, 48)

    def expected(wire: str) -> int:
        total = sum(os.path.getsize(os.path.join(wire, f)) for f in os.listdir(wire))
        floor = max(2, spark.sparkContext.defaultParallelism // 4)
        return max(floor, math.ceil(total / 512))

    want_small, want_large = expected(small), expected(large)
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    assert floor < want_small < want_large < 64

    old = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "64")  # the ceiling the derived counts lower
    try:
        ckpt_s, ckpt_l = str(tmp_path / "ckpt_s"), str(tmp_path / "ckpt_l")
        drain(
            spark,
            (_stream(spark, small).groupBy("k").count(), "t_drain_small", ckpt_s, "complete"),
            (_stream(spark, large).groupBy("k").count(), "t_drain_large", ckpt_l, "complete"),
        )
        assert _recorded_partitions(ckpt_s) == want_small
        assert _recorded_partitions(ckpt_l) == want_large
        assert spark.conf.get(_KEY) == "64"
    finally:
        spark.conf.set(_KEY, old)


@pytest.mark.parametrize("mode", ["update", "append"])
def test_drain_table_reads_back_without_inference(spark, tmp_path, jobs_launched, mode):
    """The returned frame builds with no Spark job and equals an inferring
    read of the same table: an update-mode aggregate, an append-mode
    dedup."""
    wire = _wire(tmp_path / "wire", 6, 5)
    stream = _stream(spark, wire, per_trigger=2)
    if mode == "update":
        out = stream.groupBy("v").agg(F.count(F.lit(1)).alias("n"), F.max("k").alias("k"))
    else:
        out = stream.dropDuplicates(["v"]).select("v", "k")
    path = str(tmp_path / "table")
    built = []
    # stream jobs run under each query's own job group, so only the
    # read-back counts here; an inferring read of the table counts >= 1
    assert jobs_launched(
        lambda: built.append(drain_table(spark, out, path, str(tmp_path / "ckpt"), mode=mode))
    ) == 0
    assert jobs_launched(lambda: spark.read.parquet(path)) >= 1
    got = built[-1]
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert _sorted_rows(got) == _sorted_rows(inferred)
    assert len(_sorted_rows(got)) == 30


def _allowed_lines(rel: str, tree) -> set[int]:
    """Lines of ``rel`` that may start or await a stream: the sinks'
    usage docstring."""
    lines = set()
    for node in ast.walk(tree):
        if rel == "sources/sinks.py" and isinstance(node, ast.FunctionDef):
            doc = node.body[0]
            if isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant):
                lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_clickhouse_implementation_spark",
)


def _package_sources():
    """(path relative to the package, source) of every package module."""
    for root, _dirs, files in os.walk(_PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, _PKG).replace(os.sep, "/"), f.read()


def test_streams_start_only_in_drain():
    """No package module outside streaming/drain.py starts or awaits a
    stream, except the sinks' usage docstring."""
    hits = []
    for rel, src in _package_sources():
        if rel == "streaming/drain.py":
            continue
        allowed = _allowed_lines(rel, ast.parse(src))
        for i, line in enumerate(src.splitlines(), 1):
            if (".writeStream" in line or "awaitTermination(" in line) and i not in allowed:
                hits.append(f"{rel}:{i}: {line.strip()}")
    assert hits == [], "streams started outside streaming/drain.py:\n" + "\n".join(hits)


# pyspark.ml, a second materialization convention beside localCheckpoint,
# and import-time experiment switches
_RETIRED = re.compile(
    r"pyspark\.ml\b|\.cache\(\)|\.persist\(|unpersist|SPARK_GRAFT_NB_"
)


def test_no_retired_surface():
    """No package module imports pyspark.ml, calls .cache(), .persist(
    or unpersist, or reads a SPARK_GRAFT_NB_ variable: frames are pinned
    with localCheckpoint, and the NB feature space is fixed."""
    hits = [
        f"{rel}:{i}: {line.strip()}"
        for rel, src in _package_sources()
        for i, line in enumerate(src.splitlines(), 1)
        if _RETIRED.search(line)
    ]
    assert hits == [], "retired surface in the package:\n" + "\n".join(hits)
