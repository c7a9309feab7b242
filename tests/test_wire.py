"""The one replay-wire writer and reader (sources/streams.py): key
order, arrival order, readiness, the schema record, the doubled
copies, and a source scan that keeps every wire write and read inside
them."""

from __future__ import annotations

import ast
import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from test_drain import _package_sources

from kafka_clickhouse_implementation_spark.cachedirs import source_tagged_dir
from kafka_clickhouse_implementation_spark.plans.layout import SCHEMA_FILE, recorded_schema
from kafka_clickhouse_implementation_spark.sources import streams
from kafka_clickhouse_implementation_spark.sources.streams import (
    WIRE_MARKER,
    doubled_wire,
    read_wire,
    wire_ready,
    write_wire,
)
from kafka_clickhouse_implementation_spark.streaming import funnel
from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain
from kafka_clickhouse_implementation_spark.streaming.vector_stream import embedding_wire

# what a published wire dir holds besides its parts
_META = [WIRE_MARKER, SCHEMA_FILE]


def _shuffled(spark, n: int = 400):
    """``n`` rows whose key ``k`` runs 0..n-1 in a scrambled order."""
    return spark.range(n).select(((F.col("id") * 7919) % n).alias("k"), F.col("id").alias("v"))


def _mtimes(d: str) -> dict[str, float]:
    return {n: os.path.getmtime(os.path.join(d, n)) for n in os.listdir(d) if n not in _META}


def test_one_file_per_trigger_replays_in_key_order(spark, tmp_path):
    """A maxFilesPerTrigger=1 drain of a 4-part wire gets its batches
    in key order: each batch's keys lie above every earlier batch's."""
    wire = str(tmp_path / "wire")
    write_wire(_shuffled(spark), wire, ("k",))
    assert sorted(os.listdir(wire)) == _META + [f"part-{i:05d}.json" for i in range(4)]
    ranges = []

    def record(bdf, _epoch):
        r = bdf.agg(F.min("k").alias("lo"), F.max("k").alias("hi"), F.count("*").alias("n")).first()
        if r["n"]:
            ranges.append((r["lo"], r["hi"]))

    drain(spark, (read_wire(spark, wire, 1), record, str(tmp_path / "ckpt"), "append"))
    assert len(ranges) == 4
    assert ranges[0][0] == 0 and ranges[-1][1] == 399
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))


def test_doubled_wire_schedules(spark, tmp_path):
    """Dups published after the originals are all newer than every
    original; interleaved dups keep orig_i < dup_i < orig_i+1."""
    src = str(tmp_path / "wire")
    write_wire(_shuffled(spark), src, ("k",))

    after = _mtimes(doubled_wire(src, str(tmp_path / "after")))
    origs = [after[f"part-{i:05d}.json"] for i in range(4)]
    dups = [after[f"dup-{i:05d}.json"] for i in range(4)]
    assert len(after) == 8 and max(origs) < min(dups)
    assert origs == sorted(origs) and dups == sorted(dups)

    inter = _mtimes(doubled_wire(src, str(tmp_path / "inter"), interleaved=True))
    order = [inter[n] for i in range(4) for n in (f"part-{i:05d}.json", f"dup-{i:05d}.json")]
    assert len(inter) == 8 and all(a < b for a, b in zip(order, order[1:]))
    with open(os.path.join(src, "part-00000.json")) as f, open(
        os.path.join(tmp_path / "inter", "dup-00000.json")
    ) as g:
        assert f.read() == g.read()


@pytest.fixture
def own_cache(monkeypatch, tmp_path):
    """Cache dirs under ``tmp_path``, so a builder's wire is this test's own."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def test_failed_build_leaves_no_ready_wire(spark, sf_dir, monkeypatch, own_cache):
    """A build that raises midway leaves no ready wire, and the next
    call rebuilds it."""
    real = streams.load

    def failing(spark, sf_dir, table):
        ev = real(spark, sf_dir, table)
        boom = F.when(F.col("event_id") % 50 == 7, F.raise_error("boom"))
        return ev.withColumn("event_type", boom.otherwise(F.col("event_type")))

    monkeypatch.setattr(streams, "load", failing)
    with pytest.raises(Exception, match="boom"):
        funnel.ordered_event_wire(spark, sf_dir)
    wire = os.path.join(source_tagged_dir("stateful2", sf_dir, "events"), "wire")
    assert not wire_ready(wire)

    monkeypatch.setattr(streams, "load", real)
    assert funnel.ordered_event_wire(spark, sf_dir)[0] == wire
    assert wire_ready(wire)
    n = read_wire(spark, wire, batch=True).count()
    assert n == real(spark, sf_dir, "events").count()


def test_wire_marked_only_by_spark_is_rebuilt(spark, sf_dir, own_cache):
    """A wire dir holding only Spark's ``_SUCCESS`` (how wires were
    marked before the writer) is rebuilt, not replayed empty."""
    wire = os.path.join(source_tagged_dir("stateful2", sf_dir, "events"), "wire")
    os.makedirs(wire)
    open(os.path.join(wire, "_SUCCESS"), "w").close()
    assert funnel.ordered_event_wire(spark, sf_dir)[0] == wire
    assert sorted(os.listdir(wire)) == _META + [f"part-{i:05d}.json" for i in range(4)]


def test_split_and_doubled_wires_record_their_columns(spark, tmp_path):
    """A ``split`` wire records every written column but the split
    column; a doubled wire carries its source's record and reads back
    every row twice with it."""
    rows = _shuffled(spark).withColumn("grp", (F.col("k") % 3).cast("int"))
    src = str(tmp_path / "split")
    write_wire(rows, src, ("k",), split="grp")
    assert recorded_schema(src).fieldNames() == ["k", "v"]
    assert read_wire(spark, src, batch=True).columns == ["k", "v"]

    dup = doubled_wire(src, str(tmp_path / "dup"))
    assert wire_ready(dup)
    assert recorded_schema(dup) == recorded_schema(src)
    assert read_wire(spark, dup, batch=True).count() == 800


def test_wire_without_a_record_is_rebuilt(spark, sf_dir, own_cache):
    """A wire published with the marker but no schema record (the
    layout before the record) is not ready, and source_wire rebuilds
    it; a reader of an unrecorded dir fails loudly instead of
    inferring."""
    wire, _ = funnel.ordered_event_wire(spark, sf_dir)
    os.remove(os.path.join(wire, SCHEMA_FILE))
    assert os.path.exists(os.path.join(wire, WIRE_MARKER))
    assert not wire_ready(wire)
    with pytest.raises(ValueError, match="no recorded wire schema"):
        read_wire(spark, wire)
    before = os.path.getmtime(os.path.join(wire, WIRE_MARKER))
    assert funnel.ordered_event_wire(spark, sf_dir)[0] == wire
    assert wire_ready(wire)
    assert os.path.getmtime(os.path.join(wire, WIRE_MARKER)) > before


# The schemas the readers declared before the wires recorded their own:
# a record that differs would move a reader's columns.
_READER_SCHEMAS = {
    "documents": (document_wire, "doc_id long, text string"),
    "embeddings": (embedding_wire, "vec_id long, eq array<long>"),
    "funnel events": (
        funnel.ordered_event_wire,
        "user_id long, event_id long, event_type string, e_us long",
    ),
}


@pytest.mark.parametrize("name", sorted(_READER_SCHEMAS))
def test_records_match_the_reader_schemas(spark, sf_dir, own_cache, name):
    """The document, embedding and funnel wires record the names, order
    and types their readers used to declare."""
    build, ddl = _READER_SCHEMAS[name]
    wire = build(spark, sf_dir)[0]
    declared = T._parse_datatype_string(ddl).simpleString()
    assert recorded_schema(wire).simpleString() == declared
    assert read_wire(spark, wire).schema.simpleString() == declared


def _funcs(tree) -> dict[int, str]:
    """Line -> name of the innermost function around it."""
    owner = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            for line in range(node.lineno, node.end_lineno + 1):
                if owner.get(line, (0, ""))[0] <= node.lineno:
                    owner[line] = (node.lineno, node.name)
    return {line: name for line, (_, name) in owner.items()}


def _json_or_text_writes(tree):
    """Lines of ``<frame>.write…json(`` / ``.text(`` calls."""
    for node in ast.walk(tree):
        func = getattr(node, "func", None)
        if isinstance(func, ast.Attribute) and func.attr in ("json", "text"):
            recv = func.value
            while isinstance(recv, (ast.Call, ast.Attribute)):
                if isinstance(recv, ast.Attribute) and recv.attr == "write":
                    yield node.lineno
                    break
                recv = recv.func if isinstance(recv, ast.Call) else recv.value


def _json_reads(tree, writes):
    """Lines of every other ``.json(<path>)`` call: a reader's, whether
    chained on ``spark.read``/``readStream`` or held in a variable."""
    for node in ast.walk(tree):
        func = getattr(node, "func", None)
        if isinstance(func, ast.Attribute) and func.attr == "json" and node.args:
            if node.lineno not in writes:
                yield node.lineno


# where each guarded operation may appear: (module, function)
_WRITER = {
    "utime": {("sources/streams.py", "_publish")},
    "write": {("sources/streams.py", "write_wire"), ("sources/formats.py", "q_jsonl_roundtrip")},
    # file_stream reads the reference's queue format, the permissive
    # reader its corrupt-record column, q_jsonl_roundtrip a file format
    "read": {
        ("sources/streams.py", "read_wire"),
        ("sources/streams.py", "file_stream"),
        ("streaming/pipeline.py", "decoded_events_permissive"),
        ("sources/formats.py", "q_jsonl_roundtrip"),
    },
}
_OLD_MARKERS = re.compile(r"_WIRE_READY|_DUP_READY")


def test_wires_are_written_only_by_the_writer():
    """No package module stamps an mtime, names an old wire marker,
    writes a DataFrame as JSON or text outside the wire writer, or reads
    JSON outside the wire reader (q_jsonl_roundtrip tests a file
    format, not a wire)."""
    hits = []
    for rel, src in _package_sources():
        tree = ast.parse(src)
        owner = _funcs(tree)
        lines = src.splitlines()
        for i, line in enumerate(lines, 1):
            if "os.utime" in line and (rel, owner.get(i)) not in _WRITER["utime"]:
                hits.append(f"{rel}:{i}: {line.strip()}")
            if _OLD_MARKERS.search(line):
                hits.append(f"{rel}:{i}: {line.strip()}")
        writes = set(_json_or_text_writes(tree))
        for kind, found in (("write", writes), ("read", _json_reads(tree, writes))):
            for i in found:
                if (rel, owner.get(i)) not in _WRITER[kind]:
                    hits.append(f"{rel}:{i}: {lines[i - 1].strip()}")
    assert hits == [], "wire I/O outside sources/streams.py:\n" + "\n".join(hits)
