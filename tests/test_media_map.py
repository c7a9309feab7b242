"""The one per-row media map (operators/multimodal.py ``map_rows`` and
``values_fp``): every codec round-trip query run end to end against its
DuckDB oracle across several Arrow batches, the primitive's empty and
null cases, and a source scan that keeps every codec module's
``mapInPandas`` call and value fingerprint inside the primitive."""

from __future__ import annotations

import ast
import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_clickhouse_implementation_spark.operators.multimodal import map_rows, values_fp
from kafka_clickhouse_implementation_spark.registry import all_oracles, all_queries

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import table_hash  # noqa: E402

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_clickhouse_implementation_spark",
)
CODEC_MODULES = (
    "operators/multimodal.py",
    "operators/jpeg_codec.py",
    "operators/gif_codec.py",
    "operators/flac_codec.py",
)
# the 15 round trips plus the binary-column byte pipeline
CODEC_QUERIES = (
    "q_multimodal_bytes",
    "q_multimodal_decode",
    "q_multimodal_features",
    "q_multimodal_png",
    "q_multimodal_png_adam7",
    "q_multimodal_mulaw",
    "q_multimodal_adpcm",
    "q_multimodal_jpeg",
    "q_multimodal_jpeg_color",
    "q_multimodal_jpeg420",
    "q_multimodal_jpeg_prog",
    "q_multimodal_jpeg_sa",
    "q_multimodal_gif",
    "q_multimodal_gif89a",
    "q_multimodal_flac",
    "q_multimodal_flac_stereo",
)
_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def small_batches(spark):
    """At most 4 rows per Arrow batch, so every query's 20-30 documents
    span several batches; the session's value is restored afterwards."""
    old = spark.conf.get(_BATCH_KEY, None)
    spark.conf.set(_BATCH_KEY, "4")
    yield
    if old is None:
        spark.conf.unset(_BATCH_KEY)
    else:
        spark.conf.set(_BATCH_KEY, old)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    return con


def test_every_codec_query_is_registered():
    names = {n for n in all_queries() if n.startswith("q_multimodal_")}
    assert names == set(CODEC_QUERIES)
    assert set(CODEC_QUERIES) <= set(all_oracles())


@pytest.mark.parametrize("name", CODEC_QUERIES)
def test_codec_query_matches_oracle(spark, sf_dir, small_batches, duck, name):
    df = all_queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    rel = duck.sql(all_oracles()[name])
    want = rel.fetchall()
    assert len(rows) == len(want) > 4
    assert table_hash(df.columns, rows) == table_hash(list(rel.columns), want)


def test_decode_keeps_wav_dims_null(spark, sf_dir, small_batches):
    rows = all_queries()["q_multimodal_decode"](spark, sf_dir).collect()
    wav = [r for r in rows if r["fmt"] == "wav"]
    assert len(wav) == 10
    assert all(r["width"] is None and r["height"] is None for r in wav)
    assert all((r["width"], r["height"]) == (4, 2) for r in rows if r["fmt"] != "wav")


def test_map_rows_empty_input_gives_the_schema(spark):
    schema = "doc_id long, width int, px_fp string"
    empty = spark.range(0).select(F.col("id").alias("doc_id"))
    out = map_rows(empty, lambda d: (d, None, values_fp([d])), schema)
    assert out.schema == T.StructType.fromDDL(schema)
    pdf = out.toPandas()
    assert len(pdf) == 0
    assert list(pdf.columns) == ["doc_id", "width", "px_fp"]


def test_map_rows_keeps_big_ints_beside_nulls(spark, small_batches):
    """A long column holding a None next to values above 2**53 stays
    exact: the rows are not widened to float."""
    big = 2**62 + 1
    out = map_rows(
        spark.range(6).select(F.col("id").alias("i")),
        lambda i: (i, None if i % 2 else big + i),
        "i long, v long",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(i, None if i % 2 else big + i) for i in range(6)]


def _is_comma_join(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "join"
        and isinstance(node.func.value, ast.Constant)
        and node.func.value.value == ","
    )


def _call_name(node: ast.Call) -> str | None:
    func = node.func
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def codec_scan_hits(rel: str, src: str) -> list[str]:
    """Every ``mapInPandas`` call outside ``map_rows`` and every
    ``md5(",".join(...))`` fingerprint outside ``values_fp`` in one
    module's source."""
    tree = ast.parse(src)
    allowed: set[int] = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name in ("map_rows", "values_fp"):
            allowed.update(id(n) for n in ast.walk(node))
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in allowed:
            continue
        name = _call_name(node)
        if name == "mapInPandas":
            hits.append(f"{rel}:{node.lineno}: mapInPandas")
        elif name == "md5" and any(
            _is_comma_join(n) for arg in node.args for n in ast.walk(arg)
        ):
            hits.append(f"{rel}:{node.lineno}: md5 of a comma join")
    return hits


def test_codec_modules_map_only_through_map_rows():
    """No codec module calls mapInPandas outside map_rows or
    fingerprints a value sequence outside values_fp."""
    hits = []
    for rel in CODEC_MODULES:
        with open(os.path.join(_PKG, rel)) as f:
            hits += codec_scan_hits(rel, f.read())
    assert hits == [], "per-row media plumbing outside map_rows/values_fp:\n" + "\n".join(hits)
