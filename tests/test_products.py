"""The one result-product primitive (cachedirs.publish_product /
read_product / product_id): build once, rebuild from scratch when
unpublished, record the schema a read would infer, read back with no
job, and a source scan that keeps every product build inside it."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from test_drain import _package_sources
from test_wire import _funcs

from kafka_clickhouse_implementation_spark.cachedirs import (
    PUBLISHED,
    product_id,
    publish_product,
    read_product,
)
from kafka_clickhouse_implementation_spark.plans.layout import recorded_schema


def _tables(spark, calls: list[int]):
    """A build callback that counts its calls: a flat table of nested
    types and a table partitioned by an int column."""

    def build():
        calls.append(1)
        base = spark.range(40).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("shard"),
            F.array("id", F.lit(None).cast("long")).alias("arr"),
            F.struct(F.col("id").alias("x")).alias("st"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
        )
        return {"flat": base.drop("shard"), "parts": base}

    return build


def test_second_call_runs_no_write_job(spark, tmp_path, jobs_launched):
    """The first call builds and publishes; the second neither calls
    the build nor starts a Spark job, and keeps the build id."""
    root, calls = str(tmp_path / "p"), []
    build = _tables(spark, calls)
    assert jobs_launched(lambda: publish_product(root, build, {"parts": "shard"})) > 0
    first = product_id(root)
    assert first is not None and calls == [1]
    assert jobs_launched(lambda: publish_product(root, build, {"parts": "shard"})) == 0
    assert calls == [1] and product_id(root) == first


def test_unpublished_root_is_rebuilt_from_scratch(spark, tmp_path):
    """A root without the marker (a build that died midway) is deleted
    whole: a stale table and a stray dir go, the table holds only the
    new build's rows, and the new build id is fresh."""
    root = str(tmp_path / "p")
    spark.range(1000, 1005).select(F.col("id").alias("k")).write.parquet(
        os.path.join(root, "flat")
    )
    os.makedirs(os.path.join(root, "stray"))
    assert product_id(root) is None
    publish_product(root, _tables(spark, []), {"parts": "shard"})
    assert sorted(os.listdir(root)) == sorted([PUBLISHED, "flat", "parts"])
    ks = sorted(r.k for r in read_product(spark, root)["flat"].collect())
    assert ks == list(range(40))

    first = product_id(root)
    os.remove(os.path.join(root, PUBLISHED))
    publish_product(root, _tables(spark, []), {"parts": "shard"})
    assert product_id(root) not in (None, first)


def test_failed_build_publishes_nothing(spark, tmp_path):
    """A build whose write raises leaves no marker; the next call
    rebuilds."""
    root = str(tmp_path / "p")

    def failing():
        return {"t": spark.range(10).select(F.raise_error("boom").alias("k"))}

    with pytest.raises(Exception, match="boom"):
        publish_product(root, failing)
    assert product_id(root) is None
    publish_product(root, lambda: {"t": spark.range(3)})
    assert read_product(spark, root)["t"].count() == 3


def _product_roots(spark, sf_dir):
    """(name, root) of the products the benchmark rebuilds plus the two
    partitioned shard products, each built (or found) here."""
    from kafka_clickhouse_implementation_spark.operators.dsir import features_product
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        unigram_shards_product,
        write_unigram_tokenizer,
    )
    from kafka_clickhouse_implementation_spark.pipelines.corpus import clipped_corpus
    from kafka_clickhouse_implementation_spark.pipelines.shards import (
        write_token_shards,
        write_tokenizer,
    )

    def root_of(df):
        # the one file location of the scan, minus the table name
        return os.path.dirname(df.inputFiles()[0].removeprefix("file://").rsplit("/", 1)[0])

    return [
        ("features", root_of(features_product(spark, sf_dir))),
        ("clipped", root_of(clipped_corpus(spark, sf_dir, mod=10))),
        ("tokenizer", os.path.dirname(write_tokenizer(spark, sf_dir))),
        ("unigram", write_unigram_tokenizer(spark, sf_dir)),
        ("token_shards", os.path.dirname(write_token_shards(spark, sf_dir)[0])),
        ("unigram_shards", os.path.dirname(unigram_shards_product(spark, sf_dir))),
    ]


def test_recorded_schema_is_what_inference_returns(spark, sf_dir, tmp_path):
    """Every table's record equals ``spark.read.parquet(dir).schema``,
    partition columns (int and string) included."""
    root = str(tmp_path / "p")
    publish_product(root, _tables(spark, []), {"parts": "shard"})
    roots = [("synthetic", root), ("by_string", str(tmp_path / "s"))]
    publish_product(roots[1][1], _tables(spark, []), {"parts": "src"})
    for name, r in roots + _product_roots(spark, sf_dir):
        for table, df in read_product(spark, r).items():
            path = os.path.join(r, table)
            assert recorded_schema(path) == spark.read.parquet(path).schema, (name, table)
            assert df.schema == recorded_schema(path), (name, table)
    parts = spark.read.parquet(os.path.join(root, "parts")).schema
    assert parts.fieldNames()[-1] == "shard"


def test_warm_read_runs_no_job(spark, sf_dir, jobs_launched):
    """A published product reads back with 0 Spark jobs, through
    ``read_product`` and through the builders and export queries."""
    from kafka_clickhouse_implementation_spark.operators.dsir import features_product
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        q_unigram_tokenizer_export,
    )
    from kafka_clickhouse_implementation_spark.pipelines.corpus import clipped_corpus
    from kafka_clickhouse_implementation_spark.pipelines.shards import q_tokenizer_export

    for _name, root in _product_roots(spark, sf_dir):
        assert jobs_launched(lambda: read_product(spark, root)) == 0, _name
    assert jobs_launched(lambda: features_product(spark, sf_dir)) == 0
    assert jobs_launched(lambda: clipped_corpus(spark, sf_dir, mod=10)) == 0
    assert jobs_launched(lambda: q_tokenizer_export(spark, sf_dir)) == 0
    assert jobs_launched(lambda: q_unigram_tokenizer_export(spark, sf_dir)) == 0


# where a DataFrame may be written as parquet: the product primitive,
# the layout and upsert tables, the mutation rewrites and the stream sink
_PARQUET_WRITERS = {
    ("cachedirs.py", "publish_product"),
    ("plans/layout.py", "write_day_partitioned"),
    ("plans/layout.py", "write_rollup_batch"),
    ("plans/layout.py", "compact_rollup"),
    ("plans/upsert.py", "append_versions"),
    ("plans/upsert.py", "compact_versions"),
    ("pipelines/shards.py", "upsert_batch"),
    ("operators/mutations.py", "materialize_delete"),
    ("operators/mutations.py", "materialize_update"),
    ("sources/sinks.py", "write"),
}
# where Spark's _SUCCESS may be named: the layout fact tables and the
# csv/orc/jsonl format fixtures
_SUCCESS_NAMED = {
    ("plans/layout.py", "write_day_partitioned"),
    ("operators/tier_a.py", "q_partition_prune"),
    ("operators/tier_a.py", "q_partition_detach"),
    ("sources/formats.py", "q_csv_roundtrip"),
    ("sources/formats.py", "q_orc_roundtrip"),
    ("sources/formats.py", "q_jsonl_roundtrip"),
}
_RETIRED = ("_MODELS_READY", "_GEN_READY")


def _parquet_writes(tree):
    """Lines of ``….parquet(`` calls that are not reads (no ``.read``,
    ``.readStream`` or ``reader`` in the receiver)."""
    for node in ast.walk(tree):
        func = getattr(node, "func", None)
        if isinstance(func, ast.Attribute) and func.attr == "parquet":
            if not any(
                isinstance(n, ast.Attribute) and n.attr in ("read", "readStream")
                or isinstance(n, ast.Name) and n.id == "reader"
                for n in ast.walk(func.value)
            ):
                yield node.lineno


def test_products_are_built_only_by_the_primitive():
    """No package module writes a DataFrame as parquet outside the
    product primitive and the named table writers, checks Spark's
    ``_SUCCESS`` outside the layout fact tables and the format
    fixtures, or names a retired product marker."""
    hits = []
    for rel, src in _package_sources():
        tree = ast.parse(src)
        owner = _funcs(tree)
        lines = src.splitlines()
        for i in _parquet_writes(tree):
            if (rel, owner.get(i)) not in _PARQUET_WRITERS:
                hits.append(f"{rel}:{i}: {lines[i - 1].strip()}")
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.rsplit("/", 1)[-1] == "_SUCCESS"
                and (rel, owner.get(node.lineno)) not in _SUCCESS_NAMED
            ):
                hits.append(f"{rel}:{node.lineno}: {lines[node.lineno - 1].strip()}")
        for i, line in enumerate(lines, 1):
            if any(m in line for m in _RETIRED):
                hits.append(f"{rel}:{i}: {line.strip()}")
    assert hits == [], "product builds outside cachedirs.publish_product:\n" + "\n".join(hits)
