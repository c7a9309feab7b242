"""Batch source-format coverage beyond parquet — CSV and ORC
round-trips, differentially checked.

The reference's only batch surface is ClickHouse native tables fed by
JSONEachRow (kafka+clickhouse.md:183-194); a Spark user of the same
pipeline immediately gets every built-in DataSource. These queries
prove the two most common interchange formats preserve the events
table byte-faithfully: Spark WRITES the format, reads it back with an
EXPLICIT schema (no inference — the reference's fixed-DDL discipline,
SURVEY §1.2), aggregates, and DuckDB checks the same aggregates against
the ORIGINAL parquet — any loss, reorder, quoting, or type-mapping bug
in either direction breaks the equality.

Timestamps ride as epoch-micros longs in the interchange files (CSV
has no canonical timestamp syntax; micros round-trip exactly), and the
checked aggregates are order-free integer stats (count / min / max /
bigint sums), so the equality is exact regardless of file split and
row order.

Scale: both writers repartition(4) only to exercise multi-file reads;
production writes inherit the upstream partitioning. The aggregate is
one map-side-combined hash agg either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query

_EVENTS_WIRE_SCHEMA = (
    "event_id long, e_us long, user_id long, event_type string"
)

_ROUNDTRIP_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS max_us,
       CAST(sum(user_id) AS BIGINT) AS sum_uid,
       CAST(sum(event_id) AS BIGINT) AS sum_eid
FROM events GROUP BY event_type
"""


def _fmt_base(sf_dir: str, fmt: str) -> str:
    from kafka_clickhouse_implementation_spark.cachedirs import source_tagged_dir

    return source_tagged_dir(f"fmt_{fmt}", sf_dir, "events")


def _events_wire_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("e_us"),
        "user_id",
        "event_type",
    )


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("e_us").alias("min_us"),
        F.max("e_us").alias("max_us"),
        F.sum("user_id").alias("sum_uid"),
        F.sum("event_id").alias("sum_eid"),
    )


@query("q_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier source coverage: events → multi-file CSV (header, Spark
    writer) → explicit-schema CSV read → per-type integer stats. The
    oracle aggregates the original parquet, so the whole write+read
    path is under the value hash."""
    out = _fmt_base(sf_dir, "csv")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            _events_wire_df(spark, sf_dir)
            .repartition(4)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(out)
        )
    back = (
        spark.read.schema(_EVENTS_WIRE_SCHEMA)
        .option("header", "true")
        .csv(out)
    )
    return _roundtrip_agg(back)


@query("q_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract over ORC (the other columnar interchange format a
    ClickHouse migration usually has lying around)."""
    out = _fmt_base(sf_dir, "orc")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            _events_wire_df(spark, sf_dir)
            .repartition(4)
            .write.mode("overwrite")
            .orc(out)
        )
    back = spark.read.schema(_EVENTS_WIRE_SCHEMA).orc(out)
    return _roundtrip_agg(back)


@query(
    "q_schema_evolution",
    # v1 rows (first half of events, no `value` column) + v2 rows
    # (second half, with `value`): mergeSchema reads must surface the
    # union schema with NULLs for the missing column — the oracle
    # states the same split arithmetically over the original parquet.
    oracle="""
    WITH half AS (
      -- // (integer floor division): DuckDB / is float division and the
      -- BIGINT cast rounds-to-nearest (103/2 -> 52), which would tag the
      -- boundary event into a different generation than Spark's count()//2
      -- whenever n % 4 == 3 (round-6 ADVICE fix).
      SELECT CAST(count(*) // 2 AS BIGINT) AS h FROM events
    ),
    tagged AS (
      SELECT e.event_type,
             CASE WHEN e.event_id < h.h THEN NULL
                  ELSE CAST(floor(e.value * 100 + 0.5) AS BIGINT) END AS cents
      FROM events e CROSS JOIN half h
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(cents) AS BIGINT) AS n_with_value,
           CAST(sum(cents) AS BIGINT) AS cents_sum
    FROM tagged GROUP BY event_type
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution (the ClickHouse ``ALTER TABLE ADD COLUMN``
    migration): half the events are written as generation-1 parquet
    WITHOUT the value column, half as generation-2 WITH it (as integer
    cents); a single ``mergeSchema`` read surfaces the union schema,
    old rows carrying NULL for the added column — exactly how a
    100 TB table evolves in place without rewriting history. The
    aggregation counts both generations and sums the new column, all
    value-hash-checked against the original parquet."""
    from kafka_clickhouse_implementation_spark.cachedirs import publish_product

    def build() -> dict[str, DataFrame]:
        ev = load(spark, sf_dir, "events")
        half = ev.count() // 2
        v1 = ev.filter(F.col("event_id") < half).select("event_id", "event_type")
        v2 = ev.filter(F.col("event_id") >= half).select(
            "event_id",
            "event_type",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        return {"gen=1": v1.repartition(2), "gen=2": v2.repartition(2)}

    base = publish_product(_fmt_base(sf_dir, "evolve"), build)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("cents").alias("n_with_value"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


@query("q_jsonl_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract over JSON-lines — the interchange format every
    LLM-corpus pipeline actually ships (and the reference's Kafka
    payload encoding, kafka+clickhouse.md:44-52). Completes the
    format matrix: parquet (everywhere), CSV, ORC, JSONL, all under
    the one roundtrip oracle."""
    out = _fmt_base(sf_dir, "jsonl")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            _events_wire_df(spark, sf_dir)
            .repartition(4)
            .write.mode("overwrite")
            .json(out)
        )
    back = spark.read.schema(_EVENTS_WIRE_SCHEMA).json(out)
    return _roundtrip_agg(back)
