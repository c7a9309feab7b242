"""Explicit schemas — the reference's schema system is fixed/explicit DDL
with no inference (SURVEY §1.2); streaming JSON is always decoded
against a declared StructType, never ``inferSchema``.

The tables the pipeline writes are read the same way: the rollup with
``DAILY_SCHEMA`` and the day-partitioned fact table with the schema its
writer recorded beside the data (``plans.layout``), so neither a
dashboard read nor a compaction runs a schema-inference job. The
driver's input tables (``io.load``) are still read from their footers.
"""

from __future__ import annotations

from pyspark.sql import types as T

# `email_events` raw fact table (kafka+clickhouse.md:92-103).
# UUID → string (canonical 36-char), Enum8 → validated string,
# DateTime → timestamp, metadata String DEFAULT '' → string + coalesce.
EMAIL_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("campaign_id", T.StringType(), False),
        T.StructField("workspace_id", T.StringType(), False),
        T.StructField("email", T.StringType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("metadata", T.StringType(), True),
    ]
)

# Closed event-type domain: Enum8('delivered'=1,'open'=2,'click'=3,
# 'bounce'=4,'unsubscribe'=5) (kafka+clickhouse.md:97).
EMAIL_EVENT_TYPES: dict[str, int] = {
    "delivered": 1,
    "open": 2,
    "click": 3,
    "bounce": 4,
    "unsubscribe": 5,
}

# `queue` Kafka-engine wire schema (kafka+clickhouse.md:183-194):
# timestamp UInt64 epoch-seconds, level String, message String,
# delivered as JSONEachRow.
QUEUE_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("level", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
    ]
)

# `daily` rollup (kafka+clickhouse.md:205-211): day Date, level String,
# total UInt64 — additive; readers re-aggregate (SURVEY §1.2 S6/A7).
DAILY_SCHEMA = T.StructType(
    [
        T.StructField("day", T.DateType(), False),
        T.StructField("level", T.StringType(), False),
        T.StructField("total", T.LongType(), False),
    ]
)

# Driver testdata `events` table (FIXTURES.md §B) — the stand-in for
# the reference's queue/email_events stream.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# Closed domain for the testdata events stream.
EVENT_TYPES: dict[str, int] = {
    "click": 1,
    "error": 2,
    "purchase": 3,
    "signup": 4,
    "view": 5,
}
