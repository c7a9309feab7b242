"""Centralized settings registry.

Mirrors the reference's config model (kafka+clickhouse.md:10-28): a
``KAFKA_SETTINGS`` dict with a topic registry and a sink-settings dict,
so producers/consumers/queries are reusable ("Centralized configs make
producers/consumers reusable", kafka+clickhouse.md:31).

Our sink is a Parquet lakehouse layout instead of a ClickHouse server;
the Kafka source is pluggable (kafka | file | rate) so smoke tests run
hermetically without a broker (SURVEY §7 risk list).
"""

from __future__ import annotations

import os

KAFKA_SETTINGS: dict = {
    # kafka+clickhouse.md:12-21 — broker + topic registry
    "bootstrap_servers": os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092"),
    "topics": {
        "event_tracking": "campaign.event_tracking",
        "audience_ready": "campaign.audience_ready",
        "template_ready": "campaign.template_ready",
    },
    # kafka+clickhouse.md:130 — 'auto.offset.reset': 'earliest'
    "starting_offsets": "earliest",
    # consumer group ≙ checkpoint location (kafka+clickhouse.md:193, 363)
    "group_name": "clickhouse-consumer",
}

SINK_SETTINGS: dict = {
    # kafka+clickhouse.md:23-28 — ClickHouse connection block becomes a
    # lakehouse root; tables are directories of parquet files.
    "warehouse_dir": os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
    "fact_table": "email_events",
    "rollup_table": "daily",
    # day-partition column derived from event_time
    # (PARTITION BY toYYYYMMDD(event_time), kafka+clickhouse.md:102)
    "partition_col": "event_date",
    # SummingMergeTree index granularity analogue is irrelevant on
    # parquet; row-group size serves the same skipping role.
    "parquet_rowgroup_bytes": 128 * 1024 * 1024,
}
