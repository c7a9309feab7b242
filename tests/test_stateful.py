"""Tests for the custom stateful operator and sink builders."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.schemas import EVENTS_SCHEMA, QUEUE_WIRE_SCHEMA
from kafka_clickhouse_implementation_spark.sources.sinks import jdbc_options, parquet_sink
from kafka_clickhouse_implementation_spark.sources.streams import write_wire_format
from kafka_clickhouse_implementation_spark.streaming.pipeline import decoded_events
from kafka_clickhouse_implementation_spark.streaming.stateful import running_level_counts


def test_jdbc_options_shape():
    opts = jdbc_options("jdbc:clickhouse://ch:8123/default", "email_events", user="u")
    assert opts["url"].startswith("jdbc:clickhouse://")
    assert opts["dbtable"] == "email_events"
    assert opts["driver"] == "com.clickhouse.jdbc.ClickHouseDriver"
    assert int(opts["batchsize"]) >= 10000  # never the reference's 1-row inserts


def test_running_level_counts_state(spark, tmp_path):
    """applyInPandasWithState keeps per-key counts across batches; the
    final state after draining all input equals the batch counts."""
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i % 3,
         ["click", "view"][i % 2], 1.0, None)
        for i in range(60)
    ]
    ev = spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
    wire_dir = str(tmp_path / "wire")
    write_wire_format(ev, wire_dir)
    stream = spark.readStream.schema(QUEUE_WIRE_SCHEMA).option("maxFilesPerTrigger", "1").json(wire_dir)
    out = running_level_counts(decoded_events(stream))
    q = (
        out.writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    # last emitted running_total per level == total batch counts
    final = {
        r["level"]: r["running_total"]
        for r in spark.sql(
            """SELECT level, max(running_total) AS running_total
               FROM state_out GROUP BY level"""
        ).collect()
    }
    assert final == {"click": 30, "view": 30}


def test_event_wire_preserves_microseconds(spark):
    """The shared stateful-replay wire must round-trip event times at
    FULL microsecond precision (Spark's default JSON timestampFormat
    truncates to millis, which would desync the strict-> funnel state
    machine from the batch/DuckDB oracle for same-millisecond events)."""
    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.sources.streams import read_wire
    from kafka_clickhouse_implementation_spark.streaming.funnel import ordered_event_wire

    sf = "/root/testdata/sf0.001"
    wire_dir, _ = ordered_event_wire(spark, sf)
    back = read_wire(spark, wire_dir, batch=True).select("event_id", "e_us")
    src = load(spark, sf, "events").select(
        "event_id", F.unix_micros("ts").alias("src_us")
    )
    joined = back.join(src, "event_id")
    assert joined.count() == src.count()
    assert joined.filter(F.col("e_us") != F.col("src_us")).count() == 0
    # the check is vacuous unless sub-millisecond precision actually occurs
    assert src.filter(F.col("src_us") % 1000 != 0).count() > 0


def test_parquet_sink_appends(spark, tmp_path):
    path = str(tmp_path / "sink")
    sink = parquet_sink(path)
    df = spark.range(10).withColumnRenamed("id", "x")
    sink(df, 0)
    sink(df, 1)
    assert spark.read.parquet(path).count() == 20


import pytest


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_funnel_state_store_providers(spark, tmp_path, provider):
    """The C25 streaming funnel produces identical results under the
    default HDFSBacked state store AND RocksDB (the production backend
    for large state — see session.STATE_STORE_PROVIDERS). The provider
    class is read at stream start, so it can be flipped per-query; the
    wire is 3 mtime-ordered files under maxFilesPerTrigger=1, so state
    genuinely crosses micro-batch boundaries under both providers."""
    import json
    import os
    import time

    from kafka_clickhouse_implementation_spark.session import STATE_STORE_PROVIDERS
    from kafka_clickhouse_implementation_spark.streaming.funnel import (
        streaming_funnel_levels,
    )

    H = 3_600_000_000
    # user 1 completes the chain across three batches -> level 3;
    # user 2's click lands past the 6h window -> level 1;
    # user 3 clicks without ever viewing -> level 0.
    files = [
        [(1, 10, "view", 1 * H), (2, 20, "view", 1 * H), (3, 30, "click", 1 * H)],
        [(1, 11, "click", 2 * H)],
        [(1, 12, "purchase", 3 * H), (2, 21, "click", 9 * H)],
    ]
    wire = tmp_path / "wire"
    wire.mkdir()
    now = time.time()
    for i, rows in enumerate(files):
        p = wire / f"chunk-{i:02d}.json"
        p.write_text(
            "\n".join(
                json.dumps(
                    {"user_id": u, "event_id": e, "event_type": t, "e_us": us}
                )
                for u, e, t, us in rows
            )
            + "\n"
        )
        os.utime(p, (now + 10 * i, now + 10 * i))
    ev = (
        spark.readStream.schema("user_id long, event_id long, event_type string, e_us long")
        .option("maxFilesPerTrigger", "1")
        .json(str(wire))
        .select("user_id", "event_id", "event_type", F.timestamp_micros("e_us").alias("ts"))
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(key, STATE_STORE_PROVIDERS[provider])
    try:
        q = (
            streaming_funnel_levels(ev)
            .writeStream.format("memory")
            .queryName(f"funnel_{provider}")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
    finally:
        spark.conf.set(key, old)
    final = {
        r["user_id"]: r["lv"]
        for r in spark.sql(
            f"SELECT user_id, max(funnel_level) AS lv FROM funnel_{provider} GROUP BY user_id"
        ).collect()
    }
    assert final == {1: 3, 2: 1, 3: 0}
