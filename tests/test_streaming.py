"""Structured Streaming tests (SURVEY S1-S3, S7, C6-C10) — hermetic:
file-source replay of the reference wire format, no broker needed."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.operators.tier_a import daily_counts
from kafka_clickhouse_implementation_spark.plans.layout import read_rollup
from kafka_clickhouse_implementation_spark.schemas import EVENTS_SCHEMA, QUEUE_WIRE_SCHEMA
from kafka_clickhouse_implementation_spark.sources.streams import file_stream, write_wire_format
from kafka_clickhouse_implementation_spark.streaming.pipeline import (
    decoded_events,
    decoded_events_permissive,
    deduped_stream,
    enriched_stream,
    run_mv_pipeline,
    stream_stream_join,
    windowed_counts,
)


def _events(spark, n=200):
    rows = [
        (
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=i % 72),
            i % 5,
            ["click", "view", "error", "signup", "purchase"][i % 5],
            1.0,
            '{"k": %d}' % i,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema=EVENTS_SCHEMA)


def test_wire_format_roundtrip(spark, tmp_path):
    """S1 producer → wire JSON → declared-schema decode == original."""
    ev = _events(spark, 50)
    wire_dir = str(tmp_path / "wire")
    write_wire_format(ev, wire_dir)
    back = spark.read.schema(QUEUE_WIRE_SCHEMA).json(wire_dir)
    assert back.count() == 50
    assert back.filter(F.col("level").isNull()).count() == 0
    # epoch-seconds round back to the original timestamps
    orig = {r["event_id"]: r["ts"] for r in ev.collect()}
    decoded = back.select(F.to_timestamp(F.from_unixtime("timestamp")).alias("t")).collect()
    assert {r["t"] for r in decoded} <= {t.replace(microsecond=0) for t in orig.values()}


def test_mv_pipeline_matches_batch(spark, tmp_path):
    """The streaming MV (per-batch partials + read-time re-agg) must
    equal the batch daily_counts over the same data — the Direct-vs-MV
    agreement claim (kafka+clickhouse.md:266-272)."""
    ev = _events(spark, 200)
    wire_dir, rollup_dir, ckpt = (str(tmp_path / d) for d in ("wire", "rollup", "ckpt"))
    write_wire_format(ev, wire_dir)
    run_mv_pipeline(spark, wire_dir, rollup_dir, ckpt)
    got = {
        (str(r["day"]), r["level"]): r["total"]
        for r in read_rollup(spark, rollup_dir).collect()
    }
    # batch twin on second-truncated timestamps (wire format is epoch-sec)
    want = {
        (str(r["day"]), r["level"]): r["total"]
        for r in daily_counts(
            ev.withColumn("ts", F.to_timestamp(F.from_unixtime(F.unix_timestamp("ts"))))
        ).collect()
    }
    assert got == want


def test_mv_pipeline_restart_is_exactly_once(spark, tmp_path):
    """C10 — re-running with the same checkpoint must not double-count."""
    ev = _events(spark, 100)
    wire_dir, rollup_dir, ckpt = (str(tmp_path / d) for d in ("wire", "rollup", "ckpt"))
    write_wire_format(ev, wire_dir)
    run_mv_pipeline(spark, wire_dir, rollup_dir, ckpt)
    first = sorted(
        (str(r["day"]), r["level"], r["total"]) for r in read_rollup(spark, rollup_dir).collect()
    )
    # restart: same checkpoint, no new files → no new partials
    run_mv_pipeline(spark, wire_dir, rollup_dir, ckpt)
    second = sorted(
        (str(r["day"]), r["level"], r["total"]) for r in read_rollup(spark, rollup_dir).collect()
    )
    assert first == second


def test_windowed_counts_with_watermark(spark, tmp_path):
    """C6/C8 — stateful tumbling-window counts over the file stream,
    collected via a memory sink."""
    ev = _events(spark, 120)
    wire_dir = str(tmp_path / "wire")
    write_wire_format(ev, wire_dir)
    agg = windowed_counts(decoded_events(file_stream(spark, wire_dir)))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["day"]), r["level"]): r["total"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (str(r["day"]), r["level"]): r["total"]
        for r in daily_counts(
            ev.withColumn("ts", F.to_timestamp(F.from_unixtime(F.unix_timestamp("ts"))))
        ).collect()
    }
    assert got == want


def test_streaming_session_window(spark, tmp_path):
    """C7 — native session_window aggregation over the stream: events
    closer than 30 minutes merge into one session per level."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0, None),
        (2, base + dt.timedelta(minutes=5), 1, "click", 1.0, None),
        (3, base + dt.timedelta(minutes=90), 1, "click", 1.0, None),
    ]
    ev = spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
    wire_dir = str(tmp_path / "wire")
    write_wire_format(ev, wire_dir)
    stream = decoded_events(file_stream(spark, wire_dir))
    agg = (
        stream.withWatermark("event_ts", "1 hour")
        .groupBy(F.session_window("event_ts", "30 minutes").alias("w"), F.col("level"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("level", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.awaitTermination()
    ns = sorted(r["n"] for r in spark.sql("SELECT * FROM sess_out").collect())
    assert ns == [1, 2]  # two sessions: {e1,e2} and {e3}


def test_rate_source_shapes_to_wire_schema(spark, tmp_path):
    """The synthetic rate source must emit the declared wire schema."""
    from kafka_clickhouse_implementation_spark.sources.streams import rate_stream

    s = rate_stream(spark, rows_per_second=100)
    assert [f.name for f in s.schema.fields] == ["timestamp", "level", "message"]
    q = (
        s.writeStream.format("memory").queryName("rate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM rate_out").head()["n"]
            if n > 0:
                break
            time.sleep(1)
        assert n > 0
        levels = {
            r["level"] for r in spark.sql("SELECT DISTINCT level FROM rate_out").collect()
        }
        assert levels <= {"click", "error", "purchase", "signup", "view"}
    finally:
        q.stop()


def test_stream_static_enrichment(spark, tmp_path):
    """Each micro-batch joins the broadcast dim snapshot (dictionary-
    lookup analogue)."""
    ev = _events(spark, 50)
    wire_dir = str(tmp_path / "wire")
    write_wire_format(ev, wire_dir)
    dim = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"), ("error", "fault"),
         ("signup", "conversion"), ("purchase", "conversion")],
        ["level", "category"],
    )
    out = enriched_stream(decoded_events(file_stream(spark, wire_dir)), dim, on="level")
    q = (
        out.groupBy("category").count()
        .writeStream.format("memory").queryName("enriched")
        .outputMode("complete").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_enr")).start()
    )
    q.awaitTermination()
    got = {r["category"]: r["count"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert sum(got.values()) == 50 and set(got) <= {"interaction", "fault", "conversion"}


def test_stream_stream_join_within_interval(spark, tmp_path):
    """Watermarked stream-stream join pairs rows of the same level
    within 30 minutes (state evicted past the watermark)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    left_rows = [(1, base, 1, "click", 1.0, None)]
    right_rows = [
        (2, base + dt.timedelta(minutes=10), 1, "click", 1.0, None),   # within
        (3, base + dt.timedelta(hours=3), 1, "click", 1.0, None),      # outside
    ]
    lw, rw = str(tmp_path / "lw"), str(tmp_path / "rw")
    write_wire_format(spark.createDataFrame(left_rows, schema=EVENTS_SCHEMA), lw)
    write_wire_format(spark.createDataFrame(right_rows, schema=EVENTS_SCHEMA), rw)
    j = stream_stream_join(
        decoded_events(file_stream(spark, lw)),
        decoded_events(file_stream(spark, rw)),
    )
    q = (
        j.select(F.col("l.event_ts").alias("lt"), F.col("r.event_ts").alias("rt"))
        .writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj")).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM ssj").collect()
    assert len(rows) == 1  # only the within-interval pair

def test_corrupt_wire_records_quarantined(spark, tmp_path):
    """Malformed wire messages must not fail the batch — they land in
    _corrupt_record (the reference consumer's skip-bad-message path)."""
    wire_dir = str(tmp_path / "wire")
    import os
    os.makedirs(wire_dir)
    with open(os.path.join(wire_dir, "part-0.json"), "w") as f:
        f.write('{"timestamp": 1704067200, "level": "click", "message": "{}"}\n')
        f.write("this is not json\n")
        f.write('{"timestamp": 1704067260, "level": "view", "message": "{}"}\n')
    stream = decoded_events_permissive(spark, wire_dir)
    q = (
        stream.writeStream.format("memory").queryName("permissive")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_perm")).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM permissive").collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0]["level"] is None


def test_streaming_dedup(spark, tmp_path):
    """C9 — dropDuplicatesWithinWatermark removes wire-level replays."""
    ev = _events(spark, 40)
    wire_dir = str(tmp_path / "wire")
    # write the same events twice = duplicated messages on the topic
    write_wire_format(ev, str(tmp_path / "wire/a".replace("/", "_")))
    write_wire_format(ev, wire_dir + "/batch1")
    write_wire_format(ev, wire_dir + "/batch2")
    stream = spark.readStream.schema(QUEUE_WIRE_SCHEMA).json(wire_dir + "/*")
    dd = deduped_stream(decoded_events(stream))
    q = (
        dd.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT count(*) AS n FROM dedup_out").head()["n"]
    assert n == 40


def _listing_jobs(spark) -> int:
    """Spark jobs launched so far, JVM-wide, to list files in parallel."""
    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    return metrics.METRIC_PARALLEL_LISTING_JOB_COUNT().getCount()


def test_wide_micro_batch_lists_on_the_driver(spark, tmp_path):
    """A micro-batch of 40 new files (past Spark's default parallel
    listing threshold of 32) lists them on the driver thread: every row
    arrives and no parallel-listing job runs."""
    import os

    ev = _events(spark, 200)
    wire_dir = str(tmp_path / "wire")
    write_wire_format(ev.repartition(40), wire_dir, partitions=40)
    assert sum(n.startswith("part-") for n in os.listdir(wire_dir)) == 40
    before = _listing_jobs(spark)
    q = (
        decoded_events(file_stream(spark, wire_dir)).writeStream.format("memory")
        .queryName("wide_batch")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [200]
    assert spark.sql("SELECT count(*) AS n FROM wide_batch").head()["n"] == 200
    assert _listing_jobs(spark) == before


def test_document_wire_duplicates_land_in_later_batches(spark, sf_dir):
    """The corpus-stream duplicate injection is only non-vacuous if each
    document's duplicate arrives in a LATER micro-batch than its
    original. The file source processes files oldest-mtime-first under
    maxFilesPerTrigger=1, so the property reduces to: one dup file per
    part file, and every dup mtime strictly after every original's."""
    import os

    from kafka_clickhouse_implementation_spark.streaming.corpus_stream import (
        document_wire,
    )

    wire, _ = document_wire(spark, sf_dir)
    names = os.listdir(wire)
    parts = [n for n in names if n.startswith("part-") and n.endswith(".json")]
    dups = [n for n in names if n.startswith("dup-") and n.endswith(".json")]
    assert len(parts) == len(dups) > 0
    newest_part = max(os.path.getmtime(os.path.join(wire, p)) for p in parts)
    oldest_dup = min(os.path.getmtime(os.path.join(wire, d)) for d in dups)
    assert oldest_dup > newest_part


def test_stream_bloom_bitmap_equals_batch_bitmap(spark, sf_dir):
    """The streaming Bloom twin's drained bitmap must equal the
    batch-built filter WORD FOR WORD (stronger than the probe-answer
    oracle): bit_or is order-independent and idempotent, so batch
    boundaries and the wire's duplicate files cannot change any word —
    only lost state could, which is exactly what this would catch."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_implementation_spark.io import load
    from kafka_clickhouse_implementation_spark.operators.sketches import (
        _bloom_words_build,
    )
    from kafka_clickhouse_implementation_spark.streaming.bloom_stream import (
        q_stream_bloom,
    )

    q_stream_bloom(spark, sf_dir)  # drains the wire into stream_bloom_words
    streamed = {
        r.w: r.v for r in spark.table("stream_bloom_words").collect()
    }
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    batch = {r.w: r.v for r in _bloom_words_build(toks).collect()}
    assert streamed == batch
