"""End-to-end demo on the REFERENCE's own schema — the complete
kafka+clickhouse.md walkthrough re-expressed on this engine:

1. produce campaign events (the payload shape of kafka+clickhouse.md:60-69)
2. land them in the day-partitioned `email_events` fact table
   (PARTITION BY toYYYYMMDD(event_time), ORDER BY (campaign_id,
   event_time) — kafka+clickhouse.md:92-103)
3. run the streaming MV (queue → consumer → daily,
   kafka+clickhouse.md:183-243) over the JSONEachRow wire replay
4. serve the dashboard reads: per-level totals from the rollup
   (kafka+clickhouse.md:240-243) and raw opens for one campaign
   (kafka+clickhouse.md:161-166)

Run:  python examples/campaign_demo.py [workdir]
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import uuid

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.plans.layout import (
    read_day_partitioned,
    read_rollup,
    write_day_partitioned,
)
from kafka_clickhouse_implementation_spark.schemas import EMAIL_EVENT_TYPES, EMAIL_EVENTS_SCHEMA
from kafka_clickhouse_implementation_spark.session import get_spark
from kafka_clickhouse_implementation_spark.streaming.pipeline import run_mv_pipeline


def synth_events(spark, n_campaigns=3, n_emails=50, days=5):
    """Deterministic campaign events in the reference payload shape."""
    rng_campaigns = [str(uuid.UUID(int=i)) for i in range(n_campaigns)]
    workspace = str(uuid.UUID(int=999))
    types = list(EMAIL_EVENT_TYPES)
    rows = []
    base = dt.datetime(2024, 3, 1)
    i = 0
    for c in rng_campaigns:
        for e in range(n_emails):
            for d in range(days):
                t = types[(e + d) % len(types)]
                rows.append(
                    (
                        c,
                        workspace,
                        f"user{e}@example.com",
                        t,
                        base + dt.timedelta(days=d, minutes=e),
                        '{"subject": "Welcome Email"}' if t == "open" else "",
                    )
                )
                i += 1
    return spark.createDataFrame(rows, schema=EMAIL_EVENTS_SCHEMA)


def main(workdir: str = "/tmp/campaign_demo") -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    spark = get_spark("campaign_demo")
    events = synth_events(spark)

    # -- 2. raw fact table, day-partitioned + sorted (Part 1 path)
    fact_dir = os.path.join(workdir, "email_events")
    write_day_partitioned(
        events, fact_dir, ts_col="event_time", sort_keys=("campaign_id",),
    )

    # -- 3. streaming MV over the wire replay (Part 2 path)
    wire_dir = os.path.join(workdir, "wire")
    (
        events.select(
            F.to_json(
                F.struct(
                    F.unix_timestamp("event_time").alias("timestamp"),
                    F.col("event_type").alias("level"),
                    F.coalesce("metadata", F.lit("")).alias("message"),
                )
            ).alias("value")
        )
        .coalesce(2)
        .write.mode("overwrite")
        .text(wire_dir)
    )
    rollup_dir = os.path.join(workdir, "daily")
    run_mv_pipeline(spark, wire_dir, rollup_dir, os.path.join(workdir, "ckpt"))

    # -- 4a. dashboard: SELECT level, sum(total) FROM daily GROUP BY level
    print("== daily rollup totals (kafka+clickhouse.md:240-243)")
    (
        read_rollup(spark, rollup_dir)
        .groupBy("level")
        .agg(F.sum("total").alias("total_count"))
        .orderBy("level")
        .show()
    )

    # -- 4b. raw reads: opens for one campaign, newest first
    print("== opens for campaign 0 (kafka+clickhouse.md:161-166)")
    fact = read_day_partitioned(spark, fact_dir)
    (
        fact.filter(
            (F.col("campaign_id") == str(uuid.UUID(int=0)))
            & (F.col("event_type") == "open")
        )
        .select("email", "event_time")
        .orderBy(F.col("event_time").desc())
        .show(5, truncate=False)
    )

    # -- agreement check: MV path == direct path (kafka+clickhouse.md:266-272)
    mv = {
        (r["level"]): r["total"]
        for r in read_rollup(spark, rollup_dir)
        .groupBy("level")
        .agg(F.sum("total").alias("total"))
        .collect()
    }
    direct = {
        r["event_type"]: r["n"]
        for r in fact.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert mv == direct, (mv, direct)
    print("MV path == direct path ✓")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/campaign_demo")
