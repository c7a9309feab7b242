"""Stateful streaming retention — incremental d1/d7 cohort retention
(the streaming twin of operators/funnels.q_retention), maintained
per-user with ``applyInPandasWithState``.

State per user: cohort day (first active day, fixed once events arrive
in time order) plus two sticky flags. All three only ever latch on, so
the latest update-mode emission per user is final — same monotone-
upsert contract as the streaming funnel.

Scale: 3 longs of state per user; emissions are per-user rows, final
rollup is a 1-row aggregate.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.streaming.drain import drain
from kafka_clickhouse_implementation_spark.streaming.funnel import (
    ordered_event_wire,
    wire_stream,
)

_US_PER_DAY = 86_400_000_000
_UNSET = -1


def _update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    d0, r1, r7 = state.get if state.exists else (_UNSET, 0, 0)
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(["e_us", "event_id"])
    for e_us in pdf["e_us"]:
        day = int(e_us) // _US_PER_DAY
        if d0 == _UNSET:
            d0 = day
        elif day == d0 + 1:
            r1 = 1
        elif day == d0 + 7:
            r7 = 1
    state.update((d0, r1, r7))
    yield pd.DataFrame({"user_id": [user_id], "r1": [r1], "r7": [r7]})


def streaming_retention(events: DataFrame) -> DataFrame:
    """Streaming per-user (r1, r7) retention flags; ``events`` needs
    user_id, event_id, and a ``ts`` timestamp column."""
    ev = events.select("user_id", "event_id", F.unix_micros("ts").alias("e_us"))
    return ev.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id long, r1 long, r7 long",
        stateStructType="d0 long, r1 long, r7 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "q_stream_retention",
    # Flags are sticky (monotone), so max-per-user over the update
    # stream is the final state, and the BATCH retention oracle
    # hash-checks the streaming state machine (same contract as
    # q_stream_funnel; multi-batch equality in tests/test_funnels.py).
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), per_user AS (
      SELECT f.user_id,
             max(CASE WHEN a.d = f.d0 + 1 THEN 1 ELSE 0 END) AS r1,
             max(CASE WHEN a.d = f.d0 + 7 THEN 1 ELSE 0 END) AS r7
      FROM first_day f JOIN active a USING (user_id)
      GROUP BY f.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS cohort_users,
           CAST(sum(r1) AS BIGINT) AS retained_d1,
           CAST(sum(r7) AS BIGINT) AS retained_d7
    FROM per_user
    """,
)
def q_stream_retention(spark, sf_dir: str):
    """Hermetic stateful-streaming retention: replay the shared
    ts-sorted event wire, drain through streaming_retention, and roll
    the final per-user flags into cohort counts."""
    wire_dir, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_retention")
    stream = wire_stream(spark, wire_dir)
    name = "stream_retention_out"
    drain(spark, (streaming_retention(stream), name, ckpt, "update"))
    final = spark.sql(
        f"SELECT user_id, max(r1) AS r1, max(r7) AS r7 FROM {name} GROUP BY user_id"
    )
    return final.agg(
        F.count("*").alias("cohort_users"),
        F.sum("r1").alias("retained_d1"),
        F.sum("r7").alias("retained_d7"),
    )
