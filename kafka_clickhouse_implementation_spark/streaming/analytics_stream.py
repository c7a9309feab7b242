"""Streaming twin of the statistical aggregates (round 5, late batch):
``q_stream_entropy`` — Shannon entropy maintained incrementally.

Like the Bloom twin (bloom_stream.py), no custom state machine is
needed: the sufficient statistic for entropy is the (cohort,
event_type) count table, which a PLAIN streaming aggregation in
complete mode keeps in the state store and folds every micro-batch
into. The quantized-ln finish (analytics_ext.q_entropy) then runs as a
tiny batch computation over the drained counts — the classic
two-phase ``-State`` (streaming counts) / ``-Merge`` (closed-form
finish) split, with the batch oracle reused VERBATIM because counts
are order-independent sums.

State size: #cohorts x #event_types counters (50 rows here; bounded by
the key-domain product, not the stream length).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.functions.portable_math import dcast
from kafka_clickhouse_implementation_spark.operators.analytics_ext import (
    _ENTROPY_ORACLE,
)
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire, source_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain
from kafka_clickhouse_implementation_spark.streaming.funnel import (
    ordered_event_wire,
    wire_stream,
)


@query("q_stream_entropy", oracle=_ENTROPY_ORACLE)
def q_stream_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution per user cohort,
    computed from STREAMED counts: the events wire replays over 4
    micro-batches (maxFilesPerTrigger=1) and a complete-mode streaming
    aggregation accumulates the (cohort, event_type) counts in the
    state store; the nano-quantized ln finish runs over the drained
    table and must hash-match the batch q_entropy oracle exactly —
    counts are order-independent, so batch boundaries cannot change
    the answer, only lost state could."""
    wire, base = ordered_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_entropy")
    counts_stream = (
        wire_stream(spark, wire, max_files_per_trigger=1)
        .groupBy((F.col("user_id") % 10).alias("cohort"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    name = "stream_entropy_counts"
    drain(spark, (counts_stream, name, ckpt, "complete"))

    # localCheckpoint: the totals join is a self-join of the memory
    # sink's view, whose MemoryPlan leaves can't be deduplicated by the
    # analyzer (INTERNAL_ERROR: conflicting references); checkpointing
    # cuts the lineage. 50 rows — cost is nil.
    counts = spark.table(name).localCheckpoint()
    tot = counts.groupBy("cohort").agg(F.sum("c").cast("long").alias("total"))
    terms = counts.join(F.broadcast(tot), "cohort").select(
        "cohort",
        "total",
        (
            F.col("c")
            * F.floor(
                F.log(F.col("c").cast("double") / F.col("total").cast("double"))
                * F.lit(1e9)
            ).cast("long")
        ).alias("term"),
    )
    return terms.groupBy("cohort").agg(
        F.max("total").cast("long").alias("n_events"),
        (
            -F.sum("term").cast("double")
            / (F.max("total").cast("double") * F.lit(1e9))
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------
# Incremental intervalLengthSum — an ORDER-SENSITIVE fold (like the
# EMA twin), so it replays a strictly-mtime-ordered ts-ranged wire.
# ---------------------------------------------------------------------

from collections.abc import Iterator  # noqa: E402

import pandas as pd  # noqa: E402
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: E402

from kafka_clickhouse_implementation_spark.operators.analytics_ext import (  # noqa: E402
    _ILS_ORACLE,
)

_DUR_US_PY = 60_000_000  # (event_id % 7 + 1) * this — restated from analytics_ext


def _ils_wire(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The `events` replay of interval starts in (s_us, event_id)
    order: the interval fold below assumes per-user starts arrive in
    time order across batches."""
    return source_wire(
        spark, sf_dir, "events", "ilswire1", ("s_us", "event_id"),
        lambda ev: ev.select("user_id", "event_id", F.unix_micros("ts").alias("s_us")),
    )


def _ils_update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one micro-batch of this user's intervals into the running
    island state. Because starts arrive time-ordered across batches,
    four longs fully describe the union so far: the OPEN island's
    [cur_s, cur_e), the count of CLOSED islands, and their total
    covered length (+ n_seen for final-row selection)."""
    (user_id,) = key
    if state.exists:
        cur_s, cur_e, closed_n, closed_len, n_seen = state.get
    else:
        cur_s, cur_e, closed_n, closed_len, n_seen = (None, None, 0, 0, 0)
    rows = []
    for pdf in batches:
        n_seen += len(pdf)
        for s, eid in zip(pdf["s_us"], pdf["event_id"]):
            rows.append((int(s), int(s) + (int(eid) % 7 + 1) * _DUR_US_PY, int(eid)))
    rows.sort()
    for s, e, _eid in rows:
        if cur_s is None:
            cur_s, cur_e = s, e
        elif s <= cur_e:
            cur_e = max(cur_e, e)
        else:
            closed_n += 1
            closed_len += cur_e - cur_s
            cur_s, cur_e = s, e
    state.update((cur_s, cur_e, closed_n, closed_len, n_seen))
    open_len = (cur_e - cur_s) if cur_s is not None else 0
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_seen": [n_seen],
            "n_islands": [closed_n + (1 if cur_s is not None else 0)],
            "covered_us": [closed_len + open_len],
        }
    )


@query("q_stream_interval_length", oracle=_ILS_ORACLE)
def q_stream_interval_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``intervalLengthSum`` maintained INCREMENTALLY — an operator the
    batch engine re-scans for, folded here as four longs of state per
    user: because the wire delivers each user's interval STARTS in
    time order (ts-ranged files, strictly increasing mtimes,
    maxFilesPerTrigger=1 ⇒ batch order is time order), the union of
    intervals so far is exactly (closed islands count/length + the one
    open island), and each micro-batch extends or closes the open
    island. Drained per-user totals must hash-match the batch island-
    detection oracle verbatim. State: 4 longs + a counter per user,
    independent of stream length."""
    wire, base = _ils_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_ils")
    # 2 files/trigger over the 4-file wire = 2 micro-batches: the
    # cheapest replay that still forces island state across a batch
    # boundary (time order within a batch is restored by the in-fold
    # sort; ACROSS batches it is the wire's file order).
    ev = read_wire(spark, wire, 2)
    folded = ev.groupBy("user_id").applyInPandasWithState(
        _ils_update,
        outputStructType="user_id long, n_seen long, n_islands long, covered_us long",
        stateStructType=(
            "cur_s long, cur_e long, closed_n long, closed_len long, n_seen long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_ils_out"
    from kafka_clickhouse_implementation_spark.streaming.drain import drain

    drain(spark, (folded, name, ckpt, "update"))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by("n_islands", "n_seen").cast("long").alias("n_islands"),
            F.max_by("covered_us", "n_seen").cast("long").alias("covered_us"),
        )
    )


# ---------------------------------------------------------------------
# Streaming simpleLinearRegression — the moment-sums -State twin
# (round 6). Sufficient statistics (n, Σx, Σy, Σx², Σxy) are order-
# independent exact integers, so a PLAIN complete-mode streaming
# aggregation carries them in the state store and the batch oracle
# applies verbatim — the same two-phase -State/-Merge split as the
# entropy twin, here for a regression.
# ---------------------------------------------------------------------


def valued_event_wire(spark, sf_dir: str) -> tuple[str, str]:
    """The `events` replay in (e_us, event_id) order CARRYING the
    milli-quantized value (the stateful2 wire drops `value`; regression
    needs it). Quantization happens BEFORE the write so the wire holds
    exact longs — JSON round-trips them losslessly. Same
    source-identity caching contract as ordered_event_wire."""
    return source_wire(
        spark, sf_dir, "events", "statefulv", ("e_us", "event_id"),
        lambda ev: ev.select(
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("e_us"),
            F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").alias("vm"),
        ),
    )


from kafka_clickhouse_implementation_spark.operators.stats_ext import (  # noqa: E402
    _LINREG_ORACLE,
    _X0,
)


@query("q_stream_linreg", oracle=_LINREG_ORACLE)
def q_stream_linreg(spark, sf_dir: str) -> DataFrame:
    """``simpleLinearRegressionState`` analogue: the events wire
    replays over 4 micro-batches (maxFilesPerTrigger=1) and a
    complete-mode streaming aggregation keeps the five exact sufficient
    statistics (n, Σx, Σy, Σx², Σxy — DECIMAL(38,0), order-independent)
    per event_type in the state store; the closed-form slope/intercept
    finish runs over the drained statistics and must hash-match the
    batch q_linreg oracle exactly. State: 5 decimals per event_type —
    bounded by the group-key domain, not the stream length."""
    wire, base = valued_event_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_linreg")
    ev = (
        read_wire(spark, wire, 1)
        .select(
            "event_type",
            (F.expr("e_us div 1000000") - F.lit(_X0)).alias("x"),
            F.col("vm").alias("y"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
    )
    name = "stream_linreg_stats"
    drain(spark, (stats, name, ckpt, "complete"))

    s = spark.table(name).localCheckpoint()
    n_dec = F.col("n").cast("decimal(38,0)")
    # split-cast finish, same as batch q_linreg (num/den pass 2^53)
    s2 = s.select(
        "event_type",
        "n",
        "sx",
        "sy",
        (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num_i"),
        (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den_i"),
    )
    slope_milli = F.expr(dcast("num_i", "spark")) / F.expr(dcast("den_i", "spark"))
    return s2.select(
        "event_type",
        "n",
        (slope_milli / F.lit(1000.0)).alias("slope_per_sec"),
        (
            (F.col("sy").cast("double") - slope_milli * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * F.lit(1000.0))
        ).alias("intercept_at_origin"),
    )
