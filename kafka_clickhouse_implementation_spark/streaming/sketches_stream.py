"""Streaming twins of the mergeable sketches (round 5) — the
``-State`` / ``-Merge`` combinator story proven IN the streaming
engine, not just as a batch merge law:

- ``q_stream_kmv``: the KMV bottom-k distinct sketch (operators/
  sketches.py) maintained ACROSS micro-batches in the state store via
  ``applyInPandasWithState``, bucketed by the digest's first nibble (16
  parallel groups, each holding at most K digests). Because a bottom-k
  set is order-independent (it is a function of the SET of digests
  seen, not their arrival order), the drained sketch is deterministic
  and the whole-corpus DuckDB bottom-k CTE hash-checks it digest-for-
  digest — same contract as the batch merge-law twin q_kmv_union.
- ``q_stream_cms``: heavy-hitter estimation via a Count-Min sketch
  maintained by a streaming aggregation (the d x w counter matrix IS
  the state store content; counters are order-independent sums, so —
  unlike Misra-Gries, whose counters depend on arrival order — the
  final state is exactly reproducible by a batch oracle). The drained
  counters answer point queries for the corpus's exact top-10 tokens;
  DuckDB recomputes the same counters and the same min-over-rows
  estimates arithmetically. CMS guarantees est >= exact, checked in
  the driver hash because both sides compute both numbers.

Wire note: both queries replay the corpus-stream document wire, which
contains every part file TWICE (later-mtime dup files — see
corpus_stream.document_wire). For the KMV sketch duplicates are
absorbed by distinctness; for CMS every token count simply doubles,
and the oracle states the 2x — the dup files are what guarantee the
state genuinely accumulates across batch boundaries.

Scale: KMV state is 16 groups x K digests (~2 KB each); CMS state is
d*w = 2048 counters. Both are constants independent of stream length —
the defining property of a sketch, here enforced by the state store.

Reference anchor: ClickHouse's uniqCombinedState/-Merge and
topK-family combinators (kafka+clickhouse.md:221-229 shows the
incremental-MV machinery they plug into); Spark's state store is the
engine that carries the partial sketch between ingest batches.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.sketches import (
    _BOTTOM_K_CTE,
    K,
)
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire, source_wire
from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain


def _stream_bigram_digests(docs: DataFrame) -> DataFrame:
    """Per-batch bigram md5 digests — same tokenization as the batch
    sketch (operators/sketches._bigrams); the batch-local distinct is
    an optimization only (cross-batch dedup is the sketch's job)."""
    return (
        docs.select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> concat_ws(' ', t[i], t[i + 1]))"
                )
            ).alias("bg")
        )
        .select(F.md5(F.col("bg").cast("binary")).alias("h"))
        .withColumn("bucket", F.substring("h", 1, 1))
    )


def _kmv_update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one micro-batch of digests into this bucket's bottom-K
    state. n_seen counts digest ROWS ever folded (strictly increasing
    per emission), so the drained update-mode table's max-n_seen row
    per bucket is its final state."""
    (bucket,) = key
    n_seen, digests = state.get if state.exists else (0, "")
    held = set(digests.split(",")) if digests else set()
    for pdf in batches:
        n_seen += len(pdf)
        held.update(pdf["h"])
    bottom = sorted(held)[:K]
    packed = ",".join(bottom)
    state.update((n_seen, packed))
    yield pd.DataFrame(
        {"bucket": [bucket], "n_seen": [n_seen], "digests": [packed]}
    )


@query(
    "q_stream_kmv",
    # Identical contract to q_kmv_union: the streamed, state-store-
    # maintained bottom-k must reproduce the whole-corpus bottom-k
    # digest-for-digest (bottom-k is order-independent, so batch
    # boundaries cannot change the answer — only lose state, which is
    # exactly what the check would catch).
    oracle=f"""{_BOTTOM_K_CTE}
    SELECT max(h) AS kth_hash, CAST(count(*) AS BIGINT) AS k_kept
    FROM bottom
    """,
)
def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch maintained incrementally (SURVEY C37's
    streaming half): corpus bigram digests stream in over 4 micro-
    batches (8 wire files, maxFilesPerTrigger=2, duplicates arriving in
    later batches than their originals); 16 first-nibble bucket groups
    each carry their bottom-K set in the state store; the final merged
    bottom-K must equal the direct whole-corpus sketch bit-for-bit."""
    wire, base = document_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_kmv")
    sketched = (
        _stream_bigram_digests(read_wire(spark, wire, 2))
        .groupBy("bucket")
        .applyInPandasWithState(
            _kmv_update,
            outputStructType="bucket string, n_seen long, digests string",
            stateStructType="n_seen long, digests string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "stream_kmv_out"
    drain(spark, (sketched, name, ckpt, "update"))
    final = (
        spark.table(name)
        .groupBy("bucket")
        .agg(F.max_by("digests", "n_seen").alias("digests"))
    )
    merged = (
        final.select(F.explode(F.split("digests", ",")).alias("h"))
        .orderBy("h")
        .limit(K)
    )
    return merged.agg(
        F.max("h").alias("kth_hash"), F.count("*").cast("long").alias("k_kept")
    )


# Count-Min geometry: d hash rows x w buckets. Hashes are md5 of
# "<row>:<token>" decoded with the shared 13-nibble integer arithmetic
# (engine-portable, see sketches.py) mod w.
CMS_D = 4
CMS_W = 512
TOP_N = 10


from kafka_clickhouse_implementation_spark.operators.sketches import (  # noqa: E402
    hash_slice_sql,
)


def _bucket_sql_row(j: int) -> str:
    """Bucket index for CMS hash row `j`, carved from ONE md5 digest
    column `h` (see sketches.hash_slice_sql — one md5 per token instead
    of d; measured ~1.6× faster end-to-end on the streaming drain)."""
    return hash_slice_sql(j, CMS_W)


def _spark_cms_buckets(df: DataFrame, tok: str = "tok") -> DataFrame:
    """(j, b) CMS cell coordinates for every token row — ONE digest per
    token, nibble-sliced into the four row hashes. Spark md5 needs
    BINARY input (DuckDB takes VARCHAR directly)."""
    with_digest = df.withColumn("h", F.md5(F.col(tok).cast("binary")))
    return with_digest.select(
        "*",
        *[F.expr(_bucket_sql_row(j)).alias(f"_b{j}") for j in range(CMS_D)],
    )


_CMS_ORACLE = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), tok_counts AS (
      SELECT md5(tok) AS h, tok, CAST(2 * count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ), cells AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS j, {_bucket_sql_row(j)} AS b,"
        f" CAST(sum(cnt) AS BIGINT) AS cnt FROM tok_counts GROUP BY 1, 2"
        for j in range(CMS_D)
      )}
    ), probes AS (
      SELECT h, tok, cnt AS exact_n FROM tok_counts
      ORDER BY cnt DESC, tok LIMIT {TOP_N}
    ), probe_cells AS (
      {" UNION ALL ".join(
        f"SELECT tok, exact_n, {j} AS j, {_bucket_sql_row(j)} AS b FROM probes"
        for j in range(CMS_D)
      )}
    )
    SELECT p.tok AS token, p.exact_n, min(c.cnt) AS cms_est
    FROM probe_cells p JOIN cells c ON p.j = c.j AND p.b = c.b
    GROUP BY 1, 2
"""


@query("q_stream_cms", oracle=_CMS_ORACLE)
def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter point queries from a Count-Min sketch maintained
    incrementally (SURVEY C29's streaming half): each micro-batch
    folds its token counts into the d x w counter matrix held by the
    streaming aggregation's state store (counters are order-
    independent sums — the reason CMS, unlike Misra-Gries, is exactly
    driver-checkable); after draining, the corpus's exact top-10
    tokens are estimated as min-over-rows. The wire's later-batch
    duplicate files double every count (stated in the oracle) and
    force genuine cross-batch accumulation. CMS guarantees
    cms_est >= exact_n; the driver hash pins both columns."""
    wire, base = document_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_cms")
    # 4 files/trigger over the 8-file wire = 2 micro-batches: the
    # cheapest replay that still forces state across a batch boundary
    toks = (
        read_wire(spark, wire, 4)
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    cells = _spark_cms_buckets(toks).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"_b{j}").alias("b")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("cell")
    ).select("cell.j", "cell.b")
    counters = cells.groupBy("j", "b").agg(F.count(F.lit(1)).alias("cnt"))
    name = "stream_cms_out"
    drain(spark, (counters, name, ckpt, "complete"))

    docs = load(spark, sf_dir, "documents")
    probes = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg((F.count(F.lit(1)) * 2).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(TOP_N)
    )
    probe_cells = _spark_cms_buckets(probes).select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"_b{j}").alias("b")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("tok", "exact_n", "cell.j", "cell.b")
    return (
        probe_cells.join(
            F.broadcast(spark.table(name)), on=["j", "b"], how="inner"
        )
        .groupBy(F.col("tok").alias("token"), "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )


def _ema_update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one micro-batch of a user's events into the single-double
    EMA state (alpha=1/2, seeded by the first observation). Within-
    batch disorder is sorted away; cross-batch order is the wire's
    ts-range file order — the same arrival contract as the streaming
    funnel. n counts events folded (strictly increasing per emission),
    so max-n per user selects the final state after draining."""
    (user_id,) = key
    if state.exists:
        ema, n = state.get
    else:
        ema, n = 0.0, 0
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values(["e_us", "event_id"])
    for v in pdf["value"]:
        v = float(v)
        ema = v if n == 0 else 0.5 * v + 0.5 * ema
        n += 1
    state.update((ema, n))
    yield pd.DataFrame({"user_id": [user_id], "ema": [ema], "n_events": [n]})


@query(
    "q_stream_ema",
    # Same oracle as the batch q_ema (relational_ext2): the incremental
    # per-user fold drained over the multi-batch wire must reproduce
    # the ordered batch fold bit-for-bit - alpha=1/2 keeps every
    # intermediate exact-IEEE given the order, which the ts-ranged wire
    # plus within-batch sort pins.
    oracle="""
    WITH seq AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vals,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events WHERE user_id < 100 GROUP BY user_id
    )
    SELECT user_id, n_events,
           list_reduce(vals, (acc, x) -> CAST(0.5 AS DOUBLE) * x
                                         + CAST(0.5 AS DOUBLE) * acc) AS ema
    FROM seq
    """,
)
def q_stream_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C72's streaming half: the EMA maintained incrementally — ONE
    double (plus a count) of state per user in the state store, updated
    per micro-batch by ``applyInPandasWithState``; the drained result
    must equal the batch ordered fold exactly. This is the
    ClickHouse-combinator story (`exponentialMovingAverageState` /
    `-Merge`) for an operator whose state is a scalar, the cheapest
    possible stateful streaming aggregate. Rides a dedicated wire in
    (e_us, event_id) order (the shared funnel wire carries no `value`
    column), so batch order is time order, which the ORDER-SENSITIVE
    fold needs; the doubles round-trip the JSON wire via Python float
    repr, which is exact for IEEE doubles."""
    wire_dir, base = source_wire(
        spark, sf_dir, "events", "emawire1", ("e_us", "event_id"),
        lambda ev: ev.filter(F.col("user_id") < 100).select(
            "user_id", "event_id", "value", F.unix_micros("ts").alias("e_us")
        ),
    )
    ckpt = os.path.join(base, "ckpt_ema")
    ev = read_wire(spark, wire_dir, 1)
    folded = ev.groupBy("user_id").applyInPandasWithState(
        _ema_update,
        outputStructType="user_id long, ema double, n_events long",
        stateStructType="ema double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_ema_out"
    drain(spark, (folded, name, ckpt, "update"))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by("ema", "n_events").alias("ema"),
            F.max("n_events").alias("n_events"),
        )
        .select("user_id", "n_events", "ema")
    )
