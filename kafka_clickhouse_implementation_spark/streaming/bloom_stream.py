"""Streaming Bloom filter (round-5 queue item) — the third mergeable
sketch maintained IN the streaming engine, next to the KMV and
Count-Min twins (sketches_stream.py).

A Bloom bitmap is a pure ``bit_or`` aggregate over bit positions, so
— unlike the stateful-UDF sketches — it needs no custom state machine
at all: a plain streaming AGGREGATION in complete mode keeps the
M/32-word bitmap in the state store and folds every micro-batch in.
That makes it the cleanest possible ``-State``/``-Merge`` story: the
state IS the sketch, and Spark's own aggregation machinery is the
merge.

The wire is the duplicate-injected corpus stream (corpus_stream.
document_wire: every part file re-arrives later as a dup-* file), so
cross-batch accumulation is forced; ``bit_or`` is idempotent, which is
exactly the Bloom property the oracle states — the drained bitmap and
every probe answer are IDENTICAL to the batch-built filter's
(operators/sketches._BLOOM_ORACLE is reused verbatim).

Scale: state is at most M/32 = 32 words (4 KiB total) regardless of
stream length — the defining sketch property, here bounded by the
aggregation state store itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.operators.sketches import (
    BLOOM_K,
    BLOOM_M,
    _BLOOM_ORACLE,
    bloom_probe_answers,
    hash_slice_sql,
)
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import read_wire
from kafka_clickhouse_implementation_spark.streaming.corpus_stream import document_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain


@query("q_stream_bloom", oracle=_BLOOM_ORACLE)
def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter maintained incrementally: corpus documents stream
    in over multiple micro-batches (duplicates arriving in later
    batches than their originals); each batch's tokens set their K=3
    md5-slice bit positions and a streaming ``bit_or`` aggregation
    carries the 1024-bit bitmap in the state store. After draining,
    the standard probe set (top-10 corpus tokens + 10 synthetic
    absentees, operators/sketches.bloom_probe_answers) must answer
    EXACTLY like the batch-built filter — bit_or's idempotence under
    the duplicate wire is itself part of the checked contract."""
    wire, base = document_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_bloom")
    stream_toks = (
        read_wire(spark, wire, 4)
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    pos = (
        stream_toks.withColumn("h", F.md5(F.col("tok").cast("binary")))
        .select(
            F.explode(
                F.array(
                    *[
                        F.expr(hash_slice_sql(j, BLOOM_M)).alias("p")
                        for j in range(BLOOM_K)
                    ]
                )
            ).alias("p")
        )
    )
    words_stream = pos.groupBy(F.expr("p div 32").alias("w")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))").alias("v")
    )
    name = "stream_bloom_words"
    drain(spark, (words_stream, name, ckpt, "complete"))

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    return bloom_probe_answers(spark, toks, spark.table(name))
