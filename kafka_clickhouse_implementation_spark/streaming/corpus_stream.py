"""Streaming corpus ingest — the S-tier × C-tier capstone: documents
arrive as a stream and flow through the quality gate (stateless) and
EXACT dedup (stateful, fingerprint-keyed state store) incrementally,
instead of as a batch re-scan. The funnel counts after draining must
equal the batch corpus funnel exactly, so q_corpus_funnel's DuckDB
oracle hash-checks the streaming state machine end-to-end.

This is the shape a production corpus pipeline actually runs: the
quality gate is a narrow per-batch filter; dedup state is one 32-char
digest per DISTINCT document (never a body), hash-partitioned by the
digest. Over an unbounded stream you'd add
``dropDuplicatesWithinWatermark`` to bound state by the horizon inside
which a duplicate can recur (the C52 pattern); the bounded hermetic
replay keeps plain dropDuplicates so the count contract is exact.

Reference anchor: the reference ingests raw events with no dedup or
quality tier (kafka+clickhouse.md:92-103, 127-153); this is the layer
a training-data user adds on the same consume path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.cachedirs import source_tagged_dir
from kafka_clickhouse_implementation_spark.io import load
from kafka_clickhouse_implementation_spark.registry import query
from kafka_clickhouse_implementation_spark.sources.streams import doubled_wire, read_wire, source_wire
from kafka_clickhouse_implementation_spark.streaming.drain import drain


def document_wire(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The `documents` replay in doc_id order, 4 parts, with every part
    arriving again as a ``dup-*.json`` after all the originals: under
    maxFilesPerTrigger=1 each document's duplicate arrives in a LATER
    micro-batch than its original, so the dedup state store must carry
    digests across batch boundaries to collapse it (a self-union of one
    readStream cannot test this: both legs advance in lockstep, landing
    the original and its duplicate in the SAME batch)."""
    once, _ = source_wire(
        spark, sf_dir, "documents", "docwire", ("doc_id",), lambda d: d.select("doc_id", "text")
    )
    base = source_tagged_dir("docwire2", sf_dir, "documents")
    return doubled_wire(once, os.path.join(base, "wire")), base


@query(
    "q_stream_corpus_funnel",
    # The batch q_corpus_funnel oracle with raw/quality counts doubled:
    # every wire file exists twice (the dup copies carry later mtimes,
    # so each duplicate lands in a later micro-batch than its
    # original), and the stateful dedup must collapse the cross-batch
    # duplicates back to the distinct count — the 2x is what makes the
    # dedup claim non-vacuous on data whose documents are (nearly) all
    # unique.
    oracle="""
    WITH flagged AS (
      SELECT text,
             len(string_split(text, ' ')) AS ntok,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a', 'of', 'and'))) AS nstop
      FROM documents
    ), ok AS (
      SELECT text, (ntok >= 10 AND nstop / ntok <= 0.5) AS passed FROM flagged
    )
    SELECT CAST(2 * count(*) AS BIGINT) AS n_raw,
           CAST(2 * sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_quality,
           CAST(count(DISTINCT CASE WHEN passed THEN md5(text) END) AS BIGINT)
             AS n_after_exact_dedup
    FROM ok
    """,
)
def q_stream_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus funnel: replay `documents` as an 8-file JSON
    wire — 4 originals plus 4 later-mtime duplicate files, so under
    maxFilesPerTrigger=1 every document's duplicate arrives in a LATER
    micro-batch than its original and the dedup state store must carry
    digests ACROSS batch boundaries — apply the quality gate per
    batch, dedup on the md5 fingerprint in the state store, and report
    the (n_raw, n_after_quality, n_after_exact_dedup) funnel: raw and
    quality counts double, the deduped count must collapse back to the
    batch q_corpus_funnel's distinct count."""
    wire, base = document_wire(spark, sf_dir)
    raw_ckpt = os.path.join(base, "ckpt_raw")
    dedup_ckpt = os.path.join(base, "ckpt_dedup")
    shutil.rmtree(raw_ckpt, ignore_errors=True)
    shutil.rmtree(dedup_ckpt, ignore_errors=True)

    toks = F.split("text", " ")
    passed = (F.size(toks) >= 10) & (
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
        / F.size(toks)
        <= 0.5
    )

    # drain 1: raw + quality counts (complete-mode tiny aggregate)
    counts = read_wire(spark, wire, 1).agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(passed, 1).otherwise(0)).alias("n_after_quality"),
    )
    drain(spark, (counts, "stream_corpus_counts", raw_ckpt, "complete"))

    # drain 2: gated docs through fingerprint-keyed stateful dedup
    deduped = (
        read_wire(spark, wire, 1)
        .filter(passed)
        .select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .dropDuplicates(["fp"])
    )
    drain(spark, (deduped, "stream_corpus_dedup", dedup_ckpt, "append"))

    n_exact = spark.table("stream_corpus_dedup").agg(
        F.count(F.lit(1)).alias("n_after_exact_dedup")
    )
    return spark.table("stream_corpus_counts").crossJoin(F.broadcast(n_exact))


# ---------------------------------------------------------------------
# Streaming chunk-level dedup — round 6 (C123), the -State twin of
# operators/corpus_ext.q_chunk_dedup (C113).
# ---------------------------------------------------------------------

from kafka_clickhouse_implementation_spark.operators.corpus_ext import (  # noqa: E402
    _CHUNK_ORACLE,
    CHUNK_W,
)

_CHUNK_EXPR = (
    f"transform(sequence(0, (size(w) - 1) div {CHUNK_W}), "
    f"i -> slice(w, i * {CHUNK_W} + 1, {CHUNK_W}))"
)


@query("q_stream_chunk_dedup", oracle=_CHUNK_ORACLE)
def q_stream_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup maintained IN the stream: documents arrive
    over 8 micro-batches on the duplicate-injected wire (every file
    re-arrives later as a dup-*), each batch's 12-word chunks are
    digested, and a complete-mode streaming aggregation keeps ONE
    min(struct(doc_id, pos)) per distinct chunk digest — the
    first-occurrence table as state. min() is order-independent AND
    idempotent, so batch boundaries and the injected re-deliveries
    cannot change the winner — which is exactly the keep-lowest rule
    the batch operator (C113) states, so its oracle applies VERBATIM.
    The per-source accounting finish joins the drained winner table
    back against the batch chunk inventory. State: one 16-byte digest
    + 2 longs per DISTINCT chunk — the inherent dedup state lower
    bound (the q_stream_dedup class), shardable by digest."""
    wire, base = document_wire(spark, sf_dir)
    ckpt = os.path.join(base, "ckpt_chunk_dedup")
    chunks_stream = (
        read_wire(spark, wire, 1)
        .select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.posexplode(F.expr(_CHUNK_EXPR)).alias("pos", "cw"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.col("cw"))).alias("h"),
        )
    )
    first = chunks_stream.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("f")
    )
    name = "stream_chunk_first"
    drain(spark, (first, name, ckpt, "complete"))

    winners = spark.table(name).select(
        "h", F.col("f.doc_id").alias("fd"), F.col("f.pos").alias("fp")
    ).localCheckpoint()

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    ch = d.select(
        "doc_id",
        "source",
        F.posexplode(F.expr(_CHUNK_EXPR)).alias("pos", "cw"),
    ).select(
        "doc_id",
        "source",
        F.col("pos").cast("long").alias("pos"),
        F.md5(F.concat_ws(" ", F.col("cw"))).alias("h"),
        F.size("cw").cast("long").alias("n_words"),
    )
    marked = ch.join(winners, "h").select(
        "source",
        "n_words",
        F.when(
            (F.col("doc_id") == F.col("fd")) & (F.col("pos") == F.col("fp")), 1
        )
        .otherwise(0)
        .alias("kept"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("long").alias("n_dup"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum(F.when(F.col("kept") == 1, F.col("n_words")).otherwise(0))
        .cast("long")
        .alias("kept_words"),
        (F.sum("kept").cast("double") / F.count(F.lit(1))).alias("keep_ratio"),
    )
