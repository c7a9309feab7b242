"""Streaming throughput + state-size measurement (round-6 verdict item
3): the reference's headline qualitative claims are INGEST THROUGHPUT
and MV freshness (kafka+clickhouse.md:101-107, 233, 260) — this tool
attaches numbers to them via ``StreamingQueryProgress``.

Four workloads over a replicated events wire, at two wire sizes and
under both state-store providers (HDFS-backed default and RocksDB):

- ``mv_partials``    — the reference's MV path (stateless foreachBatch
                       per-insert-block partials): pure ingest rows/sec.
- ``daily_counts``   — watermarked tumbling-day aggregation: state =
                       days x types (bounded by key domain, NOT wire
                       size — must measure flat).
- ``cms_cells``      — streaming Count-Min counter matrix: state <=
                       d x w = 2048 counters (constant by construction
                       — must measure flat).
- ``user_funnel``    — applyInPandasWithState per-user chain state:
                       state linear in DISTINCT USERS (and only there).
- ``chunk_first``    — the C123 stateful chunk-dedup twin over a
                       replicated DOCUMENTS wire: state = one
                       min(struct(doc_id,pos)) per DISTINCT 12-word
                       chunk digest. Replication repeats the same
                       texts, so 4x wire rows must leave state rows
                       ~flat — the designed linear-in-distinct (not
                       linear-in-stream) growth, measured.

Per run we record rows/sec (total input rows / total trigger-execution
seconds) and the final state-operator numRowsTotal / memoryUsedBytes.
Output: one JSON document to docs/STREAM_THROUGHPUT.json plus a
readable table on stdout; docs/SCALE.md summarizes the findings.

Usage: python tools/stream_throughput.py [sf_dir]  (default sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from kafka_clickhouse_implementation_spark.io import load  # noqa: E402
from kafka_clickhouse_implementation_spark.session import get_spark  # noqa: E402
from kafka_clickhouse_implementation_spark.sources.streams import (  # noqa: E402
    read_wire,
    wire_ready,
    write_wire,
)
from kafka_clickhouse_implementation_spark.streaming.funnel import (  # noqa: E402
    streaming_funnel_levels,
    wire_stream,
)
from kafka_clickhouse_implementation_spark.streaming.sketches_stream import (  # noqa: E402
    CMS_D,
    _bucket_sql_row,
)

BASE = "/tmp/spark_graft_stream/throughput"
PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}
REPLICATIONS = (1, 4)
N_WIRE_FILES = 8
FILES_PER_TRIGGER = 2  # -> 4 micro-batches per run


def _replicated(rows: DataFrame, id_col: str, repl: int) -> DataFrame:
    """``rows`` ``repl`` times, ``id_col`` offset per copy so duplicates
    stay distinct rows."""
    n = rows.count()
    copies = [rows.withColumn(id_col, F.col(id_col) + F.lit(i * n)) for i in range(repl)]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionAll(c)
    return out


def build_wire(spark, sf_dir: str, repl: int) -> str:
    """events replicated ``repl``x (event_ids offset so duplicates stay
    distinct rows) as an 8-file ts-ranged JSON wire."""
    wire = os.path.join(BASE, f"wire_r{repl}")
    if not wire_ready(wire):
        ev = load(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type", F.unix_micros("ts").alias("e_us")
        )
        write_wire(
            _replicated(ev, "event_id", repl), wire, ("e_us", "event_id"), files=N_WIRE_FILES
        )
    return wire


def build_doc_wire(spark, sf_dir: str, repl: int) -> str:
    """documents replicated ``repl``x with offset doc_ids but IDENTICAL
    texts — so the distinct-chunk set (the dedup state domain) stays
    constant while the wire row count scales."""
    wire = os.path.join(BASE, f"docwire_r{repl}")
    if not wire_ready(wire):
        d = load(spark, sf_dir, "documents").select("doc_id", "text")
        write_wire(_replicated(d, "doc_id", repl), wire, ("doc_id",), files=N_WIRE_FILES)
    return wire


# ---------------------------------------------------------------- workloads


def w_mv_partials(spark, ev: DataFrame, run_dir: str):
    """Stateless foreachBatch MV partials (the reference's per-insert-
    block trigger): each batch appends its (day, type) counts."""
    rollup = os.path.join(run_dir, "rollup")

    def mv_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(F.count(F.lit(1)).alias("total"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(rollup, f"batch_id={batch_id}"))
        )

    return ev.writeStream.foreachBatch(mv_batch), "update"


def w_daily_counts(spark, ev: DataFrame, run_dir: str):
    out = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("total"))
    )
    return out.writeStream.format("memory").queryName("tp_daily"), "update"


def w_cms_cells(spark, ev: DataFrame, run_dir: str):
    """Count-Min cell counters over the event_type token stream — the
    d x w = 2048-counter state matrix, complete mode."""
    with_digest = ev.withColumn("h", F.md5(F.col("event_type").cast("binary")))
    cells = with_digest.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_bucket_sql_row(j)).alias("b"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("cell")
    ).select("cell.j", "cell.b")
    out = cells.groupBy("j", "b").agg(F.count(F.lit(1)).alias("cnt"))
    return out.writeStream.format("memory").queryName("tp_cms"), "complete"


def w_user_funnel(spark, ev: DataFrame, run_dir: str):
    out = streaming_funnel_levels(ev)
    return out.writeStream.format("memory").queryName("tp_funnel"), "update"


def w_chunk_first(spark, docs: DataFrame, run_dir: str):
    """The C123 stateful chunk-dedup twin: per distinct 12-word chunk
    digest, keep min(struct(doc_id, pos)) — state rows == distinct
    chunks, independent of how many times the stream re-delivers the
    same text."""
    from kafka_clickhouse_implementation_spark.operators.corpus_ext import CHUNK_W

    chunk_expr = (
        f"transform(sequence(0, (size(w) - 1) div {CHUNK_W}), "
        f"i -> slice(w, i * {CHUNK_W} + 1, {CHUNK_W}))"
    )
    chunks = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.posexplode(F.expr(chunk_expr)).alias("pos", "cw"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.col("cw"))).alias("h"),
        )
    )
    out = chunks.groupBy("h").agg(F.min(F.struct("doc_id", "pos")).alias("f"))
    return out.writeStream.format("memory").queryName("tp_chunks"), "update"


def w_bpe_vocab(spark, docs: DataFrame, run_dir: str):
    """The C138 streaming BPE vocabulary state: a complete-mode
    groupBy(word) running count. State rows == VOCABULARY size (31 on
    this corpus) — flat under replication AND under wire growth, the
    strongest bounded-state claim in the suite (the key domain is the
    language, not the data)."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return words.writeStream.format("memory").queryName("tp_bpe_vocab"), "complete"


# workload -> (builder, wire kind): the first four replay the events
# wire; chunk_first replays the replicated documents wire.
WORKLOADS = {
    "mv_partials": (w_mv_partials, "events"),
    "daily_counts": (w_daily_counts, "events"),
    "cms_cells": (w_cms_cells, "events"),
    "user_funnel": (w_user_funnel, "events"),
    "chunk_first": (w_chunk_first, "documents"),
    "bpe_vocab": (w_bpe_vocab, "documents"),
}


# ---------------------------------------------------------------- harness


def run_one(spark, workload: str, provider: str, wire: str, repl: int) -> dict:
    run_dir = os.path.join(BASE, f"run_{workload}_{provider}_r{repl}")
    shutil.rmtree(run_dir, ignore_errors=True)
    ckpt = os.path.join(run_dir, "ckpt")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", PROVIDERS[provider]
    )
    fn, kind = WORKLOADS[workload]
    ev = (read_wire if kind == "documents" else wire_stream)(spark, wire, FILES_PER_TRIGGER)
    writer, mode = fn(spark, ev, run_dir)
    t0 = time.time()
    q = (
        writer.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(900):
        q.stop()
        raise TimeoutError(f"{workload}/{provider}/r{repl} did not drain")
    wall = time.time() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    rows = sum(p.get("numInputRows", 0) for p in progress)
    trig_sec = (
        sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in progress)
        / 1000.0
    )
    state = {}
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            op = ops[0]
            state = {
                "state_rows": op.get("numRowsTotal"),
                "state_memory_bytes": op.get("memoryUsedBytes"),
            }
            cm = op.get("customMetrics") or {}
            if provider == "rocksdb":
                state["rocksdb_sst_bytes"] = cm.get("rocksdbSstFileSize")
                state["rocksdb_mem_bytes"] = cm.get("rocksdbTotalMemoryUsage")
            break
    return {
        "workload": workload,
        "provider": provider,
        "replication": repl,
        "input_rows": rows,
        "n_batches": sum(1 for p in progress if p.get("numInputRows", 0) > 0),
        "trigger_sec": round(trig_sec, 3),
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows / trig_sec, 1) if trig_sec else None,
        **state,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stream_throughput")
    os.makedirs(BASE, exist_ok=True)
    wires = {
        "events": {r: build_wire(spark, sf_dir, r) for r in REPLICATIONS},
        "documents": {r: build_doc_wire(spark, sf_dir, r) for r in REPLICATIONS},
    }
    results = []
    for workload, (_, kind) in WORKLOADS.items():
        for provider in PROVIDERS:
            for repl in REPLICATIONS:
                r = run_one(spark, workload, provider, wires[kind][repl], repl)
                results.append(r)
                print(
                    f"{workload:13s} {provider:8s} x{repl}  "
                    f"{r['input_rows']:>8d} rows  "
                    f"{r['rows_per_sec'] or 0:>10.0f} rows/s  "
                    f"state_rows={r.get('state_rows')} "
                    f"state_bytes={r.get('state_memory_bytes')}"
                )
    doc = {
        "sf_dir": sf_dir,
        "wire_files": N_WIRE_FILES,
        "files_per_trigger": FILES_PER_TRIGGER,
        "results": results,
    }
    out = os.path.join(ROOT, "docs", "STREAM_THROUGHPUT.json")
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=2)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
