"""The workloads. Each one runs the same shape of run:

1. a closed bulk phase (backlog catch-up, or result-product rebuild);
2. a measured window of ``--seconds`` in which an open-loop publisher
   feeds one continuous ingest query while one closed-loop client
   reads (dashboard reads, or a batch query suite);
3. a drain of the ingest and the correctness checks.

Only the client, the inputs and the bulk phase differ, so every
end-to-end metric exists on every workload.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import functions as F

from kafka_clickhouse_implementation_spark.plans import layout
from kafka_clickhouse_implementation_spark.schemas import QUEUE_WIRE_SCHEMA
from kafka_clickhouse_implementation_spark.sources.streams import file_stream
from kafka_clickhouse_implementation_spark.streaming import pipeline

from perfbench import gen
from perfbench.stats import median
from perfbench.trace import StatusStore, Tracer

CLIENT_TAG = "perfbench-client"


@dataclass
class Workload:
    name: str
    live_rate: float  # files published per second
    events_per_file: int
    backlog_files: int  # pre-written files drained by the catch-up phase, in CHUNKS
    queries: tuple[str, ...] = ()  # run over the repository's sf0.001 tables
    products: tuple[str, ...] = ()
    # True: the client reads while ingest runs, for the whole window.
    # False: ingest alone for the window, then one client pass alone.
    overlap: bool = True


WORKLOADS = {
    w.name: w
    for w in (
        # ingest, layout writes and dashboard reads share the fact and
        # rollup tables, so write-path and read-path changes show on each other
        Workload(
            "campaign_live",
            live_rate=12.0, events_per_file=40, backlog_files=72,
        ),
        # the uncontended floor: tiny micro-batches and small-table queries,
        # where time is call overhead, planning, job and task launch and
        # commits; one query per batch operator module
        Workload(
            "batch_small",
            live_rate=12.0, events_per_file=8, backlog_files=0, overlap=False,
            queries=(
                "q_mv_daily",  # operators.tier_a
                "q_tpch_q6",  # operators.tpch
                "q_window_rank",  # operators.relational
                "q_unigram_tokenizer_export",  # operators.unigram_lm
                "q_simhash_portable",  # operators.minhash_portable
                "q_curriculum_schedule",  # operators.corpus_ext
                "q_kmeans_semantic",  # operators.clustering
                "q_proximity_search",  # operators.retrieval
                "q_bpe_train",  # operators.bpe
                "q_corpus_funnel",  # pipelines.corpus
                "q_tokenizer_export",  # pipelines.shards
                "q_stream_ivf_ingest",  # streaming.vector_stream
            ),
            products=("operators.dsir", "operators.unigram_lm", "pipelines.corpus",
                      "pipelines.shards"),
        ),
    )
}

# The repository's sf0.001 testdata tables, vendored so a run reads
# nothing outside its checkout.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
# The catch-up drains its backlog in CHUNKS chunks and reports the
# median CPU time of those after the first WARM_CHUNKS: the first chunk
# loads classes, and the JIT compiles most of the hot code in the next.
CHUNKS = 6
WARM_CHUNKS = 2
# Dashboard passes before the ingest starts: untimed ones, then ones
# whose CPU time is measured.
WARM_PASSES = 1
TIMED_PASSES = 4
# Files ingested before the window, untimed, so the stream's first
# (cold) micro-batches do not land in the freshness figures.
WARM_FILES = 5
# Ingest processingTime interval, above the micro-batch time. Spark fires
# the trigger on multiples of the interval since the epoch, and the
# publisher's schedule starts half a file interval after one, so every
# run splits the live files into the same micro-batches (a window of a
# whole number of intervals ends half a file interval before a trigger).
TRIGGER_S = 3
# Micro-batches between compact_rollup calls: the warm-up files are
# batch 0, so the second batch of the window compacts.
COMPACT_EVERY = 3


# ------------------------------------------------------------ inputs


@dataclass
class Inputs:
    plan: gen.CampaignPlan
    n_live: int
    backlog_dir: str
    sf_dir: str | None


def make_inputs(w: Workload, seed: int, seconds: int, work: str) -> Inputs:
    n_live = int(round(w.live_rate * seconds))
    plan = gen.campaign_events(seed, w.backlog_files + WARM_FILES + n_live, w.events_per_file,
                               history_files=w.backlog_files)
    backlog_dir = os.path.join(work, "backlog")
    shutil.rmtree(backlog_dir, ignore_errors=True)
    os.makedirs(backlog_dir)
    for i in range(w.backlog_files):
        chunk = os.path.join(backlog_dir, f"c{i * CHUNKS // w.backlog_files}")
        os.makedirs(chunk, exist_ok=True)
        with open(os.path.join(chunk, f"f-{i:06d}.json"), "wb") as f:
            f.write(plan.files[i])
    return Inputs(plan, n_live, backlog_dir, DATA_DIR if w.queries else None)


def warm_up(spark) -> None:
    """One trivial job: the session is ready once it can run a job.
    First-touch costs of the workload's own reads land in the first
    repetition of the bulk phase, which its median leaves out."""
    spark.range(1000).selectExpr("sum(id)").collect()


# ------------------------------------------------------------ results


@dataclass
class Run:
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)


# Thread names (as the kernel truncates them) of the JVM's own JIT
# compiler and garbage collector threads.
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread",
                       "VM Periodic Tas")


def _ticks(stat: str) -> int:
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


def cpu_split(spark) -> tuple[float, float]:
    """(work, service) CPU seconds used so far. Work: this Python process
    plus every driver JVM thread but the JIT compiler and garbage
    collector threads, which are service. The guest kernel leaves out
    time the hypervisor gave the CPU to another machine, so neither
    grows with the host's load. Service threads never exit (the JVM runs
    with a fixed compiler thread count), so work stays monotonic."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        total = _ticks(f.read())
    service = 0
    for task in glob.glob(f"/proc/{pid}/task/*"):
        try:
            with open(f"{task}/comm") as f:
                name = f.read()
            if name.startswith(JVM_SERVICE_THREADS):
                with open(f"{task}/stat") as f:
                    service += _ticks(f.read())
        except OSError:
            continue  # the thread exited
    hz = os.sysconf("SC_CLK_TCK")
    t = os.times()
    return (total - service) / hz + t.user + t.system, service / hz


def cpu_s(spark) -> float:
    """Work CPU seconds used so far (see ``cpu_split``)."""
    return cpu_split(spark)[0]


def _report_exc(run: Run, what: str) -> None:
    traceback.print_exc(file=sys.stderr)
    run.outcome(False, what)


# ------------------------------------------------------------ ingest


class Ingest:
    """One continuous query over the live wire directory, fed by an
    open-loop publisher thread that renames each file into place at its
    scheduled time whether or not the query keeps up."""

    def __init__(self, spark, w: Workload, inp: Inputs, work: str, run: Run) -> None:
        self.spark, self.w, self.inp = spark, w, inp
        self.tr = run.tracer
        self.live_dir = os.path.join(work, "live")
        self.stage_dir = os.path.join(work, "live_staging")
        self.fact_dir = os.path.join(work, "fact")
        self.rollup_dir = os.path.join(work, "rollup")
        self.ckpt = os.path.join(work, "ckpt_live")
        self.first_live = w.backlog_files + WARM_FILES  # plan index of the first timed file
        for d in (self.live_dir, self.stage_dir):
            os.makedirs(d, exist_ok=True)
        self.due: list[float] = []  # scheduled publish time per live file
        self.published: list[float] = []  # actual rename time
        self.batch_errors = 0
        self.files_written: list[int] = []
        self.compact_bytes: list[int] = []
        self.query = None

    # foreachBatch body: the single writer
    def _sink(self, df, batch_id: int) -> None:
        tr = self.tr
        try:
            with tr.span("streaming.pipeline.batch", batch=batch_id):
                before = _count_files(self.fact_dir) if tr.enabled else 0
                with tr.span("plans.layout.write_day_partitioned"):
                    layout.write_day_partitioned(
                        df, self.fact_dir, ts_col="event_ts",
                        sort_keys=("level",), mode="append")
                with tr.span("plans.layout.write_rollup_batch"):
                    layout.write_rollup_batch(
                        df.select(F.to_date("event_ts").alias("day"), "level"),
                        self.rollup_dir, batch_id)
                if tr.enabled:
                    rb = os.path.join(self.rollup_dir, f"batch-{batch_id:010d}")
                    self.files_written.append(
                        _count_files(self.fact_dir) - before + _count_files(rb))
                if (batch_id + 1) % COMPACT_EVERY == 0:
                    with tr.span("plans.layout.compact_rollup"):
                        layout.compact_rollup(self.spark, self.rollup_dir)
                    if tr.enabled:
                        self.compact_bytes.append(_dir_bytes(self.rollup_dir))
        except Exception:
            self.batch_errors += 1
            traceback.print_exc(file=sys.stderr)
            raise

    def start(self) -> None:
        """Start the query in the ingest scheduler pool and let it ingest
        the warm-up files. The stream thread inherits the caller's pool,
        so this runs on a thread of its own."""
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
        for i in range(self.w.backlog_files, self.first_live):
            self._put(i)  # before the start, so the first batch takes them all
        stream = file_stream(self.spark, self.live_dir)
        events = pipeline.decoded_events(stream)
        self.query = (events.writeStream.foreachBatch(self._sink)
                      .option("checkpointLocation", self.ckpt)
                      .trigger(processingTime=f"{TRIGGER_S} seconds").start())
        self.query.processAllAvailable()

    def _put(self, i: int) -> None:
        name = f"f-{i:06d}.json"
        tmp = os.path.join(self.stage_dir, name)
        with open(tmp, "wb") as f:
            f.write(self.inp.plan.files[i])
        os.rename(tmp, os.path.join(self.live_dir, name))

    def publish(self, t0: float) -> None:
        """Open loop: file i is due at t0 + i / rate."""
        for i in range(self.inp.n_live):
            due = t0 + i / self.w.live_rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self._put(self.first_live + i)
            self.due.append(due)
            self.published.append(time.time())

    def drain(self) -> None:
        self.query.processAllAvailable()
        self.query.stop()

    def batches(self) -> list[dict]:
        """Progress of every micro-batch that read input."""
        out = []
        for p in self.query.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            if d.get("numInputRows", 0) > 0:
                out.append(d)
        return out

    def file_batches(self) -> dict[str, int]:
        """Wire file name -> id of the micro-batch that read it, from the
        file source's own log in the checkpoint."""
        out: dict[str, int] = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        rec = json.loads(line)
                        out[os.path.basename(rec["path"])] = rec["batchId"]
        return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _dir_bytes(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return n


# ------------------------------------------------------------ clients


class DashboardClient:
    """Closed loop: the four dashboard reads, in a seeded rotation."""

    def __init__(self, spark, ingest: Ingest, seed: int) -> None:
        self.spark, self.ing = spark, ingest
        plan = ingest.inp.plan
        backlog = ingest.w.backlog_files
        last_day = datetime.fromtimestamp(max(plan.max_ts[:backlog]), timezone.utc).date()
        self.day_key = int(last_day.strftime("%Y%m%d"))
        self.since = (np.datetime64(last_day) - np.timedelta64(6, "D")).astype(object)
        rng = np.random.default_rng([seed, 4])
        ranked = Counter()
        for c in plan.campaign_counts[:backlog]:
            ranked.update(c)
        self.campaigns = [c for c, _ in ranked.most_common(8)]
        self.rng = rng
        kinds = ("level_totals", "last7_rollup", "day_count", "campaign_recent")
        self.order = [kinds[i] for i in rng.permutation(len(kinds))]

    def op(self, kind: str):
        spark, ing = self.spark, self.ing
        if kind == "level_totals":
            return layout.read_rollup(spark, ing.rollup_dir).groupBy("level").agg(
                F.sum("total").alias("total")).collect()
        if kind == "last7_rollup":
            return layout.read_rollup(spark, ing.rollup_dir).where(
                F.col("day") >= F.lit(self.since)).collect()
        if kind == "day_count":
            return (layout.read_day_partitioned(spark, ing.fact_dir)
                    .where(F.col("event_date") == self.day_key).count())
        cid = self.campaigns[int(self.rng.integers(len(self.campaigns)))]
        return (layout.read_day_partitioned(spark, ing.fact_dir)
                .where(F.get_json_object("message", "$.campaign_id") == cid)
                .orderBy(F.col("event_ts").desc()).limit(20).collect())

    def layer(self, kind: str) -> str:
        return "plans.layout.read_rollup" if kind in ("level_totals", "last7_rollup") \
            else "plans.layout.fact_read"


class SuiteClient:
    """Closed loop: the workload's query list in a seeded order, whole
    passes only. Each result is hashed after its timing ends and
    compared with the DuckDB oracle's digest."""

    def __init__(self, spark, w: Workload, inp: Inputs, seed: int, digests: dict) -> None:
        from kafka_clickhouse_implementation_spark import registry

        self.spark, self.sf_dir, self.digests = spark, inp.sf_dir, digests
        allq = registry.all_queries()
        self.fns = {q: allq[q] for q in w.queries}
        rng = np.random.default_rng([seed, 5])
        self.order = [w.queries[i] for i in rng.permutation(len(w.queries))]

    def layer(self, kind: str) -> str:
        return self.fns[kind].__module__.split(".", 1)[1]


def oracle_digests(sf_dir: str, names, cache_path: str) -> dict[str, str]:
    """DuckDB oracle digest per query that has an oracle. Digests are
    cached in ``cache_path`` under a key of the oracle SQL, the table
    bytes and the hashing code, so a change to any of them recomputes."""
    import duckdb

    import check_oracle
    from kafka_clickhouse_implementation_spark import registry
    from kafka_clickhouse_implementation_spark.io import TABLES

    base = hashlib.sha256()
    for path in [check_oracle.__file__] + [f"{sf_dir}/{t}.parquet" for t in TABLES]:
        with open(path, "rb") as f:
            base.update(f.read())
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    oracles = registry.all_oracles()
    out, con = {}, None
    for n in names:
        if n not in oracles:
            continue
        key = hashlib.sha256(base.digest() + oracles[n].encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            rel = con.sql(oracles[n])
            cache[key] = check_oracle.table_hash(rel.columns, rel.fetchall())
        out[n] = cache[key]
    if con is not None:
        con.close()
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return out


# ------------------------------------------------------------ phases


def catch_up(spark, inp: Inputs, ingest: Ingest, run: Run) -> float:
    """Drain the pre-written backlog, chunk by chunk, into the rollup
    (the package's Trigger.AvailableNow MV) and the day-partitioned fact
    table, merging the rollup partials after each chunk. Returns the
    median CPU time of the chunks after the first WARM_CHUNKS."""
    tr = run.tracer
    times, cpus, batches = [], [], 0
    for k in range(CHUNKS):
        src = os.path.join(inp.backlog_dir, f"c{k}")
        ckpt = os.path.join(os.path.dirname(ingest.ckpt), f"ckpt_catchup{k}")
        t0, c0 = time.perf_counter(), cpu_s(spark)
        with tr.span("streaming.pipeline.run_mv_pipeline"):
            pipeline.run_mv_pipeline(spark, src, ingest.rollup_dir, ckpt)
        with tr.span("plans.layout.write_day_partitioned"):
            backlog = pipeline.decoded_events(spark.read.schema(QUEUE_WIRE_SCHEMA).json(src))
            layout.write_day_partitioned(backlog, ingest.fact_dir, ts_col="event_ts",
                                         sort_keys=("level",),
                                         mode="overwrite" if k == 0 else "append")
        with tr.span("plans.layout.compact_rollup"):
            # folds the chunk's batch-* partials, so the next chunk's
            # batch ids start from an empty namespace
            layout.compact_rollup(spark, ingest.rollup_dir)
        times.append(time.perf_counter() - t0)
        cpus.append(cpu_s(spark) - c0)
        batches += len(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))
    run.attrs["catchup_chunk_s"] = times
    run.attrs["catchup_chunk_cpu_s"] = cpus
    run.attrs["bulk_wall_s"] = median(times[WARM_CHUNKS:])
    run.layer["streaming.pipeline.catchup_batches"] = batches
    timed = times[WARM_CHUNKS:]
    run.layer["streaming.pipeline.catchup_events_per_s"] = (
        ingest.w.backlog_files * ingest.w.events_per_file * len(timed) / CHUNKS / sum(timed))
    return median(cpus[WARM_CHUNKS:])


def _product_builders() -> dict:
    """One persisted result product per family: the DSIR feature table,
    the unigram-LM tokenizer (read back by ``q_unigram_tokenizer_export``),
    the clipped corpus sample and the shard pipeline's BPE tokenizer (read
    back by ``q_tokenizer_export``)."""
    from kafka_clickhouse_implementation_spark.operators.dsir import features_product
    from kafka_clickhouse_implementation_spark.operators.unigram_lm import (
        write_unigram_tokenizer,
    )
    from kafka_clickhouse_implementation_spark.pipelines.corpus import clipped_corpus
    from kafka_clickhouse_implementation_spark.pipelines.shards import write_tokenizer

    return {
        "operators.dsir": features_product,
        "operators.unigram_lm": write_unigram_tokenizer,
        "pipelines.corpus": lambda spark, sf_dir: clipped_corpus(spark, sf_dir, mod=10),
        "pipelines.shards": write_tokenizer,
    }


def _products_left(sf_dir: str) -> list[str]:
    """Result-product dirs on disk built from ``sf_dir``'s tables."""
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "spark_graft_cache", "result_products")
    prefix = os.path.basename(sf_dir) + "_"
    return [n for n in (os.listdir(root) if os.path.isdir(root) else [])
            if n.startswith(prefix)]


def rebuild_products(spark, w: Workload, inp: Inputs, run: Run) -> float:
    """Build each product family from the tables in the fresh session,
    as a restarted pipeline would after a purge; returns the CPU time of
    the whole rebuild.
    The run's scratch dir is new, so no product exists yet."""
    builders = _product_builders()
    left = _products_left(inp.sf_dir)
    run.outcome(not left, f"products present before the rebuild: {left}")
    total, c0 = 0.0, cpu_s(spark)
    for fam in w.products:
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"{fam}.products"):
                builders[fam](spark, inp.sf_dir)
        except Exception:
            _report_exc(run, f"product {fam}")
            continue
        dt = time.perf_counter() - t0
        run.outcome(True, f"product {fam}")
        run.layer[f"{fam}.products_s"] = dt
        total += dt
    run.attrs["bulk_wall_s"] = total
    return cpu_s(spark) - c0


def check_purge(inp: Inputs, run: Run) -> None:
    """Purge the products the run built (the bulk phase's and those the
    suite built on first touch) and check on disk, not by the purge's
    return list, that none is left."""
    from kafka_clickhouse_implementation_spark.cachedirs import purge_result_products

    built = _products_left(inp.sf_dir)
    purge_result_products(inp.sf_dir)
    left = _products_left(inp.sf_dir)
    run.outcome(bool(built) and not left, f"products left after purge: {left}")


def dashboard_passes(spark, client: DashboardClient, run: Run, n: int) -> list[float]:
    """``n`` whole passes of the dashboard reads before the ingest
    starts, so nothing else runs; returns the CPU time of each pass (its wall time
    goes to ``run.attrs["dashboard_pass_s"]``). The suite has no such
    passes: its measured pass is its first in the session, first-touch
    costs included, as a batch job runs after the product rebuild."""
    out = []
    for _ in range(n):
        c0, t0 = cpu_s(spark), time.perf_counter()
        for kind in client.order:
            try:
                _with_retry(lambda: client.op(kind), run)
            except Exception:
                _report_exc(run, f"dashboard pass {kind}")
                continue
            run.outcome(True, f"dashboard pass {kind}")
        out.append(cpu_s(spark) - c0)
        run.attrs.setdefault("dashboard_pass_s", []).append(time.perf_counter() - t0)
    return out


def window(spark, client, ingest: Ingest, run: Run, seconds: int) -> dict[str, list[float]]:
    """The measured window: an open-loop publisher feeding the started
    ingest query, and the closed-loop client, together or one after the
    other (``Workload.overlap``)."""
    tr = run.tracer
    w = ingest.w
    store = StatusStore(spark, tr) if tr.enabled else None
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "client")
    excl = {str(ingest.query.runId)}
    if store:
        store.harvest(excl)  # skip jobs of the bulk phase and setup
    t0 = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + 0.5 / w.live_rate
    pub = threading.Thread(target=ingest.publish, args=(t0,), daemon=True)
    pub.start()
    deadline = t0 + seconds
    if w.overlap:
        # the client reads over the publishing schedule only, so every run
        # sees the same micro-batches beside its reads
        time.sleep(max(0.0, t0 - time.time()))
    else:
        pub.join()
        ingest.drain()
        deadline = 0.0  # one whole pass
    sc.setJobGroup(CLIENT_TAG, "perfbench client")
    c0 = cpu_s(spark)
    lat = client_loop(spark, client, run, deadline, store, excl)
    if not w.overlap:
        # the suite pass runs alone, so the process CPU is its own
        run.attrs["pass_cpu_s"] = [cpu_s(spark) - c0]
    sc.setJobGroup("perfbench-drain", "")
    if w.overlap:
        pub.join()
        ingest.drain()
    return lat


def client_loop(spark, client, run: Run, deadline: float, store, excl) -> dict[str, list[float]]:
    """Closed loop until ``deadline``; a suite client runs whole passes,
    at least one. A pass is one call of each kind in ``client.order``;
    the summed latency of every complete pass goes to
    ``run.attrs["pass_s"]``."""
    tr = run.tracer
    suite = isinstance(client, SuiteClient)
    lat: dict[str, list[float]] = {}
    layer_samples = run.attrs.setdefault("layer_samples", {})
    passes = run.attrs.setdefault("pass_s", [])
    sched = itertools.cycle(client.order)
    n_done = 0
    in_pass: float | None = 0.0  # None once an op of this pass failed
    while True:
        if n_done and n_done % len(client.order) == 0:
            if in_pass is not None:
                passes.append(in_pass)
            in_pass = 0.0
        if time.time() >= deadline and (
                not suite or (n_done > 0 and n_done % len(client.order) == 0)):
            break
        kind = next(sched)
        layer = client.layer(kind)
        n_done += 1
        s = layer_samples.setdefault(kind, {})
        a = time.perf_counter()
        try:
            with tr.span(layer, op=kind):
                if suite:
                    with tr.span(layer + ".build"):
                        df = client.fns[kind](spark, client.sf_dir)
                    b = time.perf_counter()
                    if tr.enabled:
                        with tr.span(layer + ".plan"):
                            df._jdf.queryExecution().executedPlan()
                    c = time.perf_counter()
                    with tr.span(layer + ".collect"):
                        cols, rows = df.columns, [tuple(r) for r in df.collect()]
                else:
                    _with_retry(lambda: client.op(kind), run)
            dt = time.perf_counter() - a
        except Exception:
            _report_exc(run, f"client op {kind}")
            in_pass = None
            continue
        lat.setdefault(kind, []).append(dt)
        if in_pass is not None:
            in_pass += dt
        if suite:
            run.outcome(digest_ok(kind, cols, rows, client.digests), f"{kind} result digest")
        else:
            run.outcome(True, kind)
        if store:
            if suite:
                s.setdefault("build_s", []).append(b - a)
                s.setdefault("plan_s", []).append(c - b)
            for k, v in store.harvest(excl).items():
                s.setdefault(k, []).append(v)
    return lat


def _with_retry(fn, run: Run):
    """A dashboard read that lands in compact_rollup's directory swap
    sees a missing path; a dashboard retries such a read once."""
    try:
        return fn()
    except Exception:
        run.attrs["read_retries"] += 1
        return fn()


def digest_ok(name: str, cols, rows, digests: dict) -> bool:
    """A result matches its oracle digest, or the query has no oracle."""
    from check_oracle import table_hash

    want = digests.get(name)
    return want is None or table_hash(list(cols), rows) == want


def check_ingest(spark, inp: Inputs, ingest: Ingest, run: Run) -> None:
    """Final rollup equals the generator's (day, level) ground truth and
    the fact table holds every event published."""
    n_files = ingest.first_live + len(ingest.published)
    want = {(d, lv): n for (d, lv), n in inp.plan.truth(n_files).items()}
    got = {(r["day"].isoformat(), r["level"]): r["total"]
           for r in layout.read_rollup(spark, ingest.rollup_dir).collect()}
    run.outcome(got == want, "rollup != ground truth")
    n_fact = layout.read_day_partitioned(spark, ingest.fact_dir).count()
    run.outcome(n_fact == n_files * ingest.w.events_per_file, "fact rows != events published")
    run.outcome(ingest.batch_errors == 0, "ingest batch errors")


def freshness_samples(due: list[float], batch_of: list[int | None],
                      commit: dict[int, float]) -> tuple[list[float], int]:
    """Open-loop latency per file: commit time of the micro-batch that
    read it minus the time the file was *due*, not when it was actually
    published, so a publisher stall counts against the files it delayed.
    Returns the samples and the number of files never committed."""
    out, missing = [], 0
    for d, bid in zip(due, batch_of):
        if bid is None or bid not in commit:
            missing += 1
        else:
            out.append(commit[bid] - d)
    return out, missing


def freshness(ingest: Ingest, run: Run) -> list[float]:
    batches = ingest.batches()
    commit = {b["batchId"]: _epoch(b["timestamp"]) + b["durationMs"]["triggerExecution"] / 1e3
              for b in batches}
    fb = ingest.file_batches()
    batch_of = [fb.get(f"f-{ingest.first_live + i:06d}.json") for i in range(len(ingest.due))]
    out, missing = freshness_samples(ingest.due, batch_of, commit)
    run.outcome(missing == 0, f"{missing} live files never committed")
    run.attempted += len(batches)
    # per-layer: streaming progress and the source's backlog
    dur = lambda k: [b["durationMs"].get(k, 0) for b in batches]  # noqa: E731
    run.layer.update({
        "streaming.pipeline.batches": len(batches),
        "streaming.pipeline.rows_per_batch_p50": median([b["numInputRows"] for b in batches]),
        "streaming.pipeline.trigger_ms_p50": median(dur("triggerExecution")),
        "streaming.pipeline.add_batch_ms_p50": median(dur("addBatch")),
        "streaming.pipeline.planning_ms_p50": median(dur("queryPlanning")),
        "streaming.pipeline.commit_ms_p50": median(
            [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]),
        "sources.streams.latest_offset_ms_p50": median(dur("latestOffset")),
    })
    read_by = Counter(batch_of)
    backlog = []
    for b in batches:
        start = _epoch(b["timestamp"])
        seen = sum(1 for t in ingest.published if t <= start)
        done = sum(n for bid, n in read_by.items() if bid is not None and bid < b["batchId"])
        backlog.append(seen - done)
    run.layer["sources.streams.backlog_files_max"] = max(backlog, default=0)
    run.layer["generator.lateness_ms_max"] = 1e3 * max(
        (p - d for p, d in zip(ingest.published, ingest.due)), default=0.0)
    return out
