"""Benchmark entry point.

    python3 perfbench/run.py --workload campaign_live --seed 1 --seconds 6 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, runs it against the package in this checkout, checks the outputs
and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans are written under ``.perfbench_work/``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_clickhouse_implementation_spark"
SETUPS = 4  # set-ups per run: one cold, then warm re-creations whose median is reported
DEADLINE_S = 170  # hard stop, so a stuck run cannot hang its caller

E2E_UNITS = {
    "setup_s": "s", "bulk_cpu_s": "s", "freshness_p50_s": "s",
    "freshness_tail_s": "s", "suite_cpu_s": "s",
}
MODULES = (
    "operators.tier_a", "operators.tpch", "operators.relational",
    "operators.unigram_lm", "operators.minhash_portable", "operators.corpus_ext",
    "operators.clustering", "operators.retrieval", "operators.bpe",
    "pipelines.corpus", "pipelines.shards", "streaming.vector_stream",
)
PRODUCTS = ("operators.dsir", "operators.unigram_lm", "pipelines.corpus", "pipelines.shards")
# spill is left out: nothing spills on tables this small, and the
# per-layer list may hold at most 128 names
MODULE_METRICS = {
    "build_s": "s", "plan_s": "s", "jobs": "count", "tasks": "count",
    "exec_s": "s", "executor_cpu_s": "s", "shuffle_bytes": "bytes",
}
LAYER_UNITS = {
    "sources.streams.backlog_files_max": "count",
    "sources.streams.latest_offset_ms_p50": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.rows_per_batch_p50": "count",
    "streaming.pipeline.trigger_ms_p50": "ms",
    "streaming.pipeline.add_batch_ms_p50": "ms",
    "streaming.pipeline.planning_ms_p50": "ms",
    "streaming.pipeline.commit_ms_p50": "ms",
    "streaming.pipeline.catchup_batches": "count",
    "streaming.pipeline.catchup_events_per_s": "1/s",
    "plans.layout.write_rollup_batch_ms_p50": "ms",
    "plans.layout.write_day_partitioned_ms_p50": "ms",
    "plans.layout.files_written_per_batch": "count",
    "plans.layout.compact_rollup_ms_p50": "ms",
    "plans.layout.compact_bytes_rewritten": "bytes",
    "plans.layout.read_rollup_ms_p50": "ms",
    "plans.layout.fact_read_ms_p50": "ms",
    "plans.layout.rollup_files_end": "count",
    "plans.layout.fact_files_end": "count",
    "plans.layout.tasks_per_read": "count",
    "session.cold_setup_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "generator.lateness_ms_max": "ms",
    **{f"{m}.{k}": u for m in MODULES for k, u in MODULE_METRICS.items()},
    **{f"{p}.products_s": "s" for p in PRODUCTS},
    "trace.overhead_s": "s",
    # the traced run's own end-to-end figures
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
}


def cpu_probe() -> float:
    """Fixed CPU-bound work timed on this process (min of 3): a run
    whose probes read high ran on a loaded host."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    the share of time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def configure(work: str) -> None:
    """Point every scratch location of Spark and the package into the
    run's work dir before the JVM starts."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    import tempfile

    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # ingest and the client run in separate fair-share pools, so a
        # wide client job cannot hold every task slot while a
        # micro-batch waits (the multi-tenant setting a shared engine uses)
        "spark.scheduler.mode": "FAIR",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 JIT only: with C2 the driver's compile threads took 1-2 CPU
        # seconds per catch-up chunk on 4 CPUs and chunk times kept
        # falling for 8+ chunks; with C1 they are flat from the third.
        # A fixed compiler thread count keeps workloads.cpu_split exact;
        # no perf data file, which the JVM would write to /tmp.
        "spark.driver.extraJavaOptions": " ".join([
            "-XX:TieredStopAtLevel=1", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args) -> dict:
    from perfbench import stats, workloads as W
    from perfbench.trace import Tracer
    from kafka_clickhouse_implementation_spark.session import get_spark

    w = W.WORKLOADS[args.workload]
    run_id = f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    records = os.path.join(ROOT, ".perfbench_work", "records")
    os.makedirs(records, exist_ok=True)
    configure(work)
    wall0 = time.perf_counter()
    r = W.Run(Tracer(bool(args.trace), run_id))
    r.attrs["cpu_probe_start_s"] = cpu_probe()
    steal0, ticks0 = cpu_ticks()
    r.attrs["read_retries"] = 0

    setup, get_s, warm_s = [], [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        with r.tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with r.tracer.span("session.warmup"):
            inp = W.make_inputs(w, args.seed, args.seconds, os.path.join(work, "in"))
            W.warm_up(spark)
        t2 = time.perf_counter()
        setup.append(t2 - t0)
        get_s.append(t1 - t0)
        warm_s.append(t2 - t1)
        if i < SETUPS - 1:
            spark.stop()
    r.attrs["setup_each_s"] = setup
    r.attrs["get_spark_each_s"] = get_s
    phase = {"setup": time.perf_counter() - wall0}
    r.layer["session.cold_setup_s"] = setup[0]
    r.layer["session.get_spark_s"] = stats.median(get_s[1:])
    r.layer["session.warmup_s"] = stats.median(warm_s[1:])

    digests = W.oracle_digests(inp.sf_dir, w.queries, os.path.join(
        ROOT, ".perfbench_work", "oracle_digests.json")) if w.queries else {}
    ingest = W.Ingest(spark, w, inp, os.path.join(work, "out"), r)
    if w.backlog_files:
        bulk = W.catch_up(spark, inp, ingest, r)
        client = W.DashboardClient(spark, ingest, args.seed)
        W.dashboard_passes(spark, client, r, W.WARM_PASSES)
        r.attrs["pass_cpu_s"] = W.dashboard_passes(spark, client, r, W.TIMED_PASSES)
    else:
        bulk = W.rebuild_products(spark, w, inp, r)
        client = W.SuiteClient(spark, w, inp, args.seed, digests)
    # the query's thread inherits the caller's scheduler pool
    with ThreadPoolExecutor(1) as pool:
        pool.submit(ingest.start).result()
    phase["bulk"] = time.perf_counter() - wall0
    lat = W.window(spark, client, ingest, r, args.seconds)
    phase["window"] = time.perf_counter() - wall0
    fresh = W.freshness(ingest, r)
    W.check_ingest(spark, inp, ingest, r)
    if w.products:
        W.check_purge(inp, r)
    phase["checks"] = time.perf_counter() - wall0
    r.attrs["phase_end_s"] = phase

    per_kind = {k: stats.median(v) for k, v in lat.items()}
    all_lat = [x for v in lat.values() for x in v]
    p_tail, fresh_tail = stats.tail(fresh)
    r.e2e = {
        # the first set-up launches the JVM and gateway; setup_s is the
        # median warm session re-creation on the running gateway
        "setup_s": stats.median(setup[1:]),
        # work CPU time, not wall time: the host's CPUs are shared, and
        # the wall time of a closed phase moves with the CPU time the
        # hypervisor gives to other machines (see README)
        "bulk_cpu_s": bulk,
        "freshness_p50_s": stats.median(fresh),
        "freshness_tail_s": fresh_tail,
        "suite_cpu_s": stats.median(r.attrs["pass_cpu_s"]),
    }
    r.layer["session.peak_rss_mb"] = peak_rss_mb(spark)
    r.attrs.update({
        "freshness_tail_percentile": p_tail,
        "freshness_samples": len(fresh),
        "client_samples": len(all_lat),
        "client_p50_s": stats.median(all_lat),
        "per_kind_median_s": per_kind,
        "suite_geomean_s": stats.geomean(list(per_kind.values())),
    })
    tp = stats.tail_percentile(len(all_lat))
    if tp is not None:
        r.attrs[f"client_p{tp:g}_s"] = stats.percentile(all_lat, tp)
    if r.tracer.enabled:
        layer_metrics(r, ingest, client, w)
    r.attrs["jvm_service_cpu_s"] = W.cpu_split(spark)[1]
    stop_spark(spark)
    steal1, ticks1 = cpu_ticks()
    r.attrs["cpu_steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
    r.attrs["cpu_probe_end_s"] = cpu_probe()
    r.attrs["wall_s"] = time.perf_counter() - wall0
    if r.tracer.enabled:
        r.layer["trace.overhead_s"] = r.tracer.overhead_s
        r.attrs["trace_overhead_frac"] = r.tracer.overhead_s / r.attrs["wall_s"]
        # the traced run's own end-to-end figures: minus an untraced run's
        # of the same seed, they give the tracing overhead
        r.layer.update({f"traced.{k}": v for k, v in r.e2e.items()})
        r.attrs["self_s"] = r.tracer.self_times()
        r.tracer.dump(os.path.join(records, run_id + ".trace.json"),
                      {"e2e": r.e2e, "layer": r.layer})
    record = {"run": run_id, "workload": w.name, "seed": args.seed,
              "seconds": args.seconds, "e2e": r.e2e, "layer": r.layer,
              "attrs": {k: v for k, v in r.attrs.items() if k != "layer_samples"},
              "failures": r.notes}
    with open(os.path.join(records, run_id + ".json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = {k: {"value": float(r.layer.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(r.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps(record["attrs"], default=str))
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed, "metrics": metrics}


def layer_metrics(r, ingest, client, w) -> None:
    from perfbench import stats

    tr = r.tracer

    def ms_p50(name: str, nested: bool) -> float:
        d = [1e3 * (s["end"] - s["start"]) for s in tr.spans
             if s["name"] == name and (s["parent"] is not None) == nested]
        return stats.median(d)

    samples = r.attrs["layer_samples"]
    r.layer.update({
        "plans.layout.write_rollup_batch_ms_p50": ms_p50("plans.layout.write_rollup_batch", True),
        "plans.layout.write_day_partitioned_ms_p50": ms_p50("plans.layout.write_day_partitioned", True),
        "plans.layout.compact_rollup_ms_p50": ms_p50("plans.layout.compact_rollup", True),
        "plans.layout.files_written_per_batch": stats.median(ingest.files_written),
        "plans.layout.compact_bytes_rewritten": sum(ingest.compact_bytes),
        "plans.layout.read_rollup_ms_p50": ms_p50("plans.layout.read_rollup", False),
        "plans.layout.fact_read_ms_p50": ms_p50("plans.layout.fact_read", False),
        "plans.layout.rollup_files_end": _files(ingest.rollup_dir),
        "plans.layout.fact_files_end": _files(ingest.fact_dir),
    })
    if not w.queries:
        r.layer["plans.layout.tasks_per_read"] = stats.median(
            [t for s in samples.values() for t in s.get("tasks", [])])
        return
    # per module: sum over its queries of the per-query median
    for q in w.queries:
        mod = client.layer(q)
        for k in MODULE_METRICS:
            key = f"{mod}.{k}"
            r.layer[key] = r.layer.get(key, 0.0) + stats.median(samples.get(q, {}).get(k, []))


def _files(path: str) -> int:
    from perfbench.workloads import _count_files

    return _count_files(path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S, lambda: (
        print("perfbench: deadline exceeded", file=sys.stderr), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()
    result = run(args)
    watchdog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
