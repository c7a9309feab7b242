"""Self-tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import gen, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def test_same_seed_same_inputs_other_seed_differs():
    a = gen.campaign_events(7, 12, 30)
    b = gen.campaign_events(7, 12, 30)
    c = gen.campaign_events(8, 12, 30)
    assert a.files == b.files and a.truth(12) == b.truth(12)
    assert a.files != c.files and a.truth(12) != c.truth(12)


def test_ground_truth_counts_every_event():
    plan = gen.campaign_events(3, 10, 25)
    assert sum(plan.truth(10).values()) == 250
    assert sum(plan.truth(4).values()) == 100
    # the live files after the history carry one following day
    # (late events reach up to two days further back)
    plan = gen.campaign_events(3, 10, 25, history_files=6)
    hist = {d for d, _ in plan.truth(6)}
    live = {d for f in plan.day_level[6:] for d, _ in f}
    assert len(hist) > 3 and max(live) > max(hist) and len(live) <= 4
    levels = {lv for _, lv in plan.truth(10)}
    assert levels <= set(gen.EVENT_TYPES)


@pytest.mark.parametrize("n,p", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (250, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        beyond = n - stats.percentile(list(range(n)), p) - 1
        assert beyond >= 10


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 19)


def test_open_loop_latency_counts_from_the_scheduled_time():
    from perfbench.workloads import freshness_samples

    # files due every 0.1 s; the publisher stalled, so files 1-3 went out
    # late and all landed in batch 1, committed at t=1.0
    due = [0.0, 0.1, 0.2, 0.3]
    batch_of = [0, 1, 1, 1]
    commit = {0: 0.25, 1: 1.0}
    got, missing = freshness_samples(due, batch_of, commit)
    assert missing == 0
    assert got == pytest.approx([0.25, 0.9, 0.8, 0.7])
    # a file no committed batch read is reported, not dropped silently
    got, missing = freshness_samples(due, [0, 1, None, 2], commit)
    assert missing == 2 and len(got) == 2


def test_publisher_records_lateness_against_its_schedule(tmp_path, monkeypatch):
    import time

    from perfbench import workloads as W

    w = W.Workload("t", live_rate=50.0, events_per_file=2, backlog_files=0)
    plan = gen.campaign_events(1, W.WARM_FILES + 6, 2)
    inp = W.Inputs(plan, 6, str(tmp_path / "backlog"), None)
    ing = W.Ingest(None, w, inp, str(tmp_path), W.Run(Tracer(False, "t")))
    real_rename = os.rename

    def slow_rename(a, b):
        if b.endswith(f"f-{W.WARM_FILES + 2:06d}.json"):
            time.sleep(0.15)  # one stalled publish
        real_rename(a, b)

    monkeypatch.setattr(W.os, "rename", slow_rename)
    t0 = time.time()
    ing.publish(t0)
    assert ing.due == pytest.approx([t0 + i / 50.0 for i in range(6)])
    late = [p - d for p, d in zip(ing.published, ing.due)]
    assert max(late) >= 0.15 and late[0] < 0.05
    assert sorted(os.listdir(ing.live_dir)) == [
        f"f-{W.WARM_FILES + i:06d}.json" for i in range(6)]


def test_corrupted_result_is_a_failure():
    from check_oracle import table_hash

    from perfbench.workloads import Run, digest_ok

    cols, rows = ["day", "total"], [("2024-01-01", 3), ("2024-01-02", 5)]
    digests = {"q": table_hash(cols, rows)}
    run = Run(Tracer(False, "t"))
    run.outcome(digest_ok("q", cols, rows, digests), "q")
    run.outcome(digest_ok("q", cols, [("2024-01-01", 3), ("2024-01-02", 6)], digests), "q")
    run.outcome(digest_ok("q", cols, rows[:1], digests), "q")
    assert (run.attempted, run.failed) == (3, 2)
    # a query without an oracle cannot be judged by digest
    assert digest_ok("no_oracle", cols, rows, digests)


def test_self_time_subtracts_children():
    tr = Tracer(True, "t")
    tr.spans = [
        {"id": 1, "name": "batch", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "write", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "write", "start": 5.0, "end": 7.0, "parent": 1},
    ]
    assert tr.self_times() == pytest.approx({"batch": 5.0, "write": 5.0})


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.overhead_s == 0.0


def test_thread_cpu_ticks_parse_names_with_spaces_and_parens():
    from perfbench.workloads import JVM_SERVICE_THREADS, _ticks

    stat = "4242 (C1 CompilerThre) S 1 2 3 4 5 6 7 8 9 10 70 30 0 0"
    assert _ticks(stat) == 100  # utime + stime
    assert _ticks("7 (a) b) c) R 1 2 3 4 5 6 7 8 9 10 5 6 0") == 11
    assert "C1 CompilerThre".startswith(JVM_SERVICE_THREADS)
    assert "GC Thread#3".startswith(JVM_SERVICE_THREADS)
    assert not "Executor task l".startswith(JVM_SERVICE_THREADS)
