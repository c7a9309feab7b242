"""bench.py's compact last line must carry every headline query within
the driver's 2000-character tail window."""

from __future__ import annotations

import json

import bench


def _head():
    return {"metric": "headline_queries_total", "value": 163.888, "unit": "sec",
            "sf": 0.1, "n_queries": len(bench.HEADLINE), "fixtures_sec": 45.866}


def test_compact_line_keeps_every_headline_query():
    # slow-query-sized times: the widest values a real run prints
    timings = {n: 10.0 + i / 7 for i, n in enumerate(bench.HEADLINE)}
    line = bench.compact_line(_head(), timings, 1999)
    out = json.loads(line)
    assert len(line) <= 1999
    assert "omitted_n" not in out and len(out["queries"]) == len(bench.HEADLINE)
    keys = bench.short_keys(bench.HEADLINE, out["key_chars"])
    assert {keys[n]: round(t, 2) for n, t in timings.items()} == out["queries"]


def test_compact_line_uses_full_names_when_they_fit():
    timings = {"q_tpch_q6": 0.5, "q_mv_daily": 1.25}
    out = json.loads(bench.compact_line(_head(), timings, 1999))
    assert out["queries"] == {"q_mv_daily": 1.25, "q_tpch_q6": 0.5}
    assert "key_chars" not in out
