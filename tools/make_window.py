#!/usr/bin/env python
"""Derive the driver correctness window from CORRECTNESS_r*.json history.

The driver records rows for the FIRST 50 registered queries each round
(`registry._WINDOW_50`). Hand-curating that list drifted once (the r6
ROUNDLOG overclaim the round-7 verdict called out), so this tool is now
the single way the window is produced: it ranks every query by how
badly it needs a fresh driver row and emits the next 50.

Priority (highest first):
  1. --changed names — queries whose code or oracle changed this round
     (changed queries always re-earn a fresh row), plus brand-new ones.
  2. Queries with NO green driver row in any round (never checked).
  3. Everything else, oldest latest-green round first (oracle-backed
     before rows-only at the same age — a hash row is the harder
     signal), name as the final tie-break.

Usage:
  python tools/make_window.py --changed q_a q_b      # propose next window
  python tools/make_window.py --check                # verify _WINDOW_50
                                                     # matches history
                                                     # (no --changed: only
                                                     # sanity, not equality)

The proposed list is pasted into registry._WINDOW_50 and
tests/test_registry_window.py together; --check recomputes staleness so
a stale-claim in ROUNDLOG can be machine-verified.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from kafka_clickhouse_implementation_spark.registry import (  # noqa: E402
    _WINDOW_50,
    all_oracles,
    all_queries,
)

# rows older than this round count as stale (advance as rounds accrue)
STALE_HORIZON = 4


def load_history(repo_root: str) -> dict[str, int]:
    """Latest round with a green driver row per query (hash green for
    oracle-backed rows, rows-green otherwise)."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for q, v in data.items():
            if not isinstance(v, dict):
                continue
            green = v.get("hash_match") is True or (
                # rows-only rows: no oracle, a row count was recorded
                v.get("err") == "no_oracle"
                and (v.get("spark_rows") or 0) >= 0
                and v.get("spark_rows") is not None
            )
            if green:
                latest[q] = max(latest.get(q, 0), rnd)
    return latest


def propose(changed: list[str], size: int = 50) -> list[str]:
    repo_root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    latest = load_history(repo_root)
    oracles = all_oracles()
    qs = list(all_queries())
    unknown = [c for c in changed if c not in qs]
    if unknown:
        raise SystemExit(f"--changed names not in registry: {unknown}")

    def rank(q: str) -> tuple:
        # Tiers, highest priority first. Hash rows are the hard
        # signal, so every oracle-backed need (changed, never-checked,
        # stale) outranks rows-only queries; rows-only NEW queries
        # still beat refreshing rows inside the staleness horizon
        # (their window slot records vanilla-session execution, the
        # only driver evidence a rows-only query can earn).
        oracle = q in oracles
        last = latest.get(q, 0)
        if oracle and q in changed:
            return (0, changed.index(q), "")
        if oracle and last == 0:
            return (1, 0, q)  # never driver-checked
        if oracle and last < STALE_HORIZON:
            return (2, last, q)  # stale hash row
        if q in changed:
            return (3, changed.index(q), "")  # new rows-only
        if oracle:
            return (4, last, q)  # refresh oldest fresh-enough rows
        return (5, last, q)  # rows-only backlog

    ordered = sorted((q for q in qs), key=rank)
    return ordered[:size]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changed", nargs="*", default=[])
    ap.add_argument("--size", type=int, default=50)
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    repo_root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    latest = load_history(repo_root)

    if args.check:
        qs = list(all_queries())
        oracles = all_oracles()
        never = [q for q in qs if q not in latest and q not in _WINDOW_50]
        stale = sorted(
            (q for q in qs if q in oracles and 0 < latest.get(q, 0) < STALE_HORIZON),
            key=lambda q: latest[q],
        )
        print(f"queries: {len(qs)}  with-green-row: {len(latest)}")
        print(f"never-checked and NOT in current window: {never or 'none'}")
        print(f"oracle-backed with latest green row < r4: {stale or 'none'}")
        print(f"stale rows NOT already queued in the window: "
              f"{[q for q in stale if q not in _WINDOW_50] or 'none'}")
        # blocking: an oracle-backed query the driver has never hashed
        # and that the current window does not queue (rows-only queries
        # carry their evidence in pytest, not driver rows)
        uncovered = [q for q in never if q in oracles]
        sys.exit(1 if uncovered else 0)

    window = propose(args.changed, args.size)
    print(f"# derived by tools/make_window.py --changed {' '.join(args.changed)}")
    print("_WINDOW_50 = [")
    for q in window:
        tag = "changed/new" if q in args.changed else f"last green r{latest.get(q, 0) or '-never-'}"
        print(f'    "{q}",  # {tag}')
    print("]")


if __name__ == "__main__":
    main()
