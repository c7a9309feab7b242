"""Run one workload over several seeds and report each metric's median
and its quartile spread (Q3 - Q1) as a share of the median.

    python3 perfbench/spread.py --workload campaign_live --seeds 1 2 3 4 5 --seconds 6

Each run is a separate ``perfbench/run.py`` process started from the
repository root; per-run results go to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    rows = []
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=200)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res.update(seed=seed, wall_s=wall)
        rows.append(res)
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                          "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    if len(rows) >= 2:
        for k in rows[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in rows]
            med = statistics.median(vals)
            print(f"{k:28s} median {med:12.4f}  spread {spread(vals) if med else 0:.3f}")
        print(f"wall_s median {statistics.median(r['wall_s'] for r in rows):.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
