"""Run-to-run spread of the benchmark: runs one workload on several seeds,
one after another, and prints each metric's median and quartile distance
over median (``statistics.quantiles(n=4)``), the figure each metric's
``bound`` in BENCHMARK.json is checked against.

Usage (from the repository root):

    python3 perfbench/spread.py stream_incremental 1,2,3,4,5
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from quality import iqr_share  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", help="comma-separated seeds")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    rows = []
    for seed in [int(s) for s in args.seeds.split(",")]:
        t0 = time.time()
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if not lines or not lines[-1].startswith("{"):
            print(f"seed {seed}: exit {p.returncode}, no result\n{p.stderr[-2000:]}")
            return 1
        row = json.loads(lines[-1])
        row.update(seed=seed, exit=p.returncode, elapsed_s=time.time() - t0)
        row["notes"] = [l for l in lines if l.startswith(("host:", "rss:", "CHECK"))]
        rows.append(row)
        values = {k: round(v["value"], 4) for k, v in row["metrics"].items()}
        print(f"seed {seed}: exit {p.returncode} in {row['elapsed_s']:.1f} s {values}", flush=True)
        for note in row["notes"]:
            print(f"  {note}", flush=True)

    if len(rows) < 2:
        return 0
    for name in rows[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in rows]
        bound = bounds.get(name)
        share = iqr_share(values)
        flag = "" if bound is None else f"  bound {bound}  {'ok' if share < bound / 3 else 'WIDE'}"
        print(f"{name:28s} median {statistics.median(values):12.4f}  iqr/median {share:.4f}{flag}")
    print(f"invocation median {statistics.median(r['elapsed_s'] for r in rows):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
