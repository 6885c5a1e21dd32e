"""Steadiness report: run each workload N times, each with another seed,
and compare each end-to-end metric's quartile spread with its bound.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100
    python3 perfbench/steadiness.py --runs 5 --workloads rotated_gz

The spread is (Q3 - Q1) / median over the runs' values, the quartiles as
``statistics.quantiles(values, n=4)`` gives them.  A spread above its
metric's bound in BENCHMARK.json fails the report (setup_s is shown but
exempt); above a third of the bound it is flagged as loose.  Exits 1 if
any run fails, answers wrongly or a spread fails.
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


def _run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=900)
    wall = time.perf_counter() - t
    if out.returncode != 0:
        return {"ok": False, "wall_s": wall}
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["ok"] = res["correct"] and res["failed"] == 0
    res["wall_s"] = wall
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", help="comma-separated; default: all")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bad = False
    for workload in names:
        runs = []
        for k in range(args.runs):
            seed = args.first_seed + k
            res = _run(workload, seed, bench["run_seconds"])
            runs.append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items())
            print(f"{workload} seed {seed}: {'ok' if res['ok'] else 'FAILED'} "
                  f"in {res['wall_s']:.1f} s  {vals}", flush=True)
        bad |= not all(r["ok"] for r in runs)
        good = [r for r in runs if r["ok"]]
        if len(good) < 4:
            print(f"{workload}: too few good runs for quartiles")
            bad = True
            continue
        walls = [r["wall_s"] for r in runs]
        print(f"{workload}: {len(good)}/{len(runs)} good runs, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        print(f"  {'metric':<16} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>8} {'bound':>6}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in good]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            if spread > m["bound"] and m["name"] != "setup_s":
                flag, bad = "FAIL", True
            else:
                flag = "loose" if spread > m["bound"] / 3 else "ok"
            print(f"  {m['name']:<16} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.3f} {m['bound']:6.2f} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
