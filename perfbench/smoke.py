"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke.py

Checks that the generator is deterministic, that every workload runs
with no failed operation and prints exactly the metrics BENCHMARK.json
names (untraced and traced), and that the benchmark exits non-zero
without a result when the library is missing.  Takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", "smoke")
SEED = 3


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            with open(os.path.join(base, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _check_generator() -> None:
    sys.path.insert(0, HERE)
    import gen

    for workload in ("conn_scan", "rotated_gz"):
        a = gen.generate(workload, SEED, "tiny", os.path.join(WORK, "a"))
        b = gen.generate(workload, SEED, "tiny", os.path.join(WORK, "b"))
        c = gen.generate(workload, SEED + 1, "tiny", os.path.join(WORK, "b"))
        assert _digest(a) == _digest(b), f"{workload}: same seed, different inputs"
        assert _digest(a) != _digest(c), f"{workload}: the seed changes nothing"


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def _check_run(workload: str, trace: int, bench: dict) -> None:
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, f"{workload} --trace {trace}: exit {out.returncode}\n{out.stderr[-3000:]}"
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0, f"{workload}: {res}\n{out.stderr[-3000:]}"
    assert res["attempted"] >= 40, res["attempted"]
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload} --trace {trace}: metrics {sorted(got)} != {sorted(want)}"
    for name, v in res["metrics"].items():
        assert math.isfinite(v["value"]), (name, v)
        assert trace or v["value"] > 0, (name, v)
    print(f"ok: {workload} --trace {trace}, {res['attempted']} operations", flush=True)


def _check_bare_dir() -> None:
    """Without the library the benchmark must fail fast, with no result."""
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = _run(bare, "conn_scan", 0)
    assert out.returncode != 0, "ran without the library"
    assert '"metrics"' not in out.stdout, out.stdout
    print("ok: fails without the library", flush=True)


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    _check_generator()
    print("ok: generator is deterministic", flush=True)
    _check_bare_dir()
    for w in bench["workloads"]:
        _check_run(w["name"], 0, bench)
    _check_run(bench["workloads"][0]["name"], 1, bench)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
