"""Zeek-scan benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload conn_scan --seed 7 --seconds 20 --trace 0

Drives the public API of ``zeek_duckdb_spark`` in a closed loop with one
client: each operation is one ``read_zeek`` / ``format("zeek")`` call
plus one action, checked against the answers the input generator
recorded.  Human-readable lines go to stdout first; the last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MIN_OPS = 40       # timed operations per run, at least
MAX_TIMED_S = 100  # ...unless the build is so slow that the run would
                   # not end within its time limit
MAX_CACHED = 6     # generated input sets kept per workload and size

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_p75_s": "s",
    "scan_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_per_s", "rows/s"), ("_s", "s"), ("_mb", "MB"),
                         ("bytes", "bytes"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def _configure_env(scratch: str, event_dir: str | None) -> None:
    """Everything the JVM and the Python workers need, set before the
    first session starts: one local core per CPU, the repo importable by
    Spark's Python workers, no console progress bar, and every temporary
    file inside the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own launcher JVM
    args = ["--driver-java-options", jvm_opts]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _prune_inputs(cache: str, workload: str, size: str, keep: str) -> None:
    sets = glob.glob(os.path.join(cache, f"v*-{workload}-{size}-s*"))
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[MAX_CACHED:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    import tracing

    deadline = time.monotonic() + 30
    while (left := tracing.descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Runner:
    """One session's operations, timed and checked."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer

    def run(self, op, i: int) -> dict:
        from zeek_duckdb_spark import parse_header

        sc = self.spark.sparkContext
        tr = self.tracer
        files = op.files()
        rec = {"shape": op.shape, "reader": op.reader, "ok": False,
               "bytes": sum(os.path.getsize(f) for f in files),
               "files": len(files), "rows_written": op.rows_written}
        gid = f"op{i}-{op.shape}"
        if tr.enabled:
            t = time.perf_counter()
            for f in files:
                parse_header(f)
            rec["header_s"] = time.perf_counter() - t
            tr.span("header.parse", gid, t, t + rec["header_s"], files=len(files))
        tr.job_group(sc, gid + ":bind")
        t0 = t1 = time.perf_counter()
        df = None
        try:
            df = op.bind(self.spark)
            t1 = time.perf_counter()
            tr.job_group(sc, gid + ":act")
            got = op.act(df)
            t2 = time.perf_counter()
            rec["ok"] = bool(op.check(got))
            if not rec["ok"]:
                print(f"wrong answer from {op.shape}: {str(got)[:300]}", file=sys.stderr)
        except Exception as e:  # a failed operation is counted, not fatal
            t2 = time.perf_counter()
            print(f"{op.shape} raised {type(e).__name__}: {str(e)[:500]}", file=sys.stderr)
        rec.update(bind_s=t1 - t0, act_s=t2 - t1, total_s=t2 - t0)
        tr.end_job_group(sc)
        if tr.enabled:
            rec["bind_counts"] = tr.job_counts(sc, gid + ":bind")
            rec["act_counts"] = tr.job_counts(sc, gid + ":act")
            rec["group"] = gid
            tr.span("op", gid, t0, t2, shape=op.shape)
            tr.span(f"{op.reader}.bind", gid, t0, t1, parent="op", **rec["bind_counts"])
            tr.span("spark.action", gid, t1, t2, parent="op", **rec["act_counts"])
            if op.writes_to and df is not None:
                self._trace_write(op, df, gid, rec)
        op.after()
        return rec

    def _trace_write(self, op, df, gid, rec) -> None:
        from zeek_duckdb_spark.sources.zeek_writer import format_zeek_lines

        t = time.perf_counter()
        format_zeek_lines(df, "conn")
        rec["format_s"] = time.perf_counter() - t
        parts = glob.glob(os.path.join(op.writes_to, "part-*"))
        rec["write_files"] = len(parts)
        rec["write_bytes"] = sum(os.path.getsize(p) for p in parts)
        self.tracer.span("zeek_writer.format", gid, t, t + rec["format_s"])

    def cycle(self, ops, start: int) -> list[dict]:
        return [self.run(op, start + k) for k, op in enumerate(ops)]


def _mean(recs, key, where=lambda r: True) -> float:
    vals = [r[key] for r in recs if where(r) and key in r]
    return sum(vals) / len(vals) if vals else 0.0


def _per_layer(recs, setup, sampler, events, overhead) -> dict:
    """Per-operation means of each layer's spans and counts over the
    timed operations (0 where a layer has no work on this workload)."""
    from tracing import covered_s

    n = len(recs)
    zeek = lambda r: r["reader"] == "zeek"  # noqa: E731
    ds = lambda r: r["reader"] == "datasource"  # noqa: E731
    writes = [r for r in recs if r["rows_written"]]
    ev = [events.get(r["group"] + ":act", {}) for r in recs]
    ev_bind = [events.get(r["group"] + ":bind", {}) for r in recs]

    def per_op(phase, key):
        return sum(r[f"{phase}_counts"][key] for r in recs) / n

    def ev_mean(key):
        return sum(e.get(key, 0) + b.get(key, 0) for e, b in zip(ev, ev_bind)) / n

    gaps = [r["act_s"] - covered_s(e.get("stage_spans", [])) for r, e in zip(recs, ev)]
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.register_s": setup["register_s"],
        "session.warmup_s": setup["warmup_s"],
        "header.parse_s": _mean(recs, "header_s"),
        "header.files": _mean(recs, "files"),
        "sources.zeek.bind_s": _mean(recs, "bind_s", zeek),
        "sources.zeek.bind_jobs": per_op("bind", "jobs"),
        "sources.zeek.bind_tasks": per_op("bind", "tasks"),
        "spark.action_s": _mean(recs, "act_s"),
        "spark.jobs": per_op("act", "jobs"),
        "spark.stages": per_op("act", "stages"),
        "spark.tasks": per_op("act", "tasks"),
        "spark.executor_run_s": ev_mean("executor_run_s"),
        "spark.executor_cpu_s": ev_mean("executor_cpu_s"),
        "spark.gc_s": ev_mean("gc_s"),
        "spark.task_deserialize_s": ev_mean("task_deserialize_s"),
        "spark.shuffle_write_bytes": ev_mean("shuffle_write_bytes"),
        "spark.driver_gap_s": sum(gaps) / n,
        "sources.zeek_writer.format_s": _mean(writes, "format_s"),
        "sources.zeek_writer.write_s": _mean(writes, "act_s"),
        "sources.zeek_writer.files": _mean(writes, "write_files"),
        "sources.zeek_writer.bytes": _mean(writes, "write_bytes"),
        "sources.zeek_writer.rows_per_s": _write_rows_per_s(recs),
        "sources.datasource.bind_s": _mean(recs, "bind_s", ds),
        "sources.datasource.read_s": _mean(recs, "act_s", ds),
        "rss.jvm_mb": sampler.median_peak("jvm") / 1e6,
        "rss.python_mb": sampler.median_peak("python") / 1e6,
        "trace.overhead_frac": overhead,
    }
    import workloads

    for shapes in workloads.SHAPES.values():
        for shape in shapes:
            times = [r["total_s"] for r in recs if r["shape"] == shape]
            m[f"shape.{shape}.p50_s"] = statistics.median(times) if times else 0.0
    return m


def _cycle_mb_per_s(recs, ops) -> float:
    """On-disk MB one cycle of the mix reads over the time one cycle
    takes, each shape's time being its median: a burst of load on the
    machine moves a few operations, not the figure."""
    mb = t = 0.0
    for op in ops:
        mine = [r for r in recs if r["shape"] == op.shape]
        mb += statistics.median(r["bytes"] for r in mine) / 1e6
        t += statistics.median(r["total_s"] for r in mine)
    return mb / t


def _write_rows_per_s(recs) -> float:
    writes = [r for r in recs if r["rows_written"]]
    t = sum(r["act_s"] for r in writes)
    return sum(r["rows_written"] for r in writes) / t if t else 0.0


def _setup(ops):
    """get_spark() + register() + one untimed warm-up pass of the
    operation mix (one cycle): what a user pays before the first steady
    query."""
    from zeek_duckdb_spark import register
    from zeek_duckdb_spark.session import get_spark
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    register(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm = Runner(spark, Tracer(enabled=False)).cycle(ops, 0)
    t3 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "register_s": t2 - t1, "warmup_s": t3 - t2,
                   "total_s": t3 - t0, "failed": sum(not r["ok"] for r in warm),
                   "t0": t0, "t1": t1, "t2": t2, "t3": t3}


def _report(args, recs, ops, e2e, elapsed) -> None:
    """Every end-to-end metric by name and unit, then the shape medians."""
    import workloads

    failed = sum(not r["ok"] for r in recs)
    print(f"workload {args.workload} seed {args.seed}: {len(recs)} timed untraced "
          f"operations, {elapsed:.1f} s timed in all (one client, closed loop)")
    for name, v in e2e.items():
        print(f"  {name:<34} {v:14.4f} {END_TO_END[name]}")
    print(f"  {'ops_failed_frac':<34} {failed / len(recs):14.4f} ratio")
    if any(r["rows_written"] for r in recs):
        print(f"  {'write_rows_per_s':<34} {_write_rows_per_s(recs):14.1f} rows/s")
    for op in workloads.distinct(ops):
        times = [r["total_s"] for r in recs if r["shape"] == op.shape]
        print(f"  shape {op.shape:<28} {statistics.median(times):14.4f} s"
              f"  (p50 of {len(times)})")
    n = len(ops)
    cycles = [sum(r["total_s"] for r in recs[i:i + n]) for i in range(0, len(recs), n)]
    print("  cycle times (s): " + " ".join(f"{c:.2f}" for c in cycles))


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import zeek_duckdb_spark
    except ImportError as e:
        print(f"perfbench: the zeek_duckdb_spark package is not importable "
              f"from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(zeek_duckdb_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: zeek_duckdb_spark comes from {zeek_duckdb_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    import gen
    import workloads
    from tracing import RssSampler, Tracer, event_log_ops

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    key = f"{args.workload}-{args.size}-s{args.seed}"
    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    _configure_env(scratch, event_dir)

    cache = os.path.join(WORK, "inputs")
    data = gen.generate(args.workload, args.seed, args.size, cache)
    os.utime(data)
    _prune_inputs(cache, args.workload, args.size, data)
    with open(os.path.join(data, "expected.json")) as fh:
        exp = json.load(fh)
    ops = workloads.build(args.workload, data, exp, os.path.join(scratch, "out"))

    tracer = Tracer(enabled=bool(args.trace))
    spark, setup = _setup(ops)
    tracer.span("setup", "setup", setup["t0"], setup["t3"])
    tracer.span("session.get_spark", "setup", setup["t0"], setup["t1"], parent="setup")
    tracer.span("session.register", "setup", setup["t1"], setup["t2"], parent="setup")
    tracer.span("warmup", "setup", setup["t2"], setup["t3"], parent="setup")

    # With tracing on, each untraced cycle is followed by two traced ones
    # in the same session, so trace.overhead_frac compares like with
    # like; the end-to-end figures always come from untraced cycles.
    runners = [Runner(spark, Tracer(enabled=False))]
    if args.trace:
        runners += [Runner(spark, tracer)] * 2
    recs: list[dict] = []
    by_mode: dict[bool, list[dict]] = {False: [], True: []}
    sampler = RssSampler().start()
    t_start = time.perf_counter()
    # whole cycles only, so every shape has the same weight in the mix
    while True:
        for runner in runners:
            cycle = runner.cycle(ops, len(recs))
            sampler.cut()
            recs += cycle
            by_mode[runner.tracer.enabled] += cycle
        elapsed = time.perf_counter() - t_start
        measured = by_mode[bool(args.trace)]
        if (len(measured) >= MIN_OPS and elapsed >= args.seconds) or elapsed >= MAX_TIMED_S:
            break
    sampler.stop()
    app_id = spark.sparkContext.applicationId
    _stop_spark(spark)

    untraced = by_mode[False]
    lat = [r["total_s"] for r in untraced]
    failed = sum(not r["ok"] for r in recs)
    e2e = {
        "setup_s": setup["total_s"],
        "query_p50_s": statistics.median(lat),
        "query_p75_s": statistics.quantiles(lat, n=4)[2],
        "scan_mb_per_s": _cycle_mb_per_s(untraced, ops),
        "peak_rss_mb": sampler.median_peak("total") / 1e6,
    }
    _report(args, untraced, ops, e2e, elapsed)

    if args.trace:
        traced = by_mode[True]
        events = event_log_ops(os.path.join(event_dir, app_id))
        overhead = statistics.median(r["total_s"] for r in traced) / e2e["query_p50_s"] - 1
        metrics = _per_layer(traced, setup, sampler, events, overhead)
        for name, v in metrics.items():
            print(f"  {name:<34} {v:14.4f} {unit_of(name)}")
        tracer.write(os.path.join(WORK, "traces", key + ".json"), metrics)
        out = {name: {"value": v, "unit": unit_of(name)} for name, v in metrics.items()}
    else:
        out = {name: {"value": v, "unit": END_TO_END[name]} for name, v in e2e.items()}
    shutil.rmtree(scratch, ignore_errors=True)
    correct = failed == 0 and setup["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": len(recs), "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
