"""The benchmark's workloads: one cycle of operations each, some shapes
weighted twice.

An operation is one ``read_zeek`` or ``format("zeek")`` call (the bind)
plus one action, and carries the check of its answer against the
generator's ``expected.json``.  ``files()`` and ``after()`` run outside
the timed region.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import functions as F

from zeek_duckdb_spark import read_zeek, write_zeek

import gen


@dataclass
class Op:
    shape: str
    reader: str                       # "zeek" (read_zeek) or "datasource"
    bind: Callable[[Any], Any]        # spark -> DataFrame
    act: Callable[[Any], Any]         # DataFrame -> answer
    check: Callable[[Any], bool]
    files: Callable[[], list[str]]    # the files the operation reads
    rows_written: int = 0
    writes_to: str | None = None      # output dir of a write_zeek action
    after: Callable[[], None] = field(default=lambda: None)


def _agg(df, *cols):
    return tuple(df.agg(*cols).first())


def _count_sum(df):
    return _agg(df, F.count(F.lit(1)), F.sum("orig_bytes"))


def conn_scan(data: str, exp: dict) -> list[Op]:
    """Six pushdown shapes over a few plain-text conn logs: executor-side
    tokenize + cast pipeline, plus one Arrow UDF."""
    pattern = os.path.join(data, "conn", "*.log")
    files = lambda: sorted(glob.glob(pattern))  # noqa: E731

    def op(shape, act, want):
        return Op(shape, "zeek", lambda s: read_zeek(s, pattern), act,
                  lambda got: got == want, files)

    count_star = op("count_star", lambda df: df.count(), exp["rows"])
    project_distinct = op("project_distinct",
                          lambda df: df.select("id_resp_h").distinct().count(),
                          exp["distinct_resp_h"])
    port_filter = op("port_filter",
                     lambda df: _agg(df.filter(F.col("id_resp_p") == gen.FILTER_PORT),
                                     F.count(F.lit(1)), F.sum("resp_bytes")),
                     (exp["port_rows"], exp["port_resp_bytes"]))
    typed_all = op("typed_all",
                   lambda df: df.select([F.count(c).alias(c) for c in df.columns])
                   .first().asDict(),
                   exp["nonnull"])
    group_state = op("group_state",
                     lambda df: {r[0]: r[1]
                                 for r in df.groupBy("conn_state").count().collect()},
                     exp["state_counts"])
    subnet_udf = op("subnet_udf",
                    lambda df: df.filter(
                        (F.col("id_resp_p") == 53)
                        & F.expr(f"ip_in_subnet(id_orig_h, '{gen.SUBNET}')")).count(),
                    exp["subnet_dns_rows"])
    # project_distinct and typed_all run twice per cycle.  By latency the
    # shapes sort as count_star, group_state and port_filter, then
    # project_distinct, typed_all and subnet_udf; a quantile that falls
    # in the gap between two shapes flips between them from run to run.
    # With these weights p50 falls in the middle of project_distinct and
    # p75 in the middle of typed_all.
    return [count_star, project_distinct, port_filter, typed_all, group_state,
            subnet_udf, project_distinct, typed_all]


def rotated_gz(data: str, exp: dict, out_root: str) -> list[Op]:
    """Many small hourly-rotated .log.gz files in two schema versions:
    the driver binds (header parse, file listing) and the executors have
    little to do.  The Python DataSource reads a few of them, and one is
    recompressed to zst with write_zeek and read back."""
    everything = os.path.join(data, "rotated", "*", "*.log.gz")
    head = os.path.join(data, gen.HEAD_GLOB)
    first = os.path.join(data, gen.FIRST_FILE)
    out = os.path.join(out_root, "zst")
    written = os.path.join(out, "part-*")

    def files(pattern):
        return lambda: sorted(glob.glob(pattern))

    def per_file(df):
        rows = df.groupBy("filename").count().collect()
        return {os.path.relpath(r[0], data): r[1] for r in rows}

    head_want = (exp["head_rows"], exp["head_orig_bytes"])
    per_file_counts = Op(
        "per_file_counts", "zeek",
        lambda s: read_zeek(s, everything, union_by_name=True, filename=True),
        per_file, lambda got: got == exp["per_file"], files(everything))
    head_glob = Op("head_glob", "zeek", lambda s: read_zeek(s, head, union_by_name=True),
                   _count_sum, lambda got: got == head_want, files(head))
    ds_head = Op("ds_head", "datasource",
                 lambda s: s.read.format("zeek").option("union_by_name", "true").load(head),
                 _count_sum, lambda got: got == head_want, files(head))
    write_zst = Op("write_zst", "zeek", lambda s: read_zeek(s, first),
                   lambda df: write_zeek(df, out, path_name="conn", compress="zst"),
                   lambda _got: bool(glob.glob(os.path.join(out, "part-*.log.zst"))),
                   files(first), rows_written=exp["first_rows"], writes_to=out)
    ds_zst = Op("ds_zst", "datasource", lambda s: s.read.format("zeek").load(written),
                _count_sum,
                lambda got: got == (exp["first_rows"], exp["first_orig_bytes"]),
                files(written), after=lambda: shutil.rmtree(out, ignore_errors=True))
    # per_file_counts, head_glob and ds_head run twice per cycle, the
    # write and its read-back once.  By latency the shapes sort as
    # head_glob, ds_zst and ds_head, then per_file_counts, then
    # write_zst; a quantile that falls in the gap between two shapes
    # flips between them from run to run.  With these weights the three
    # fast shapes are 5/8 of the mix and per_file_counts the next 2/8, so
    # p50 falls inside the fast ones and p75 in the middle of
    # per_file_counts.
    return [per_file_counts, head_glob, ds_head, write_zst, ds_zst,
            per_file_counts, head_glob, ds_head]


def build(workload: str, data: str, exp: dict, scratch: str) -> list[Op]:
    if workload == "conn_scan":
        ops = conn_scan(data, exp)
    elif workload == "rotated_gz":
        ops = rotated_gz(data, exp, scratch)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    if [op.shape for op in distinct(ops)] != SHAPES[workload]:
        raise ValueError(f"SHAPES[{workload!r}] does not list the workload's shapes")
    return ops


def distinct(ops: list[Op]) -> list[Op]:
    """Each operation of a cycle once, in the order of first appearance."""
    seen: dict[str, Op] = {}
    for op in ops:
        seen.setdefault(op.shape, op)
    return list(seen.values())


# every shape of every workload; a run reports shape.<name>.p50_s for
# all of them (0 for the shapes another workload runs)
SHAPES = {
    "conn_scan": ["count_star", "project_distinct", "port_filter", "typed_all",
                  "group_state", "subnet_udf"],
    "rotated_gz": ["per_file_counts", "head_glob", "ds_head", "write_zst", "ds_zst"],
}
WORKLOADS = tuple(SHAPES)
