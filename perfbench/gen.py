"""Deterministic Zeek-log input generator for the scan benchmark.

``generate(workload, seed, size, root)`` writes the workload's input files
and ``expected.json`` (the answer of every operation shape) into a cache
directory keyed by generator version, workload, size and seed, and
returns that directory.  A second call with the same key reuses it, so
input generation never counts in set-up or in the timed phase.

Everything is vectorized with numpy and pyarrow: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Bump when the files or the expected answers change shape.
GEN_VERSION = 2

# rows are per file
SIZES = {
    "full": {
        "conn_scan": {"files": 4, "rows": 15_000},
        "rotated_gz": {"days": 2, "hours": 18, "rows": 240, "upgrade": 2},
    },
    "tiny": {
        "conn_scan": {"files": 2, "rows": 500},
        "rotated_gz": {"days": 2, "hours": 10, "rows": 20, "upgrade": 2},
    },
}

SUBNET = "10.1.0.0/16"
# the narrow glob over the rotated logs: the first HEAD_HOURS files of
# the first day, both schema versions
HEAD_HOURS = 4
HEAD_GLOB = os.path.join("rotated", "2024-01-01", "conn.0[0-3]-00-00.log.gz")
# the one file the write shape recompresses
FIRST_FILE = os.path.join("rotated", "2024-01-01", "conn.00-00-00.log.gz")
HEAD_FILES = {os.path.join("rotated", "2024-01-01", f"conn.{h:02d}-00-00.log.gz")
              for h in range(HEAD_HOURS)}
FILTER_PORT = 443
CONN_STATES = ["SF", "S0", "REJ", "RSTO", "RSTR", "SH", "OTH", "S1"]
_STATE_P = [0.45, 0.2, 0.1, 0.08, 0.05, 0.05, 0.04, 0.03]
_PORTS = np.array([53, 80, 443, 22, 123, 8080, 25])
_PORT_P = [0.3, 0.15, 0.25, 0.05, 0.05, 0.05, 0.05]  # rest: ephemeral
_HISTORY = ["ShADadFf", "Dd", "S", "ShR", "ShADadfR", "D", "ShAdDaFf", "Sr"]

CONN_V1 = [
    ("ts", "time"), ("uid", "string"), ("id.orig_h", "addr"),
    ("id.orig_p", "port"), ("id.resp_h", "addr"), ("id.resp_p", "port"),
    ("proto", "enum"), ("service", "string"), ("duration", "interval"),
    ("orig_bytes", "count"), ("resp_bytes", "count"),
    ("conn_state", "string"), ("local_orig", "bool"), ("local_resp", "bool"),
    ("missed_bytes", "count"), ("history", "string"), ("orig_pkts", "count"),
    ("orig_ip_bytes", "count"), ("resp_pkts", "count"),
    ("resp_ip_bytes", "count"), ("tunnel_parents", "set[string]"),
]
# the newer schema version of the rotated logs adds two trailing fields
CONN_V2 = CONN_V1 + [("ip_proto", "count"), ("community_id", "string")]


def _header(fields, open_stamp: str) -> str:
    return "\n".join([
        "#separator \\x09",
        "#set_separator\t,",
        "#empty_field\t(empty)",
        "#unset_field\t-",
        "#path\tconn",
        f"#open\t{open_stamp}",
        "#fields\t" + "\t".join(f for f, _ in fields),
        "#types\t" + "\t".join(t for _, t in fields),
    ]) + "\n"


def _s(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _dotted(rng_vals) -> pa.Array:
    return pc.binary_join_element_wise(*[_s(v) for v in rng_vals], ".")


def _fixed6(us: np.ndarray) -> pa.Array:
    """int microseconds -> 'S.UUUUUU' text (Zeek's time/interval form)."""
    whole = _s(us // 1_000_000)
    frac = pc.utf8_lpad(_s(us % 1_000_000), width=6, padding="0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _uids(rng, n: int) -> pa.Array:
    alphabet = np.frombuffer(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789",
                             dtype=np.uint8)
    body = alphabet[rng.integers(0, len(alphabet), size=(n, 17))]
    raw = np.concatenate([np.full((n, 1), ord("C"), np.uint8), body], axis=1)
    return pa.array(raw.view("S18").ravel().astype(str))


def _unset(mask: np.ndarray, arr: pa.Array, marker: str = "-") -> pa.Array:
    return pc.if_else(pa.array(mask), pa.scalar(marker), arr)


def _conn_block(rng, n: int, t0_us: int, span_us: int, fields) -> tuple[str, dict]:
    """``n`` conn rows as TSV text plus the numpy columns the expected
    answers are computed from."""
    ts_us = t0_us + np.sort(rng.integers(0, span_us, n))
    local = rng.random(n) < 0.7
    o2 = np.where(local, rng.integers(0, 4, n), rng.integers(0, 256, n))
    orig = [np.where(local, 10, rng.integers(11, 224, n)), o2,
            rng.integers(0, 256, n), rng.integers(1, 255, n)]
    resp = [rng.integers(1, 224, n), rng.integers(0, 256, n),
            rng.integers(0, 16, n), rng.integers(1, 255, n)]
    pick = rng.choice(len(_PORTS) + 1, size=n, p=_PORT_P + [1 - sum(_PORT_P)])
    resp_p = np.where(pick < len(_PORTS), _PORTS[np.minimum(pick, len(_PORTS) - 1)],
                      rng.integers(1024, 65536, n))
    proto = np.where(np.isin(resp_p, [53, 123]), "udp", "tcp")
    service = np.select([resp_p == 53, resp_p == 80, resp_p == 443],
                        ["dns", "http", "ssl"], "-")
    state = rng.choice(len(CONN_STATES), size=n, p=_STATE_P)
    bytes_unset = state == 1  # S0: no payload seen
    orig_bytes = rng.integers(0, 5000, n)
    resp_bytes = rng.integers(0, 200_000, n)
    orig_pkts = rng.integers(1, 60, n)
    resp_pkts = rng.integers(0, 80, n)
    tunnel = rng.random(n) < 0.02
    cols = {
        "ts": _fixed6(ts_us),
        "uid": _uids(rng, n),
        "id.orig_h": _dotted(orig),
        "id.orig_p": _s(rng.integers(1024, 65536, n)),
        "id.resp_h": _dotted(resp),
        "id.resp_p": _s(resp_p),
        "proto": pa.array(proto),
        "service": pa.array(service),
        "duration": _unset(bytes_unset, _fixed6(rng.integers(0, 30_000_000, n))),
        "orig_bytes": _unset(bytes_unset, _s(orig_bytes)),
        "resp_bytes": _unset(bytes_unset, _s(resp_bytes)),
        "conn_state": pc.take(pa.array(CONN_STATES), pa.array(state)),
        "local_orig": pa.array(np.where(local, "T", "F")),
        "local_resp": pa.array(np.where(resp[0] == 10, "T", "F")),
        "missed_bytes": pa.array(np.full(n, "0")),
        "history": pc.take(pa.array(_HISTORY), pa.array(rng.integers(0, len(_HISTORY), n))),
        "orig_pkts": _s(orig_pkts),
        "orig_ip_bytes": _s(orig_bytes + 40 * orig_pkts),
        "resp_pkts": _s(resp_pkts),
        "resp_ip_bytes": _s(resp_bytes + 40 * resp_pkts),
        "tunnel_parents": _unset(~tunnel, pa.array(np.full(n, "CtPZjS20MLrsMUOJi2,Cx1b8b3K2fGBbU1Ai3")),
                                 "(empty)"),
        "ip_proto": pa.array(np.where(proto == "udp", "17", "6")),
        "community_id": pa.array(np.full(n, "-")),
    }
    lines = pc.binary_join_element_wise(*[cols[f] for f, _ in fields], "\t")
    text = "\n".join(lines.to_pylist()) + "\n" if n else ""
    facts = {
        "orig_bytes": np.where(bytes_unset, 0, orig_bytes),
        "resp_bytes": np.where(bytes_unset, 0, resp_bytes),
        "bytes_unset": bytes_unset,
        "resp_p": resp_p,
        "state": state,
        "in_subnet": (orig[0] == 10) & (orig[1] == 1),
        "resp_h": ((resp[0] * 256 + resp[1]) * 256 + resp[2]) * 256 + resp[3],
        "tunnel": tunnel,
    }
    return text, facts


def _conn_expected(facts: list[dict]) -> dict:
    cat = {k: np.concatenate([f[k] for f in facts]) for k in facts[0]}
    n = len(cat["resp_p"])
    nonnull = {f.replace(".", "_"): n for f, _ in CONN_V1}
    unset = int(cat["bytes_unset"].sum())
    for c in ("duration", "orig_bytes", "resp_bytes"):
        nonnull[c] = n - unset
    nonnull["service"] = int(np.isin(cat["resp_p"], [53, 80, 443]).sum())
    nonnull["tunnel_parents"] = int(cat["tunnel"].sum())
    port = cat["resp_p"] == FILTER_PORT
    return {
        "rows": n,
        "sum_orig_bytes": int(cat["orig_bytes"].sum()),
        "distinct_resp_h": int(len(np.unique(cat["resp_h"]))),
        "port_rows": int(port.sum()),
        "port_resp_bytes": int(cat["resp_bytes"][port].sum()),
        "nonnull": nonnull,
        "state_counts": {CONN_STATES[i]: int(c) for i, c in
                         zip(*np.unique(cat["state"], return_counts=True))},
        "subnet_dns_rows": int((cat["in_subnet"] & (cat["resp_p"] == 53)).sum()),
    }


def _write(path: str, text: str, compress: bool) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if compress:
        # mtime=0: byte-identical output for the same seed
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as fh:
            fh.write(text.encode())
    else:
        with open(path, "w") as fh:
            fh.write(text)


_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_HOUR_US = 3600 * 1_000_000


def _gen_plain(rng, out: str, files: int, rows: int) -> dict:
    facts = []
    for i in range(files):
        t0 = _T0_US + i * _HOUR_US
        text, f = _conn_block(rng, rows, t0, _HOUR_US, CONN_V1)
        _write(os.path.join(out, "conn", f"conn.{i:02d}.log"),
               _header(CONN_V1, "2024-01-01-00-00-00") + text, compress=False)
        facts.append(f)
    exp = _conn_expected(facts)
    exp["files"] = files
    return exp


def _gen_rotated(rng, out: str, days: int, hours: int, rows: int,
                 upgrade: int) -> dict:
    """Hourly rotated gz logs; the sensor is upgraded to the newer schema
    at file number ``upgrade``, on the first day."""
    per_file = {}
    v2_rows = head_bytes = first_bytes = 0
    facts = []
    for d in range(days):
        for h in range(hours):
            fields = CONN_V1 if d * hours + h < upgrade else CONN_V2
            # the file sizes follow the hour, never the seed, so every
            # seed gives the same amount of work
            n = rows * (3 + h % 4) // 4
            t0 = _T0_US + (d * 24 + h) * _HOUR_US
            text, f = _conn_block(rng, n, t0, _HOUR_US, fields)
            rel = os.path.join("rotated", f"2024-01-{d + 1:02d}",
                               f"conn.{h:02d}-00-00.log.gz")
            _write(os.path.join(out, rel),
                   _header(fields, f"2024-01-{d + 1:02d}-{h:02d}-00-00") + text,
                   compress=True)
            per_file[rel] = n
            if rel in HEAD_FILES:
                head_bytes += int(f["orig_bytes"].sum())
            if rel == FIRST_FILE:
                first_bytes = int(f["orig_bytes"].sum())
            facts.append(f)
            if fields is CONN_V2:
                v2_rows += n
    exp = _conn_expected(facts)
    exp["files"] = days * hours
    exp["per_file"] = per_file
    exp["v2_rows"] = v2_rows
    exp["head_rows"] = sum(n for rel, n in per_file.items() if rel in HEAD_FILES)
    exp["head_orig_bytes"] = head_bytes
    exp["first_rows"] = per_file[FIRST_FILE]
    exp["first_orig_bytes"] = first_bytes
    return exp


def generate(workload: str, seed: int, size: str, root: str) -> str:
    """Write (or reuse) the inputs of ``workload`` and return their dir."""
    spec = SIZES[size][workload]
    key = f"v{GEN_VERSION}-{workload}-{size}-s{seed}"
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng([GEN_VERSION, seed, sorted(SIZES["full"]).index(workload)])
    if workload == "rotated_gz":
        exp = _gen_rotated(rng, tmp, **spec)
    else:
        exp = _gen_plain(rng, tmp, **spec)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
