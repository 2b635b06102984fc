"""Seeded input generator for the benchmark.

Everything the program sees is made here from ``--seed``: parquet files
in the events shape that ``streaming.runner.read_events_stream`` reads
(``event_id, ts, user_id, event_type, value, props``; ``ts`` is int64
nanoseconds stored as TIMESTAMP(NANOS), read back as a long under the
session's ``nanosAsLong`` setting), plus a manifest of what the program
should do with them. The generator decides which payloads are empty,
invalid, filtered or debug, so it knows each index's expected row count
without running the program.

Two entry points:

* ``build_inputs(seed, root)`` writes every workload's inputs once per
  seed under ``root/s<seed>-<key>/`` (atomic rename, so a cache hit is always
  complete). The same seed gives byte-identical files.
* ``python3 perfbench/gen.py publish ...`` is the single-threaded load
  generator process of ``etl-live``: it copies pre-made files into the
  source directory on a fixed schedule (an open loop: it never waits on
  the program) and records how late each publish was.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The pipeline configuration every ETL workload runs (see etl_config in
# workloads.py); the generator mirrors its routing to predict indexes.
# Routing is the reference's deployed configuration: the 9-rule rewrite
# table of its src/es.rs:399-409 and the debug patterns of its
# src/util.rs:174-187 (both also pinned in tests/test_golden_reference.py).
# The topics are the 11 of the reference's golden routing table
# (src/es.rs:411-431): every rule is reached, one topic carries a
# partition suffix, one falls through all nine rules, and one is won by
# an earlier rule. They take equal shares of the traffic, an assumption:
# no source gives a topic mix.
TOPICS = (
    "k8s-be-prod", "k8s-fe-prod", "app-biz", "app-other", "nginx-live-x", "live-stream",
    "mysql-slowlogs-db1", "containerlog-abc", "pulsar-partition-0", "logstash", "app-biz-2",
)
REWRITE_RULES = (
    ("k8s-be", "k8s-be"),
    ("k8s-fe", "k8s-fe"),
    ("app-biz", "app"),
    ("app", "app"),
    ("nginx-live", "nginx"),
    ("live-", "live"),
    ("mysql-slowlogs", "mysql"),
    ("containerlog-", "containerlog"),
    ("pulsar", "pulsar.*"),
)
DEBUG_PATTERNS = (r"\[DEBU\]", r"\[Gin-debug\]")
# The filters and the drop shares in make_messages are assumptions too:
# the reference ships no filter configuration.
GLOBAL_FILTER = r'"level":"trace"'
NAMESPACE_FILTER_TOPIC = "nginx-live-x"
NAMESPACE_FILTER = r'"http.path":"/healthz"'
N_APPS = 24
PAYLOAD_BYTES = 340

# stateful-skew
STATEFUL_APPS = ("browse", "search", "cart", "checkout", "login", "error", "signup", "review")
N_USERS = 4000
FILE_SPAN_S = 60  # event time one stateful file covers
LATE_IN_WM_MAX_S = 50  # out-of-order, inside the 2-minute watermark
LATE_BEYOND_S = (1800, 3600)  # beyond the watermark: must drop
DUP_SHARE = 0.05
LATE_IN_SHARE = 0.08
LATE_BEYOND_SHARE = 0.005

BASE_NS = 1_709_337_480 * 1_000_000_000  # 2024-03-01T23:58:00Z: ETL input spans midnight
STATEFUL_BASE_NS = 1_709_251_200 * 1_000_000_000  # 2024-03-01T00:00:00Z
FILE_MTIME0 = 1_709_300_000  # fixed mtimes keep the file source's order deterministic

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("ns")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class Sizes:
    """Input sizes; the defaults are what the benchmark runs."""

    live_files: int = 600  # 60 s of schedule: more than any run needs
    live_msgs_per_file: int = 50
    live_interval_ms: int = 100  # 500 msgs/s offered
    # an odd number of admission-limited batches (11), so the median
    # message sits inside a batch, not on the step between two
    backlog_files: int = 22
    backlog_msgs_per_file: int = 2500
    backlog_files_per_trigger: int = 2
    stateful_files: int = 10
    stateful_events_per_file: int = 1500
    warm_live_files: int = 30  # one micro-batch each, etl-live's batch size
    warm_live_msgs_per_file: int = 200
    warm_backlog_files: int = 22  # one drain of etl-backlog's size
    warm_stateful_events: int = 200  # one file: one micro-batch per operator


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _index_base(topic: str) -> str:
    """The index name's base, routed like ``etl_transform``: partition
    suffix stripped, then the first matching rewrite rule."""
    base = re.sub(r"-partition-\d+$", "", topic)
    for pattern, target in REWRITE_RULES:
        if re.match("^" + pattern, base):
            return target.replace(".*", "")
    return base


def _date(ns: int) -> str:
    return time.strftime("%Y.%m.%d", time.gmtime(ns // 1_000_000_000))


def _pad(body: str) -> str:
    """Pad the msg field so every valid payload is PAYLOAD_BYTES long."""
    return body.replace("@PAD@", "x" * max(0, PAYLOAD_BYTES - len(body) + 5))


def make_messages(rng: np.random.Generator, n: int, first_id: int, ts_ns: np.ndarray):
    """Log messages for the ETL workloads.

    Returns (columns, kinds, index per message). ``kinds`` is one of
    empty / invalid / trace / health / debug / info; the first four
    must not reach the sink."""
    t_idx = rng.integers(0, len(TOPICS), size=n)
    app_idx = rng.choice(N_APPS, size=n, p=_zipf_p(N_APPS, 1.2))
    u = rng.random(n)
    u2 = rng.random(n)
    status = rng.choice(np.array([200, 200, 200, 201, 304, 404, 500]), size=n)
    user = rng.integers(0, 50_000, size=n)
    lat = rng.integers(100, 999_999, size=n)
    trace_hi = rng.integers(0, 2**62, size=n)
    debug_tag = rng.integers(0, len(DEBUG_PATTERNS), size=n)
    props, kinds, indexes = [], [], []
    for i in range(n):
        topic = TOPICS[t_idx[i]]
        eid = first_id + i
        if u[i] < 0.01:
            kind, level = "empty", "info"
        elif u[i] < 0.025:
            kind, level = "invalid", "info"
        elif u[i] < 0.055:
            kind, level = "trace", "trace"
        elif topic == NAMESPACE_FILTER_TOPIC and u2[i] < 0.25:
            kind, level = "health", "info"
        elif u[i] < 0.13:
            kind, level = "debug", "debug"
        elif u2[i] > 0.95:
            kind, level = "debug", "info"  # debug by message pattern, not by level
        else:
            kind, level = "info", "warn" if u2[i] < 0.1 else "info"
        if kind == "empty":
            props.append("")
        else:
            app = "" if u2[i] < 0.05 else f'"app":"svc-{app_idx[i]}",'
            path = "/healthz" if kind == "health" else f"/api/v1/items/{eid % 977}"
            tag = DEBUG_PATTERNS[debug_tag[i]].replace("\\", "")
            debu = f"{tag} " if kind == "debug" and level == "info" else ""
            body = _pad(
                f'{{{app}"level":"{level}","msg":"{debu}req {eid} @PAD@",'
                f'"http.method":"GET","http.path":"{path}","http.status":"{status[i]}",'
                f'"user.id":"u{user[i]}","latency_ms":"{lat[i] / 1000:.3f}",'
                f'"trace.id":"{trace_hi[i]:016x}","host":"web-{eid % 7}.prod"}}'
            )
            props.append(body[: len(body) // 2] if kind == "invalid" else body)
        kinds.append(kind)
        indexes.append(
            f"{_index_base(topic)}-{_date(int(ts_ns[i]))}" if kind in ("debug", "info") else None
        )
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts_ns.astype(np.int64),
        "user_id": user.astype(np.int64),
        "event_type": [TOPICS[k] for k in t_idx],
        "value": (lat / 1000.0).astype(np.float64),
        "props": props,
    }
    return cols, kinds, indexes


def _write(path: str, cols: dict, mtime: int) -> None:
    table = pa.Table.from_arrays(
        [
            pa.array(cols["event_id"], pa.int64()),
            pa.array(cols["ts"], pa.int64()).cast(pa.timestamp("ns")),
            pa.array(cols["user_id"], pa.int64()),
            pa.array(cols["event_type"], pa.string()),
            pa.array(cols["value"], pa.float64()),
            pa.array(cols["props"], pa.string()),
        ],
        schema=SCHEMA,
    )
    pq.write_table(table, path, compression="snappy")
    os.utime(path, (mtime, mtime))


def _etl_files(rng, dir_path, n_files, per_file, first_ts_ns, step_ns, mtime0):
    """Write ``n_files`` message files; returns per-file expectations."""
    os.makedirs(dir_path)
    files = []
    for f in range(n_files):
        first = f * per_file
        ts = first_ts_ns + (first + np.arange(per_file, dtype=np.int64)) * step_ns
        cols, kinds, indexes = make_messages(rng, per_file, first, ts)
        name = f"part-{f:05d}.parquet"
        _write(os.path.join(dir_path, name), cols, mtime0 + f)
        expect: dict[str, list[int]] = {}
        for kind, idx in zip(kinds, indexes):
            if idx is not None:
                e = expect.setdefault(idx, [0, 0])
                e[0] += 1
                e[1] += kind == "debug"
        files.append({"name": name, "msgs": per_file, "expect": expect})
    return files


def make_stateful_events(rng: np.random.Generator, n_files: int, per_file: int):
    """Events for ``stateful-skew``: Zipf users and apps, duplicate
    payloads, out-of-order events inside the watermark and a few beyond
    it. Returns per-file column dicts and a per-event ``late`` flag
    (1 = beyond the watermark)."""
    n = n_files * per_file
    span_ns = FILE_SPAN_S * 1_000_000_000
    file_of = np.repeat(np.arange(n_files), per_file)
    start = STATEFUL_BASE_NS + file_of * span_ns
    ts_us = (start + (rng.random(n) * span_ns).astype(np.int64)) // 1000
    kind = rng.random(n)
    in_wm = (kind < LATE_IN_SHARE) & (file_of >= 1)
    beyond = (kind > 1 - LATE_BEYOND_SHARE) & (file_of >= 2)
    ts_us[in_wm] = (start[in_wm] - (rng.random(in_wm.sum()) * LATE_IN_WM_MAX_S * 1e9).astype(np.int64)) // 1000
    lo, hi = LATE_BEYOND_S
    ts_us[beyond] = (start[beyond] - (rng.uniform(lo, hi, beyond.sum()) * 1e9).astype(np.int64)) // 1000
    users = rng.choice(N_USERS, size=n, p=_zipf_p(N_USERS, 1.1))
    apps = rng.choice(len(STATEFUL_APPS), size=n, p=_zipf_p(len(STATEFUL_APPS), 0.9))
    values = rng.integers(1, 100_000, size=n)
    props = [f'{{"user":{users[i]},"seq":{i},"amount":{values[i]}}}' for i in range(n)]
    # duplicates: copy the payload (not the id) of a recent on-time event,
    # a few seconds later in event time -- inside every horizon
    dup = (rng.random(n) < DUP_SHARE) & ~in_wm & ~beyond
    dup[:per_file] = False
    src_off = rng.integers(1, 200, size=n)
    for i in np.flatnonzero(dup):
        j = i - src_off[i]
        if in_wm[j] or beyond[j] or dup[j]:
            continue
        props[i] = props[j]
        ts_us[i] = ts_us[j] + int(rng.integers(0, 5_000_000))
    ts_ns = ts_us * 1000
    files = []
    for f in range(n_files):
        sl = slice(f * per_file, (f + 1) * per_file)
        files.append(
            {
                "event_id": np.arange(sl.start, sl.stop, dtype=np.int64),
                "ts": ts_ns[sl],
                "user_id": users[sl].astype(np.int64),
                "event_type": [STATEFUL_APPS[a] for a in apps[sl]],
                "value": values[sl].astype(np.float64),
                "props": props[sl],
            }
        )
    return files, beyond


def build_inputs(seed: int, root: str, sizes: Sizes = Sizes()) -> str:
    """Write every workload's inputs for ``seed`` under
    ``root/s<seed>-<key>`` unless already there; return that directory."""
    # keyed by seed, generator source and sizes: a changed generator
    # never reuses stale files
    with open(os.path.abspath(__file__), "rb") as fh:
        key = hashlib.sha256(fh.read() + repr(sizes).encode()).hexdigest()[:10]
    out = os.path.join(root, f"s{seed}-{key}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest: dict = {"seed": seed, "sizes": asdict(sizes)}
    step = sizes.live_interval_ms * 1_000_000 // sizes.live_msgs_per_file
    # one generator stream per input set, so resizing one leaves the others alone
    manifest["live"] = _etl_files(
        np.random.default_rng([seed, 1]), os.path.join(tmp, "live"),
        sizes.live_files, sizes.live_msgs_per_file, BASE_NS, step, FILE_MTIME0,
    )
    manifest["backlog"] = _etl_files(
        np.random.default_rng([seed, 2]), os.path.join(tmp, "backlog", "events.parquet"),
        sizes.backlog_files, sizes.backlog_msgs_per_file, BASE_NS, 1_000_000, FILE_MTIME0,
    )
    manifest["warm_live"] = _etl_files(
        np.random.default_rng([seed, 3]), os.path.join(tmp, "warm_live"),
        sizes.warm_live_files, sizes.warm_live_msgs_per_file, BASE_NS, 1_000_000, FILE_MTIME0,
    )
    manifest["warm_backlog"] = _etl_files(
        np.random.default_rng([seed, 6]), os.path.join(tmp, "warm_backlog"),
        sizes.warm_backlog_files, sizes.backlog_msgs_per_file, BASE_NS, 1_000_000, FILE_MTIME0,
    )
    for name, stream, n_files, per_file in (
        ("stateful", 4, sizes.stateful_files, sizes.stateful_events_per_file),
        ("warm_stateful", 5, 1, sizes.warm_stateful_events),
    ):
        files, beyond = make_stateful_events(np.random.default_rng([seed, stream]), n_files, per_file)
        d = os.path.join(tmp, name)
        os.makedirs(d)
        for f, cols in enumerate(files):
            _write(os.path.join(d, f"part-{f:05d}.parquet"), cols, FILE_MTIME0 + f)
        manifest[name] = {"files": n_files, "events": n_files * per_file, "beyond_wm": int(beyond.sum())}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    try:
        os.rename(tmp, out)
    except OSError:  # another process won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def publish(src: str, dst: str, names: list[str], t0: float, interval_s: float, report: str) -> None:
    """Open-loop publisher: file k becomes visible in ``dst`` at
    ``t0 + k * interval_s`` on the system-wide monotonic clock. Copies go
    through a staging directory and an atomic rename, so the file source
    never lists a half-written file."""
    stage = dst.rstrip("/") + ".stage"
    os.makedirs(stage, exist_ok=True)
    published = []
    for k, name in enumerate(names):
        due = t0 + k * interval_s
        shutil.copyfile(os.path.join(src, name), os.path.join(stage, name))
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage, name), os.path.join(dst, name))
        published.append(time.monotonic())
    with open(report, "w") as fh:
        json.dump({"t0": t0, "interval_s": interval_s, "published": published}, fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("publish", help="publish files on a fixed schedule")
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--names", required=True, help="comma-separated file names, in order")
    p.add_argument("--t0", type=float, required=True, help="time.monotonic() of the first publish")
    p.add_argument("--interval-s", type=float, required=True)
    p.add_argument("--report", required=True)
    args = ap.parse_args(argv)
    publish(args.src, args.dst, args.names.split(","), args.t0, args.interval_s, args.report)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
