"""Measurement plumbing kept outside the program: spans with self
times, the streaming progress listener, the status REST API reader
and the RSS sampler.

All timestamps are ``time.monotonic()`` seconds: the clock is
system-wide on Linux, so the publisher process and this one agree.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))
    return float(xs[k])


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


class Tracer:
    """In-memory spans: name, start, end, parent and a trace id shared by
    the spans of one batch or lane. ``enabled=False`` records nothing, so
    the untimed run pays only the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, trace: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.monotonic(), float("nan"), parent, trace, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.monotonic()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds. Self time is a
        span's duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, fh, indent=1)


class WallClockMap:
    """Maps progress ``timestamp``s (ISO-8601 UTC wall clock) onto the
    monotonic clock. Time sync may slew the wall clock against the
    monotonic one by milliseconds a second, or step it, while a run
    lasts, so one offset taken after the run would misplace earlier
    events: each timestamp uses the offset sampled nearest to it."""

    def __init__(self):
        self.marks: list[tuple[float, float]] = []  # (wall, monotonic - wall)

    def mark(self) -> None:
        wall = time.time()
        self.marks.append((wall, time.monotonic() - wall))

    def to_mono(self, iso: str) -> float:
        wall = datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
        if not self.marks:
            self.mark()
        return wall + min(self.marks, key=lambda m: abs(m[0] - wall))[1]


# MicroBatchExecution runs these phases in this order; progress reports
# only their durations, so spans lay them end to end from trigger start.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def batch_rows(progress: list[dict], clock: WallClockMap) -> list[dict]:
    """One row per micro-batch that read data: batch id, start and end
    on the monotonic clock, input rows, phase durations (ms) and state
    operator figures."""
    rows = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        start = clock.to_mono(p["timestamp"])
        dur = p.get("durationMs", {})
        rows.append({
            "batch": p["batchId"],
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "rows": p["numInputRows"],
            "ms": dur,
            "state": p.get("stateOperators") or [],
        })
    return rows


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]


def make_listener():
    """A StreamingQueryListener that keeps every progress event with
    its arrival time. Built lazily: importing pyspark's listener class
    is only needed by traced runs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[float, dict]] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.events.append((time.monotonic(), json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_run(self, run_id: str) -> list[dict]:
            with self.lock:
                return [p for _, p in self.events if p.get("runId") == run_id]

    return ProgressCollector()


def job_group_totals(spark, group: str) -> dict:
    """Job, stage and task totals over the jobs of one job group, from the
    driver's status REST API (served by the UI, which only the traced run
    enables)."""
    import urllib.request

    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as resp:
            return json.loads(resp.read())

    jobs = [j for j in get("jobs") if j.get("jobGroup") == group]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in get("stages?status=complete") if s["stageId"] in stage_ids]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
    }


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds Catalyst spent on
    ``df``'s plan (forces planning if it has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class RssSampler:
    """Peak resident memory of the driver JVM plus the Python workers it
    forks, polled from /proc on a daemon thread. Other descendants are
    skipped: the JVM runs short-lived helpers (``chmod`` for local file
    permissions), and in the moment between spawn and exec such a child
    still reports the JVM's whole address space as its own."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.root: int | None = None
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # process name -> bytes at the peak
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        # the same thread marks the wall clock against the monotonic one
        self.clock = WallClockMap()

    def start(self, root_pid: int) -> None:
        self.root = root_pid
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def sample(self) -> int:
        total = 0
        parts: dict[str, int] = {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            if pid != self.root and not comm.startswith("python"):
                continue
            total += rss
            parts[comm] = parts.get(comm, 0) + rss
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts
        self.samples += 1
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.clock.mark()
            self.sample()
