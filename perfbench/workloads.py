"""The benchmark's workloads. Each one drives the engine only through its
public functions (``session.get_spark``, ``streaming.runner``,
``streaming.sink.ParquetBulkTransport``, the stateful builders in
``streaming/`` and the ``__spark_entry__`` lanes) and returns its
end-to-end samples, its per-layer figures and its correctness checks.

Why each workload exists is in README.md next to this file.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import gen
import oracle
from tracing import batch_rows, catalyst_phases, job_group_totals, median, percentile, progress_of

mono = time.monotonic

TRIGGER_MS = 100  # etl-live trigger: shorter than any batch takes
LIVE_WINDOW_S = 3  # etl-live latency is summarised per 3 s window of the schedule
QUERY_TIMEOUT_S = 120
GEN_LATENESS_BOUND_MS = 250.0
WM_DELAY_S = 120
SESSION_GAP_S = 60
JOIN_DURATION_S = 10
GCRA_LIMIT = 5  # per second, every app
# the stateful operators, split between the two traced runs so that
# neither nears the time one run may take
STATEFUL_OPS_LIVE = ("sessionize", "dedup")
STATEFUL_OPS_BACKLOG = ("interval_join", "gcra")
# events-only __spark_entry__ lanes, run over the etl-backlog input in
# the traced run for the plans/operators and Catalyst layers
LANES = ("q_etl_chain", "q_sessionize")
# lanes whose DuckDB oracle accepts this input: q_etl_chain's oracle
# parses every payload with DuckDB's JSON functions, which raise on the
# malformed payloads the generator plants, so that lane is timed only
ORACLED_LANES = ("q_sessionize",)


@dataclass
class Check:
    name: str
    attempted: int
    failed: int
    detail: str = ""


@dataclass
class Result:
    """What one measured pass produced."""

    # one list per drain or schedule window: each is summarised on its
    # own and the run reports the median summary, so one slow stretch of
    # a bursty host moves a run's figure less
    latencies_ms: list[list[float]] = field(default_factory=list)
    throughput: list[float] = field(default_factory=list)  # msgs/s, one per drain
    attempted: int = 0
    checks: list[Check] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


class Ctx:
    """What a workload needs from the run: the session, the tracer, the
    seeded inputs and a scratch area."""

    def __init__(self, spark, tracer, traced: bool, inputs: str, work: str, seconds: int,
                 cores: int, sampler):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.inputs = inputs
        self.work = work
        self.seconds = seconds
        self.cores = cores
        self.sampler = sampler
        self.clock = sampler.clock
        self.listener = None  # set before the measured pass of a traced run
        with open(os.path.join(inputs, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self._n = 0

    def end_measure(self) -> None:
        """Close the measured window (checks and isolated layer timings
        come after it): the peak RSS so far."""
        self.sampler.sample()
        self.peak_rss_bytes, self.rss_samples = self.sampler.peak_bytes, self.sampler.samples
        self.peak_rss_parts = dict(self.sampler.peak_parts)

    def spark_layer(self, q, wall_s: float) -> dict[str, float]:
        """Executor totals over the jobs of one streaming query (the
        engine runs them in a job group named after the query's run id)."""
        tot = job_group_totals(self.spark, str(q.runId))
        layer = {f"spark.{k}": tot[k] for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_mb")}
        layer["spark.cpu_busy_share"] = tot["cpu_s"] / (wall_s * self.cores)
        return layer

    def fresh(self, tag: str) -> str:
        """A new empty directory under the run's work area."""
        self._n += 1
        path = os.path.join(self.work, f"{self._n:03d}-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def progress(self, q) -> list[dict]:
        """Progress of a finished query: from the registered listener in
        the traced run, else the query's own recent-progress buffer."""
        own = progress_of(q)
        if self.listener is None:
            return own
        # listener events arrive asynchronously: wait for the last ones
        deadline = mono() + 10
        while len(events := self.listener.for_run(str(q.runId))) < len(own) and mono() < deadline:
            time.sleep(0.05)
        return events


class TimedTransport:
    """Delegating sink wrapper: records when each batch's bulk write
    started and returned."""

    def __init__(self, inner):
        self.inner = inner
        self.writes: dict[int, tuple[float, float]] = {}

    def write(self, batch_df, batch_id: int) -> None:
        t = mono()
        self.inner.write(batch_df, batch_id)
        self.writes[batch_id] = (t, mono())


def etl_config():
    from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig, RewriteRule

    return PipelineConfig(
        global_filters=(gen.GLOBAL_FILTER,),
        namespace_filters={gen.NAMESPACE_FILTER_TOPIC: (gen.NAMESPACE_FILTER,)},
        rewrite_rules=tuple(RewriteRule(p, t) for p, t in gen.REWRITE_RULES),
        debug_log_patterns=gen.DEBUG_PATTERNS,
        flush_interval_ms=TRIGGER_MS,
    )


def _await(q, what: str) -> None:
    if not q.awaitTermination(QUERY_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"{what}: query did not finish within {QUERY_TIMEOUT_S}s")
    if q.exception() is not None:
        raise RuntimeError(f"{what}: query failed: {q.exception()}")


def files_by_batch(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in the query checkpoint."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _expected(files: list[dict]) -> dict[str, list[int]]:
    total: dict[str, list[int]] = {}
    for f in files:
        for idx, (n, n_debug) in f["expect"].items():
            t = total.setdefault(idx, [0, 0])
            t[0] += n
            t[1] += n_debug
    return total


def check_sink(spark, out: str, files: list[dict], name: str) -> Check:
    """The sink's row count (and debug count) per index equals what the
    generator expects for the files it was given."""
    from pyspark.sql import functions as F

    want = _expected(files)
    got = {
        r["index"]: [r["n"], r["n_debug"]]
        for r in spark.read.parquet(out).groupBy("index")
        .agg(F.count("*").alias("n"), F.sum(F.col("is_debug").cast("int")).alias("n_debug"))
        .collect()
    }
    bad = sorted(set(want) | set(got))
    failed = sum(abs(want.get(i, [0, 0])[0] - got.get(i, [0, 0])[0]) for i in bad)
    failed += sum(abs(want.get(i, [0, 0])[1] - got.get(i, [0, 0])[1]) for i in bad)
    detail = "" if not failed else f"want {want} got {got}"
    return Check(name, sum(f["msgs"] for f in files), failed, detail)


def sink_stats(out: str) -> dict[str, float]:
    files = n_bytes = 0
    indexes = set()
    for root, _, names in os.walk(out):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(root, n))
                indexes.add(os.path.basename(root))
    return {"sink.files": files, "sink.bytes_mb": n_bytes / 1e6, "sink.indexes": len(indexes)}


def _phase_p50(batches: list[dict], phase: str) -> float:
    vals = [b["ms"].get(phase, 0) for b in batches]
    return median(vals) if vals else 0.0


def runner_layer(batches: list[dict], wall_s: float) -> dict[str, float]:
    trig = [b["ms"].get("triggerExecution", 0) for b in batches]
    return {
        "runner.batches": len(batches),
        "runner.trigger_ms_p50": median(trig) if trig else 0.0,
        "runner.trigger_ms_p99": percentile(trig, 99) if trig else 0.0,
        "runner.add_batch_ms_p50": _phase_p50(batches, "addBatch"),
        "runner.query_planning_ms_p50": _phase_p50(batches, "queryPlanning"),
        "runner.wal_commit_ms_p50": _phase_p50(batches, "walCommit"),
        "runner.commit_offsets_ms_p50": _phase_p50(batches, "commitOffsets"),
        "runner.idle_share": max(0.0, 1.0 - sum(trig) / 1000.0 / wall_s) if wall_s > 0 else 0.0,
        "sources.latest_offset_ms_p50": _phase_p50(batches, "latestOffset"),
        "sources.get_batch_ms_p50": _phase_p50(batches, "getBatch"),
        "sources.rows_per_batch_p50": median([b["rows"] for b in batches]) if batches else 0.0,
    }


def trace_batches(ctx: Ctx, batches: list[dict], parent, trace_prefix: str,
                  writes: dict[int, tuple[float, float]] | None = None) -> None:
    """Spans for each micro-batch: the trigger, its phases laid end to
    end from the trigger start, and the sink write inside addBatch."""
    from tracing import BATCH_PHASES

    for b in batches:
        tid = f"{trace_prefix}/batch{b['batch']}"
        bid = ctx.tracer.add("runner.trigger", b["start"], b["end"], parent, tid)
        t = b["start"]
        for ph in BATCH_PHASES:
            d = b["ms"].get(ph, 0) / 1000.0
            layer = "sources" if ph in ("latestOffset", "getBatch") else "runner"
            pid = ctx.tracer.add(f"{layer}.{ph}", t, t + d, bid, tid)
            if ph == "addBatch" and writes and b["batch"] in writes:
                ws, we = writes[b["batch"]]
                ctx.tracer.add("sink.write", ws, we, pid, tid)
            t += d


# ---------------------------------------------------------------- ETL


def _start_etl(ctx: Ctx, src: str, transport, ckpt: str, available_now: bool,
               files_per_trigger: int | None = None):
    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import (
        read_events_stream,
        run_pipeline_stream,
    )

    return run_pipeline_stream(
        ctx.spark, etl_config(), read_events_stream(ctx.spark, src, files_per_trigger),
        transport, ckpt, available_now=available_now,
    )


def _sink(out: str) -> TimedTransport:
    from pulsar_elasticsearch_sync_rs_spark.streaming.sink import ParquetBulkTransport

    return TimedTransport(ParquetBulkTransport(out))


def warm_etl_backlog(ctx: Ctx) -> None:
    q = _start_etl(ctx, os.path.join(ctx.inputs, "warm_backlog"), _sink(ctx.fresh("warm-out")),
                   ctx.fresh("warm-ckpt"), True, ctx.manifest["sizes"]["backlog_files_per_trigger"])
    _await(q, "warm-up drain")


def warm_etl_live(ctx: Ctx) -> None:
    q = _start_etl(ctx, os.path.join(ctx.inputs, "warm_live"), _sink(ctx.fresh("warm-out")),
                   ctx.fresh("warm-ckpt"), False, 1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def measure_etl_backlog(ctx: Ctx) -> Result:
    """Drain the whole backlog with ``availableNow`` in admission-limited
    batches, again and again on fresh checkpoints, until the run's
    seconds are used. The whole backlog is due when its drain starts, so
    the latency of a message is the drain's start to the return of the
    sink write of the batch that carried it."""
    res = Result()
    files = ctx.manifest["backlog"]
    per_trigger = ctx.manifest["sizes"]["backlog_files_per_trigger"]
    src = os.path.join(ctx.inputs, "backlog", "events.parquet")
    n_msgs = sum(f["msgs"] for f in files)
    t_begin = mono()
    drains = []
    # another drain only if at least half of it fits in the run's seconds
    while not drains or mono() - t_begin + drains[-1][4] / 2 < ctx.seconds:
        out, ckpt = ctx.fresh("out"), ctx.fresh("ckpt")
        transport = _sink(out)
        with ctx.tracer.span("drain", trace=f"drain{len(drains)}") as sp:
            t0 = mono()
            q = _start_etl(ctx, src, transport, ckpt, True, per_trigger)
            _await(q, "backlog drain")
            wall = mono() - t0
        drains.append((out, ckpt, transport, t0, wall, q, sp))
        res.throughput.append(n_msgs / wall)
        res.attempted += n_msgs
    ctx.end_measure()
    for i, (out, ckpt, transport, t0, wall, q, sp) in enumerate(drains):
        batch_of = files_by_batch(ckpt)
        lat: list[float] = []
        for f in files:
            n = sum(v[0] for v in f["expect"].values())
            lat.extend([(transport.writes[batch_of[f["name"]]][1] - t0) * 1000.0] * n)
        res.latencies_ms.append(lat)
        res.checks.append(check_sink(ctx.spark, out, files, f"etl-backlog drain {i}"))
    if ctx.traced:
        out, ckpt, transport, t0, wall, q, sp = drains[-1]
        batches = batch_rows(ctx.progress(q), ctx.clock)
        trace_batches(ctx, batches, sp, f"drain{len(drains) - 1}", transport.writes)
        res.layer.update(etl_layer(batches, wall, transport, out, files))
        res.layer.update(ctx.spark_layer(q, wall))
        lags = [(b["start"] - t0) * 1000.0 for b in batches]  # the whole backlog is due at t0
        res.layer["sources.lag_p99_ms"] = percentile(lags, 99)
        res.layer["sources.backlog_files_max"] = len(files)
        res.layer.update(gen_layer(files, []))
        res.layer.update(isolated_etl_layers(ctx))
        res.checks.extend(check_lanes(ctx))
        layer, checks = stateful_layers(ctx, STATEFUL_OPS_BACKLOG)
        res.layer.update(layer)
        res.checks.extend(checks)
    return res


def measure_etl_live(ctx: Ctx) -> Result:
    """Open loop: the publisher process makes one file visible every
    ``live_interval_ms`` for the run's seconds while the query runs with
    a short processing-time trigger. Latency of a message: its file's
    due time to the return of the sink write of the batch that read it."""
    res = Result()
    sizes = ctx.manifest["sizes"]
    interval_s = sizes["live_interval_ms"] / 1000.0
    n_files = min(len(ctx.manifest["live"]), math.ceil(ctx.seconds / interval_s))
    files = ctx.manifest["live"][:n_files]
    src, out, ckpt = ctx.fresh("src"), ctx.fresh("out"), ctx.fresh("ckpt")
    report = os.path.join(ctx.work, "publish.json")
    transport = _sink(out)
    q = _start_etl(ctx, src, transport, ckpt, False)
    try:
        with ctx.tracer.span("open-loop", trace="live") as sp:
            t0 = mono() + 0.5
            pub = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
                 "publish", "--src", os.path.join(ctx.inputs, "live"), "--dst", src,
                 "--names", ",".join(f["name"] for f in files), "--t0", repr(t0),
                 "--interval-s", repr(interval_s), "--report", report],
            )
            try:
                rc = pub.wait(timeout=ctx.seconds + 60)
            finally:
                if pub.poll() is None:
                    pub.kill()
                    pub.wait()
            if rc != 0:
                raise RuntimeError(f"publisher exited with {rc}")
            q.processAllAvailable()
            t_end = mono()
    finally:
        q.stop()
    ctx.end_measure()
    with open(report) as fh:
        published = json.load(fh)["published"]
    due = [t0 + k * interval_s for k in range(n_files)]
    lateness_ms = [(p - d) * 1000.0 for p, d in zip(published, due)]
    batch_of = files_by_batch(ckpt)
    n_indexed = 0
    missing = 0
    last_end = t0
    windows = max(1, round(n_files * interval_s / LIVE_WINDOW_S))
    res.latencies_ms = [[] for _ in range(windows)]
    for k, f in enumerate(files):
        n = sum(v[0] for v in f["expect"].values())
        b = batch_of.get(f["name"])
        if b in transport.writes:
            end = transport.writes[b][1]
            n_indexed += n
            last_end = max(last_end, end)
        else:
            end = t_end
            missing += n
        res.latencies_ms[k * windows // n_files].extend([(end - due[k]) * 1000.0] * n)
    res.throughput.append(n_indexed / (last_end - t0))
    res.attempted = sum(f["msgs"] for f in files)
    res.checks.append(check_sink(ctx.spark, out, files, "etl-live sink"))
    if missing:
        res.checks.append(Check("etl-live unindexed", n_indexed + missing, missing))
    gen_p99 = percentile(lateness_ms, 99)
    res.checks.append(Check(
        "generator on time", n_files, int(gen_p99 > GEN_LATENESS_BOUND_MS),
        f"lateness p99 {gen_p99:.1f} ms > bound {GEN_LATENESS_BOUND_MS} ms" if gen_p99 > GEN_LATENESS_BOUND_MS else "",
    ))
    if ctx.traced:
        batches = batch_rows(ctx.progress(q), ctx.clock)
        trace_batches(ctx, batches, sp, "live", transport.writes)
        res.layer.update(etl_layer(batches, t_end - t0, transport, out, files))
        res.layer.update(ctx.spark_layer(q, t_end - t0))
        start_of = {b["batch"]: b["start"] for b in batches}
        lags = [(start_of[batch_of[f["name"]]] - due[k]) * 1000.0
                for k, f in enumerate(files) if batch_of.get(f["name"]) in start_of]
        res.layer["sources.lag_p99_ms"] = percentile(lags, 99) if lags else 0.0
        res.layer["sources.backlog_files_max"] = max(
            (sum(1 for k, f in enumerate(files) if published[k] <= b["start"]
                 and batch_of.get(f["name"], 1 << 62) >= b["batch"]) for b in batches),
            default=0,
        )
        res.layer.update(gen_layer(files, lateness_ms))
        layer, checks = stateful_layers(ctx, STATEFUL_OPS_LIVE)
        res.layer.update(layer)
        res.checks.extend(checks)
    return res


def etl_layer(batches, wall_s, transport, out, files) -> dict[str, float]:
    layer = runner_layer(batches, wall_s)
    writes = [(e - s) * 1000.0 for s, e in transport.writes.values()]
    add_ms = sum(b["ms"].get("addBatch", 0) for b in batches)
    layer["sink.write_ms_p50"] = median(writes) if writes else 0.0
    layer["sink.write_share"] = sum(writes) / add_ms if add_ms else 0.0
    layer.update(sink_stats(out))
    rows_out = sum(sum(v[0] for v in f["expect"].values()) for f in files)
    layer["pipeline.rows_out"] = rows_out
    layer["pipeline.rows_dropped"] = sum(f["msgs"] for f in files) - rows_out
    return layer


def gen_layer(files: list[dict], lateness_ms: list[float]) -> dict[str, float]:
    return {
        "gen.msgs": sum(f["msgs"] for f in files),
        "gen.files": len(files),
        "gen.lateness_p99_ms": percentile(lateness_ms, 99) if lateness_ms else 0.0,
    }


def isolated_etl_layers(ctx: Ctx) -> dict[str, float]:
    """Layers timed on their own over a static read of the backlog:
    chain construction, the chain alone (noop write), the sink's encode
    (parquet write of a cached chain output), and two events-only lanes
    of ``__spark_entry__`` with their Catalyst phases and job counts."""
    import __spark_entry__ as entry
    from pulsar_elasticsearch_sync_rs_spark.plans.pipeline import etl_transform
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import events_as_stream_records
    from pulsar_elasticsearch_sync_rs_spark.streaming.sink import ParquetBulkTransport

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    root = os.path.join(ctx.inputs, "backlog")
    layer: dict[str, float] = {}
    records = events_as_stream_records(spark, root)
    with tr.span("pipeline.build", trace="chain"):
        t = mono()
        chain = etl_transform(records, etl_config())
        layer["pipeline.build_ms"] = (mono() - t) * 1000.0
    sc.setJobGroup("pipeline.chain", "pipeline.chain")
    with tr.span("pipeline.chain", trace="chain"):
        t = mono()
        chain.write.format("noop").mode("overwrite").save()
        layer["pipeline.chain_s"] = mono() - t
    sc.setJobGroup("sink.encode", "sink.encode")
    cached = chain.select("event_id", "value", "topic_short", "publish_time", "doc", "at_timestamp",
                          "date_str", "index", "app", "is_debug", "n_fields").persist()
    try:
        cached.count()
        with tr.span("sink.encode", trace="encode"):
            t = mono()
            ParquetBulkTransport(ctx.fresh("encode")).write(cached, 0)
            layer["sink.encode_s"] = mono() - t
    finally:
        cached.unpersist()
    queries = {**entry.queries(), **entry.extra_queries()}
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for name in LANES:
        with tr.span("lane", trace=name) as sp:
            sc.setJobGroup(f"{name}.build", name)
            with tr.span("plans.build", parent=sp, trace=name):
                t = mono()
                df = queries[name](spark, root)
                layer[f"lane.{name}.build_s"] = mono() - t
            sc.setJobGroup(f"{name}.action", name)
            with tr.span("plans.action", parent=sp, trace=name):
                t = mono()
                df.write.format("noop").mode("overwrite").save()
                layer[f"lane.{name}.action_s"] = mono() - t
        for k, v in catalyst_phases(df).items():
            phases[k] += v
        build_jobs = len(tracker.getJobIdsForGroup(f"{name}.build"))
        layer[f"lane.{name}.build_jobs"] = build_jobs
        layer[f"lane.{name}.jobs"] = build_jobs + len(tracker.getJobIdsForGroup(f"{name}.action"))
    sc.setJobGroup("perfbench", "perfbench")
    layer["plans.analysis_ms"] = phases["analysis"]
    layer["plans.optimization_ms"] = phases["optimization"]
    layer["plans.planning_ms"] = phases["planning"]
    return layer


def check_lanes(ctx: Ctx) -> list[Check]:
    """Each oracled lane's rows equal its DuckDB oracle over the same
    files (row count, column names, order-insensitive value hash)."""
    import duckdb

    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_oracle import table_hash

    root = os.path.join(ctx.inputs, "backlog")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{root}/events.parquet/*.parquet'")
    queries = {**entry.queries(), **entry.extra_queries()}
    oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
    checks = []
    for name in ORACLED_LANES:
        df = queries[name](ctx.spark, root)
        srows, scols = df.collect(), df.columns
        cur = con.execute(oracles[name])
        orows, ocols = cur.fetchall(), [d[0] for d in cur.description]
        ok = (len(srows) == len(orows) and sorted(scols) == sorted(ocols)
              and table_hash(srows, scols) == table_hash(orows, ocols))
        checks.append(Check(f"lane {name} vs oracle", len(orows), 0 if ok else max(1, abs(len(srows) - len(orows))),
                            "" if ok else f"spark {len(srows)} rows, oracle {len(orows)}"))
    con.close()
    return checks


# ------------------------------------------------------------ stateful


def _to_parquet(df, ckpt: str, out: str):
    return (df.writeStream.outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).format("parquet").option("path", out).start())


def start_stateful(ctx: Ctx, op: str, src: str, ckpt: str, out: str):
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import read_events_stream

    s = read_events_stream(ctx.spark, src, 1)
    delay = f"{WM_DELAY_S} seconds"
    if op == "sessionize":
        from pulsar_elasticsearch_sync_rs_spark.streaming.sessions import sessionize_stream

        df = sessionize_stream(s.select("user_id", F.col("publish_time").alias("ts")),
                               gap=f"{SESSION_GAP_S} seconds", watermark_delay=delay)
        df = df.select("user_id", F.unix_micros("session_start").alias("start_us"),
                       F.unix_micros("session_end").alias("end_us"), "n_events")
    elif op == "dedup":
        from pulsar_elasticsearch_sync_rs_spark.streaming.stream_dedup import dedup_stream_by_content

        df = dedup_stream_by_content(s, text_col="value", ts_col="publish_time",
                                     watermark_delay=delay).select("event_id", "value")
    elif op == "interval_join":
        from pulsar_elasticsearch_sync_rs_spark.streaming.interval_join import stream_interval_join

        base = s.select("event_id", F.element_at(F.split("topic", "/"), -1).alias("app"),
                        F.col("publish_time").alias("ts"))
        ivs = base.filter(F.col("app") == "error").select(
            F.col("event_id").alias("error_id"), F.col("ts").alias("w_start"))
        pts = base.filter(F.col("app") == "signup").select(
            F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts"))
        df = stream_interval_join(pts, ivs, "s_ts", "w_start", JOIN_DURATION_S,
                                  watermark_delay=delay).select("error_id", "signup_id")
    elif op == "gcra":
        from pulsar_elasticsearch_sync_rs_spark.streaming.rate_limit_state import rate_limit_stream_gcra

        ev = s.select("event_id", F.element_at(F.split("topic", "/"), -1).alias("app"),
                      F.col("publish_time").alias("ts"))
        df = rate_limit_stream_gcra(ev, {a: GCRA_LIMIT for a in gen.STATEFUL_APPS}).select("event_id")
    else:
        raise ValueError(op)
    return _to_parquet(df, ckpt, out)


def _diff(want: list, got: list) -> int:
    from collections import Counter

    w, g = Counter(want), Counter(got)
    return sum(((w - g) + (g - w)).values())


def check_stateful(ctx: Ctx, op: str, out: str, ev) -> Check:
    rows = ctx.spark.read.parquet(out).toPandas()
    if op == "sessionize":
        want = oracle.sessions(ev, SESSION_GAP_S, WM_DELAY_S)
        got = list(zip(rows["user_id"].tolist(), rows["start_us"].tolist(),
                       rows["end_us"].tolist(), rows["n_events"].tolist()))
    elif op == "dedup":
        want, got = oracle.dedup(ev, WM_DELAY_S), rows["value"].tolist()
    elif op == "interval_join":
        want = [tuple(p) for p in oracle.interval_pairs(ev, JOIN_DURATION_S, WM_DELAY_S).tolist()]
        got = list(zip(rows["error_id"].tolist(), rows["signup_id"].tolist()))
    else:
        want = oracle.gcra_admitted(ev, {a: GCRA_LIMIT for a in gen.STATEFUL_APPS}).tolist()
        got = rows["event_id"].tolist()
    failed = _diff(want, got)
    return Check(f"stateful {op} vs batch recomputation", len(want), failed,
                 f"{len(want)} expected rows, {len(got)} produced" if failed else "")


def stateful_layers(ctx: Ctx, ops: tuple[str, ...]) -> tuple[dict[str, float], list[Check]]:
    """The stateful operators ``ops`` in series, each draining the same
    Zipf-skewed, duplicated, out-of-order events in one micro-batch per
    file so state carries across commits; each output is checked against
    a batch recomputation. Measured after a one-file warm-up of each
    operator, outside the end-to-end window (see README.md)."""
    warm = os.path.join(ctx.inputs, "warm_stateful")
    for op in ops:
        _await(start_stateful(ctx, op, warm, ctx.fresh("warm-ckpt"), ctx.fresh("warm-out")), op)
    src = os.path.join(ctx.inputs, "stateful")
    layer: dict[str, float] = {}
    checks: list[Check] = []
    ev = oracle.load_events(src)
    beyond = int(oracle.late_mask(ev, WM_DELAY_S).sum())
    if beyond != ctx.manifest["stateful"]["beyond_wm"]:
        raise RuntimeError(f"oracle watermark replay finds {beyond} late events, "
                           f"generator planted {ctx.manifest['stateful']['beyond_wm']}")
    for op in ops:
        out, ckpt = ctx.fresh(f"{op}-out"), ctx.fresh(f"{op}-ckpt")
        with ctx.tracer.span(f"{op}.drain", trace=op) as sp:
            t0 = mono()
            q = start_stateful(ctx, op, src, ckpt, out)
            _await(q, op)
            wall = mono() - t0
        batches = batch_rows(ctx.progress(q), ctx.clock)
        trace_batches(ctx, batches, sp, op)
        layer.update(state_figures(op, batches, wall))
        checks.append(check_stateful(ctx, op, out, ev))
        if len(batches) < ctx.manifest["stateful"]["files"]:
            checks.append(Check(f"stateful {op} micro-batches", 1, 1,
                                f"{len(batches)} data batches < {ctx.manifest['stateful']['files']} files"))
        dropped = layer[f"{op}.rows_dropped_by_watermark"]
        if op == "dedup" and dropped != beyond:
            checks.append(Check("dedup rows dropped by watermark", beyond, abs(dropped - beyond),
                                f"engine dropped {dropped}, late events {beyond}"))
    return layer, checks


def state_figures(op: str, batches: list[dict], wall: float) -> dict[str, float]:
    def per_batch(key):
        return [sum(o.get(key, 0) for o in b["state"]) for b in batches]

    commits = per_batch("commitTimeMs")
    return {
        f"{op}.wall_s": wall,
        f"{op}.state_rows_max": max(per_batch("numRowsTotal"), default=0),
        f"{op}.state_mem_mb_max": max(per_batch("memoryUsedBytes"), default=0) / 1e6,
        f"{op}.commit_ms_p50": median(commits) if commits else 0.0,
        f"{op}.rows_updated": sum(per_batch("numRowsUpdated")),
        f"{op}.rows_dropped_by_watermark": sum(per_batch("numRowsDroppedByWatermark")),
    }


@dataclass(frozen=True)
class Workload:
    name: str
    why: str  # the line BENCHMARK.json carries
    warm: Callable[[Ctx], None]
    measure: Callable[[Ctx], Result]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("etl-live",
                 "open-loop small files at a fixed rate: per-micro-batch fixed cost sets index freshness",
                 warm_etl_live, measure_etl_live),
        Workload("etl-backlog",
                 "pre-written backlog drained in 10 large admission-limited batches: per-row chain and encode cost",
                 warm_etl_backlog, measure_etl_backlog),
    )
}
