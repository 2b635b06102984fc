"""Benchmark entry point.

    python3 perfbench/run.py --workload etl-backlog --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench/inputs/s<seed>-<key>`` (reused by later runs with the
same seed and generator); everything else the run writes goes under ``.perfbench/`` and is
removed at the end, except the result and trace files. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# name -> (unit, better). BENCHMARK.json must list exactly these
# (tests/test_perfbench.py checks it).
E2E_METRICS = {
    "latency_p50_ms": ("ms", "lower"),
    "latency_p99_ms": ("ms", "lower"),
    "throughput_msgs_per_s": ("msgs/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}
_OPS = ("sessionize", "dedup", "interval_join", "gcra")
_LANES = ("q_etl_chain", "q_sessionize")
LAYER_METRICS = {
    "session.get_spark_s": ("s", "lower"),
    "sources.latest_offset_ms_p50": ("ms", "lower"),
    "sources.get_batch_ms_p50": ("ms", "lower"),
    "sources.rows_per_batch_p50": ("count", "higher"),
    "sources.lag_p99_ms": ("ms", "lower"),
    "sources.backlog_files_max": ("count", "lower"),
    "pipeline.build_ms": ("ms", "lower"),
    "pipeline.chain_s": ("s", "lower"),
    "pipeline.rows_out": ("count", "higher"),
    "pipeline.rows_dropped": ("count", "lower"),
    "runner.batches": ("count", "lower"),
    "runner.trigger_ms_p50": ("ms", "lower"),
    "runner.trigger_ms_p99": ("ms", "lower"),
    "runner.add_batch_ms_p50": ("ms", "lower"),
    "runner.query_planning_ms_p50": ("ms", "lower"),
    "runner.wal_commit_ms_p50": ("ms", "lower"),
    "runner.commit_offsets_ms_p50": ("ms", "lower"),
    "runner.idle_share": ("ratio", "higher"),
    "sink.write_ms_p50": ("ms", "lower"),
    "sink.write_share": ("ratio", "lower"),
    "sink.encode_s": ("s", "lower"),
    "sink.files": ("count", "lower"),
    "sink.bytes_mb": ("MB", "lower"),
    "sink.indexes": ("count", "higher"),
    **{
        f"{op}.{m}": spec
        for op in _OPS
        for m, spec in (
            ("wall_s", ("s", "lower")),
            ("state_rows_max", ("count", "lower")),
            ("state_mem_mb_max", ("MB", "lower")),
            ("commit_ms_p50", ("ms", "lower")),
            ("rows_updated", ("count", "lower")),
            ("rows_dropped_by_watermark", ("count", "lower")),
        )
    },
    **{
        f"lane.{q}.{m}": spec
        for q in _LANES
        for m, spec in (
            ("build_s", ("s", "lower")),
            ("action_s", ("s", "lower")),
            ("jobs", ("count", "lower")),
            ("build_jobs", ("count", "lower")),
        )
    },
    "plans.analysis_ms": ("ms", "lower"),
    "plans.optimization_ms": ("ms", "lower"),
    "plans.planning_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.cpu_busy_share": ("ratio", "lower"),
    "gen.msgs": ("count", "higher"),
    "gen.files": ("count", "higher"),
    "gen.lateness_p99_ms": ("ms", "lower"),
}
# One Spark task thread. A shared host may give this machine far less
# CPU than its cores suggest, and changes how much from one minute to the
# next (see README.md, "Bounds and steadiness"): a run that needs several
# cores at once reads that share, one that needs one core reads the
# program.
SPARK_CORES = 1
# counts that must repeat exactly between two traced runs of one seed
# (spark.* cover the jobs of one drain on etl-backlog)
EXACT_COUNTS = {
    "etl-backlog": ["spark.jobs", "spark.stages", "spark.tasks", "runner.batches"]
    + [f"lane.{q}.{m}" for q in _LANES for m in ("jobs", "build_jobs")],
    "etl-live": [],
}


def host_facts(root: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # a quarter of the host, at most 1g: the workloads' batches need far
    # less, and a larger cap lets the heap's high-water mark (most of
    # peak_rss_mb) follow GC timing on a busy host rather than the work
    heap_mb = max(256, min(1024, mem_kb // (4 * 1024)))
    # the package's and the benchmark's sources: two results compare
    # (exact counts, tracing overhead) only when both are the same
    src = hashlib.sha256()
    for top in (os.path.join(root, "pulsar_elasticsearch_sync_rs_spark"), HERE):
        for dirpath, _, names in sorted(os.walk(top)):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(dirpath, n), "rb") as fh:
                        src.update(fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {"cores": cores, "spark_cores": SPARK_CORES, "heap": f"{heap_mb}m", "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
            "commit": commit, "source_sha256": src.hexdigest()[:16], "spark": pyspark.__version__,
            "python": platform.python_version()}


def _spin(n: int) -> float:
    t = time.process_time()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.process_time() - t


def yardstick(procs: int = 4) -> dict[str, float]:
    """The host's state at the time, recorded beside the metrics (it is
    not one of them), so that a shift between two sets of runs can be told
    from a change: ``procs`` processes each spin a fixed loop at once;
    ``cpu_s`` is the CPU one loop needs, ``cores`` how many cores' worth
    of CPU the processes got together (``procs`` on an idle host)."""
    from multiprocessing import get_context

    with get_context("fork").Pool(procs) as pool:
        pool.map(_spin, [1] * procs)  # every worker started
        t = time.perf_counter()
        cpu = pool.map(_spin, [3_000_000] * procs)
    return {"cpu_s": statistics.median(cpu), "cores": sum(cpu) / (time.perf_counter() - t)}


def spark_conf(root: str, traced: bool) -> dict:
    tmp = os.path.join(root, ".perfbench", "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # no perf-data file: the JVM would write it under /tmp; GC threads
        # no more than the task threads (the JVM's default is one per core);
        # a fixed young generation, so the heap's resident high-water mark
        # follows the data the program keeps, not G1's pause-time
        # ergonomics (which resize it by how long pauses took on the host)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-XX:ParallelGCThreads={SPARK_CORES} -XX:ConcGCThreads=1 "
                                         "-Xmn256m",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def same_code(prev: dict | None, facts: dict) -> dict | None:
    """``prev`` if it is a result of the same sources, else None."""
    return prev if prev and prev["host"]["source_sha256"] == facts["source_sha256"] else None


def exact_count_repeat(workload: str, layer: dict, prev: dict | None) -> dict:
    """The exact counts of this traced run against the previous traced
    run of the same seed and sources ({} when there is none)."""
    if not prev:
        return {}
    return {k: {"now": float(layer.get(k, 0.0)), "previous": prev["per_layer"].get(k),
                "repeats": float(layer.get(k, 0.0)) == prev["per_layer"].get(k)}
            for k in EXACT_COUNTS[workload]}


def traced_report(workload: str, tag: str, layer: dict, e2e: dict, tracer, record: dict,
                  cache: str, base: dict | None, repeat: dict) -> dict[str, float]:
    """Complete the traced run's record (per-layer metrics, self times,
    tracing overhead against ``base``, the exact-count repeat), write the
    span file and print the report; return every per-layer metric."""
    unknown = sorted(set(layer) - set(LAYER_METRICS))
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from LAYER_METRICS: {unknown}")
    values = {k: float(layer.get(k, 0.0)) for k in LAYER_METRICS}
    not_exercised = sorted(set(LAYER_METRICS) - set(layer))
    record["per_layer"] = values
    record["not_exercised"] = {k: f"{workload} does not run this layer" for k in not_exercised}
    record["self_times"] = tracer.self_times()
    record["tracing_overhead"] = (
        {k: e2e[k][0] / base["end_to_end"][k]["value"] - 1.0 for k in e2e}
        if base else "no untraced result of this seed and these sources in this checkout"
    )
    record["exact_count_repeat"] = repeat or "no earlier traced run of this seed and these sources"
    traces = os.path.join(cache, "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{tag}.spans.json"))
    print(f"# spans: {os.path.join('.perfbench', 'traces', tag + '.spans.json')}")
    for name, agg in sorted(record["self_times"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"# span {name}: n={agg['count']} total={agg['total_s']:.3f}s self={agg['self_s']:.3f}s")
    if base:
        for k, v in record["tracing_overhead"].items():
            print(f"# tracing overhead {k}: {v:+.1%}")
    for k, r in repeat.items():
        print(f"# exact count {k}: {r['now']} vs {r['previous']} -> {'repeats' if r['repeats'] else 'DIFFERS'}")
    for k in not_exercised:
        print(f"# {k}: 0 ({record['not_exercised'][k]})")
    return values


def load_json(path: str):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="pulsar-es-sync benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    # refuse early, writing nothing, when the checkout lacks the program
    for needed in ("BENCHMARK.json", "__spark_entry__.py", "pulsar_elasticsearch_sync_rs_spark"):
        if not os.path.exists(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found in {root}; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS, Check, Ctx  # noqa: E402

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    traced = bool(args.trace)
    cache = os.path.join(root, ".perfbench")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    facts = host_facts(root)
    os.environ["SPARK_DRIVER_MEM"] = facts["heap"]

    import gen
    from tracing import RssSampler, Tracer, make_listener, median, percentile

    inputs = gen.build_inputs(args.seed, os.path.join(cache, "inputs"))
    # flush the writes of generation (and below, of the warm-up passes)
    # now, not as background writeback inside the measured window
    os.sync()
    host_state = [yardstick()]
    tag = f"{args.workload}-s{args.seed}-trace{args.trace}"
    work = os.path.join(cache, "runs", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    from pulsar_elasticsearch_sync_rs_spark.session import get_spark

    tracer = Tracer(traced)
    sampler = RssSampler()
    spark = None
    try:
        with tracer.span("run", trace=tag) as run_span:
            # one cold set-up, as the daemon starts: get_spark launches the JVM
            with tracer.span("setup", parent=run_span, trace="setup") as sp:
                t = time.monotonic()
                with tracer.span("session.get_spark", parent=sp, trace="setup"):
                    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=SPARK_CORES,
                                      extra_conf=spark_conf(root, traced))
                get_spark_s = time.monotonic() - t
                sampler.start(spark.sparkContext._gateway.proc.pid)
                ctx = Ctx(spark, tracer, traced, inputs, work, args.seconds, SPARK_CORES, sampler)
                with tracer.span("warmup", parent=sp, trace="setup"):
                    workload.warm(ctx)
                setup_s = time.monotonic() - t
            if traced:
                ctx.listener = make_listener()
                spark.streams.addListener(ctx.listener)
            os.sync()
            with tracer.span("measure", parent=run_span, trace=tag):
                res = workload.measure(ctx)
    finally:
        if spark is not None:
            stop_jvm(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    host_state.append(yardstick())
    facts["yardstick"] = host_state

    results_dir = os.path.join(cache, "results")
    if traced:
        repeat = exact_count_repeat(
            args.workload, res.layer, same_code(load_json(os.path.join(results_dir, f"{tag}.json")), facts))
        res.checks.extend(Check(f"exact count {k} repeats the previous traced run", 1, 1,
                                f"{r['now']} now, {r['previous']} before")
                          for k, r in repeat.items() if not r["repeats"])
    groups = [g for g in res.latencies_ms if g]
    n_lat = sum(len(g) for g in groups)
    e2e = {
        "latency_p50_ms": (median([median(g) for g in groups]), n_lat),
        "latency_p99_ms": (median([percentile(g, 99) for g in groups]), n_lat),
        "throughput_msgs_per_s": (median(res.throughput), len(res.throughput)),
        "peak_rss_mb": (ctx.peak_rss_bytes / 1e6, ctx.rss_samples),
        "setup_s": (setup_s, 1),
    }
    failed = sum(c.failed for c in res.checks)
    correct = failed == 0
    for c in res.checks:
        status = "ok" if not c.failed else f"FAILED {c.failed}"
        print(f"# check {c.name}: {status} of {c.attempted}" + (f" ({c.detail})" if c.detail else ""))
    for name, (value, n) in e2e.items():
        where = f" in {len(groups)} drains or windows" if name.startswith("latency") else ""
        print(f"# {name} = {value:.4f} {E2E_METRICS[name][0]} (samples={n}{where})")
    print(f"# ops_attempted = {res.attempted}  ops_failed = {failed}")
    print(f"# host: seed={args.seed} " + " ".join(f"{k}={v}" for k, v in facts.items()))

    os.makedirs(results_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": facts, "correct": correct,
              "ops_attempted": res.attempted, "ops_failed": failed,
              "checks": [c.__dict__ for c in res.checks],
              "end_to_end": {k: {"value": v, "unit": E2E_METRICS[k][0], "samples": n}
                             for k, (v, n) in e2e.items()},
              "latency_p50_p99_ms_by_group": [[median(g), percentile(g, 99)] for g in groups],
              "peak_rss_mb_by_process": {k: v / 1e6 for k, v in ctx.peak_rss_parts.items()}}
    metrics = {k: {"value": v, "unit": E2E_METRICS[k][0]} for k, (v, _) in e2e.items()}
    if traced:
        layer = dict(res.layer)
        layer["session.get_spark_s"] = get_spark_s
        base = same_code(load_json(os.path.join(results_dir, f"{args.workload}-s{args.seed}-trace0.json")),
                         facts)
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in traced_report(
            args.workload, tag, layer, e2e, tracer, record, cache, base, repeat).items()}
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
