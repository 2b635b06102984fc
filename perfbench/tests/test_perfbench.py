"""Self-tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q

- the generator is deterministic: one seed gives byte-identical files,
  another seed gives different ones;
- the generator routes topics like the reference's golden table;
- the metric names and units the code emits are exactly those that
  BENCHMARK.json declares;
- exact counts are compared only between results of the same sources;
- self time subtracts the union of child spans;
- the stateful oracles agree with brute force on a small input.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, WallClockMap, percentile  # noqa: E402

SMALL = gen.Sizes(live_files=3, live_msgs_per_file=50, backlog_files=3, backlog_msgs_per_file=80,
                  backlog_files_per_trigger=1, stateful_files=6, stateful_events_per_file=300,
                  warm_live_files=1, warm_live_msgs_per_file=20, warm_backlog_files=1,
                  warm_stateful_events=40)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.build_inputs(7, str(tmp_path / "a"), SMALL)
    b = gen.build_inputs(7, str(tmp_path / "b"), SMALL)
    c = gen.build_inputs(8, str(tmp_path / "c"), SMALL)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da if k.endswith(".parquet"))


def test_cached_inputs_are_reused(tmp_path):
    d = gen.build_inputs(3, str(tmp_path), SMALL)
    before = os.stat(os.path.join(d, "manifest.json")).st_mtime_ns
    assert gen.build_inputs(3, str(tmp_path), SMALL) == d
    assert os.stat(os.path.join(d, "manifest.json")).st_mtime_ns == before


def test_manifest_counts_cover_every_message(tmp_path):
    d = gen.build_inputs(5, str(tmp_path), SMALL)
    with open(os.path.join(d, "manifest.json")) as fh:
        m = json.load(fh)
    for f in m["backlog"]:
        indexed = sum(n for n, _ in f["expect"].values())
        assert 0 < indexed < f["msgs"]  # some messages must be dropped, most kept


def test_generator_routes_like_the_reference_golden_table():
    # the reference's golden routing table (its src/es.rs:411-431) under
    # its 9-rule table, which the generator's routing mirrors
    golden = {
        "k8s-be-prod": "k8s-be", "k8s-fe-prod": "k8s-fe", "app-biz": "app", "app-other": "app",
        "nginx-live-x": "nginx", "live-stream": "live", "mysql-slowlogs-db1": "mysql",
        "containerlog-abc": "containerlog", "pulsar-partition-0": "pulsar", "logstash": "logstash",
        "app-biz-2": "app",
    }
    assert {t: gen._index_base(t) for t in gen.TOPICS} == golden


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.LAYER_METRICS
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert set(run.EXACT_COUNTS) == set(workloads.WORKLOADS)
    # every stateful operator is measured in exactly one traced run
    split = workloads.STATEFUL_OPS_LIVE + workloads.STATEFUL_OPS_BACKLOG
    assert sorted(split) == sorted(run._OPS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_exact_counts_compare_only_results_of_the_same_sources():
    facts = {"source_sha256": "a"}
    prev = {"host": {"source_sha256": "a"}, "per_layer": {k: 1.0 for k in run.EXACT_COUNTS["etl-backlog"]}}
    assert run.same_code(prev, facts) is prev
    assert run.same_code(prev, {"source_sha256": "b"}) is None
    assert run.exact_count_repeat("etl-backlog", {}, None) == {}
    layer = dict(prev["per_layer"], **{"runner.batches": 11.0})
    repeat = run.exact_count_repeat("etl-backlog", layer, prev)
    assert [k for k, r in repeat.items() if not r["repeats"]] == ["runner.batches"]


def test_self_time_subtracts_union_of_children():
    tr = Tracer(True)
    root = tr.add("root", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 5.0, root)  # overlaps a: union is 1..5
    tr.add("c", 9.0, 12.0, root)  # clipped to the parent: 9..10
    st = tr.self_times()
    assert st["root"]["self_s"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["a"]["self_s"] == pytest.approx(3.0)


def test_wall_clock_map_uses_the_nearest_offset():
    clock = WallClockMap()
    # the wall clock runs 5 ms a second ahead of the monotonic one
    clock.marks = [(1_000_000.0 + t, 500.0 - 0.005 * t) for t in range(0, 30)]
    assert clock.to_mono("1970-01-12T13:46:40.000Z") == pytest.approx(1_000_000.0 + 500.0)
    assert clock.to_mono("1970-01-12T13:47:05.000Z") == pytest.approx(1_000_025.0 + 500.0 - 0.125)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile([5.0], 99) == 5.0


def test_oracles_against_brute_force(tmp_path):
    d = gen.build_inputs(11, str(tmp_path), SMALL)
    ev = oracle.load_events(os.path.join(d, "stateful"))
    late = oracle.late_mask(ev, 120)
    with open(os.path.join(d, "manifest.json")) as fh:
        assert late.sum() == json.load(fh)["stateful"]["beyond_wm"]
    kept = ev[~late]
    err = kept[kept["event_type"] == "error"]
    sig = kept[kept["event_type"] == "signup"]
    brute = sorted(
        (e, s)
        for e, et in zip(err["event_id"], err["ts_us"])
        for s, st in zip(sig["event_id"], sig["ts_us"])
        if et <= st < et + 10_000_000
    )
    assert [tuple(p) for p in oracle.interval_pairs(ev, 10, 120).tolist()] == brute
    admitted = oracle.gcra_admitted(ev, {a: 5 for a in gen.STATEFUL_APPS})
    assert len(admitted) == len(np.unique(admitted)) and 0 < len(admitted) < len(ev)
    n_sessions = sum(n for *_, n in oracle.sessions(ev, 60, 120))
    assert 0 < n_sessions <= len(kept)
