"""Self-tests of the benchmark's own logic; none starts Spark.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

import check
import gen
import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _strip(metrics: list[dict]) -> list[tuple]:
    return [(m["name"], m["unit"], m["better"]) for m in metrics]


def test_metric_names_units_and_directions_match_benchmark_json():
    bench, layers = _benchmark(), run.load_layers()
    assert _strip(bench["end_to_end"]) == _strip(layers["end_to_end"])
    assert _strip(bench["per_layer"]) == _strip(layers["per_layer"])
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_every_per_layer_metric_is_in_the_layer_table():
    layers = run.load_layers()
    e2e = {m["name"] for m in layers["end_to_end"]}
    table = {m["name"]: m for m in layers["per_layer"]}
    for m in _benchmark()["per_layer"]:
        row = table[m["name"]]
        assert row["moves"] is None or row["moves"] in e2e
        assert row["workloads"] and set(row["workloads"]) <= set(run.WORKLOADS)


def test_normalization_arithmetic():
    assert run.scale(2.0, 0.25, 0.5) == pytest.approx(1.0)

    passes = [
        run.Pass(False, [0.5, 0.4, 0.6], [run.Sample("a", 1.0), run.Sample("b", 3.0)]),
        run.Pass(False, [0.25], [run.Sample("a", 1.0), run.Sample("b", 2.0)]),
    ]
    bench = SimpleNamespace(
        names=("a", "b"),
        nproc=4,
        args=SimpleNamespace(workload="w", seed=1),
        timings={
            "setup_raw_s": 9.0,
            "session.launch_s": 6.0,
            "plans.load_all_s": 1.0,
            "session.first_job_s": 2.0,
            "oracle.duckdb_s": 0.0,
        },
    )
    values, report = run.summarize(bench, [], passes, [3.0, 4.0, 5.0])
    f = run.REF_NOMINAL_S / 0.45  # median of every reference sample of the run
    assert report["reference"]["run_s"] == pytest.approx(0.45)
    a, b = 1.0 * f, 2.5 * f  # per-query medians, scaled
    assert report["per_query"]["a"]["median_s"] == pytest.approx(a)
    assert values["latency_gmean_s"] == pytest.approx((a * b) ** 0.5)
    assert report["latency_p50_s"] == pytest.approx((a + b) / 2)
    assert values["throughput_qps"] == pytest.approx(4 / (7.0 * f))
    assert values["setup_s"] == pytest.approx(9.0 * run.LAUNCH_NOMINAL_S / 4.0)
    assert report["raw"]["latency_gmean_s"] == pytest.approx((1.0 * 2.5) ** 0.5)
    assert report["raw"]["throughput_qps"] == pytest.approx(4 / 7.0)


def test_self_times_plus_unattributed_equal_wall():
    S = tracing.Span
    spans = [
        S("query", 0.0, 10.0),
        S("operators.build", 0.0, 6.0),
        S("sources.load", 0.5, 1.5),
        S("sources.load", 1.0, 2.0),  # overlaps the first: a second thread
        S("plans.checkpoint", 3.0, 5.0),
        S("spark.catalyst.analysis", 5.5, 5.75),
        S("result.collect", 6.5, 9.5),
        S("spark.catalyst.optimization", 6.5, 7.0),
        S("spark.catalyst.planning", 7.0, 7.5),
    ]
    parents = tracing.assign_parents(spans)
    assert parents == [None, 0, 1, 1, 1, 1, 0, 6, 6]
    own = tracing.self_times(spans, parents)
    assert sum(own) == pytest.approx(10.0)
    assert own[0] == pytest.approx(1.0)  # the gaps 6.0-6.5 and 9.5-10.0
    assert own[2] == own[3] == pytest.approx(0.75)  # 1.0-1.5 is shared
    assert own[1] == pytest.approx(6.0 - 1.5 - 2.0 - 0.25)
    assert own[6] == pytest.approx(2.0)
    assert tracing.innermost(spans, 1.2) in (2, 3)
    assert tracing.innermost(spans, 8.0) == 6


def test_event_log_counters(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1250},
            "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 250_000_000},
        },
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events) + '{"Event": "partial')
    log = tracing.EventLog(str(path))
    log.read()
    c = log.job_counters([0])
    assert c["spark.stages"] == 1  # stage 1 was skipped
    assert c["spark.tasks"] == 1
    assert c["spark.scheduler_wait_s"] == pytest.approx(0.25)
    assert c["spark.executor.run_s"] == pytest.approx(0.5)
    assert c["spark.executor.cpu_s"] == pytest.approx(0.25)


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7)
    b = gen.generate(str(tmp_path / "b"), 7)
    c = gen.generate(str(tmp_path / "c"), 8)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    for n in names:
        with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
            assert fa.read() == fb.read(), n
    with open(os.path.join(a, "lineitem.parquet"), "rb") as fa:
        with open(os.path.join(c, "lineitem.parquet"), "rb") as fc:
            assert fa.read() != fc.read()


def test_checker_rejects_a_tampered_result():
    cols, rows = ["k", "v"], [("a", 1.0), ("b", 2.5)]
    expected = {"q": {"cols": ["k", "v"], "rows": 2, "hash": check.fingerprint(cols, rows)}}
    c = check.Checker(expected)
    assert c.check("q", "s", cols, list(reversed(rows))) is None
    assert c.check("q", "s", cols, [("a", 1.0), ("b", 2.6)]) is not None
    assert c.check("q", "s", cols, rows[:1]) is not None
    assert c.check("q", "s", ["k", "w"], rows) is not None
    # no oracle: finite values, then the first result's schema and hash
    assert c.check("ml", "s1", cols, rows) is None
    assert c.check("ml", "s1", cols, rows) is None
    assert c.check("ml", "s1", cols, [("a", 1.0), ("b", 2.6)]) is not None
    assert c.check("ml", "s2", cols, rows) is not None
    assert c.check("ml2", "s", cols, [("a", float("nan"))]) is not None
    assert c.check("ml3", "s", cols, []) is not None


def test_oracle_cache_key_covers_seed_and_sql():
    k = check.oracle_key(1, "SELECT 1")
    assert k == check.oracle_key(1, "SELECT 1")
    assert k != check.oracle_key(2, "SELECT 1")
    assert k != check.oracle_key(1, "SELECT 2")


def test_reference_plan_drift_fails_the_run():
    with open(run.REFERENCE_PLAN_FILE) as f:
        pinned = f.read()
    same = pinned.replace("#_", "#42").replace("plan_id=_", "plan_id=7").replace("splits=_", "splits=8")
    run.check_reference_plan(same, pinned)
    with pytest.raises(run.PlanDrift):
        run.check_reference_plan(same.replace("hash(", "xxhash64("), pinned)
    with pytest.raises(run.PlanDrift):
        run.check_reference_plan(same.replace("*(2) ", ""), pinned)
