"""Query-stream benchmark for the spark-graft query registry.

One client, one process, closed loop: each workload's registered queries
run one after another through ``plans.QUERIES[name].fn(spark, sf_dir)``
followed by ``collect()``, on ``local[nproc]`` with
``SPARK_GRAFT_CPUS=nproc``, over sf0.01 tables generated from ``--seed``.
A run times set-up once, runs one checked warm-up pass, then timed passes
until ``--seconds`` of query time (at least two passes), checking every
output. Between passes, outside every timer, it sweeps what queries may
leave behind so every pass does the same work.

Raw timings on a small shared host drift with host speed phases, so every
query timing is reported against a pinned Spark reference job run before
each timed query, and set-up against a bare launcher timed in the same run::

    latency = raw * REF_NOMINAL_S / (median reference time of the run)
    setup   = raw * LAUNCH_NOMINAL_S / (median launcher time of the run)

The last stdout line is the result JSON; the line before it
(``PERFBENCH_REPORT {...}``) carries raw values, reference samples, host
load and per-query medians. ``--trace 1`` reports the per-layer metrics
of ``perfbench/layers.json`` from traced passes instead.

Usage, from the repository root::

    python3 perfbench/run.py --workload relational_floor_sf0.01 --seed 1 --seconds 12 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field


def _seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Short relational queries: most of their time is table resolution,
    # plan building, Catalyst and scheduling (the fixed per-query floor).
    "relational_floor_sf0.01": (
        "pricing_summary",
        "q3_shipping_priority",
        "q13_customer_order_distribution",
        "lag_window",
        "pivot_api_daily",
        "union_segments",
        "daily_rollup",
        "join_snowflake_rollup",
        "cube_status_priority",
        "percentile_prices",
        "topk_days_per_user",
        "date_shift_library",
    ),
    # The paper's pipelines: eager fits, materializations, stream batches
    # and writes inside the registered call.
    "paper_ml_stream_sf0.01": (
        "knn_user_recommend",
        "ml_linear_regression",
        "minhash_dedup_verified",
        "stream_foreachbatch_sink",
        "csv_roundtrip_malformed",
        "applyinpandas_user_trend",
    ),
}

#: Nominal duration of one reference job; query timings are scaled by
#: REF_NOMINAL_S / (this run's median reference time).
REF_NOMINAL_S = 0.25
#: Nominal duration of one bare ``spark-submit --version``; set-up is
#: scaled by LAUNCH_NOMINAL_S / (this run's median launcher time).
LAUNCH_NOMINAL_S = 1.8
REF_ROWS = 30_000_000
LAUNCH_SAMPLES = 2
REF_WARMUP = 2
MIN_TIMED_PASSES = 2
#: SQL confs of the reference session, set explicitly so that no package
#: conf can change the reference plan.
REF_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.ansi.enabled": "true",
}
REFERENCE_PLAN_FILE = os.path.join(HERE, "reference_plan.txt")
LAYERS_FILE = os.path.join(HERE, "layers.json")
REPORT_PREFIX = "PERFBENCH_REPORT "


class PlanDrift(RuntimeError):
    """The reference job's physical plan differs from the pinned copy."""


def normalize_plan(plan: str) -> str:
    """Strip the ids and split count that vary between runs and hosts."""
    plan = re.sub(r"#\d+", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    return re.sub(r"splits=\d+", "splits=_", plan).strip()


def check_reference_plan(plan: str, pinned: str) -> None:
    if normalize_plan(plan) != normalize_plan(pinned):
        raise PlanDrift(
            "reference plan drifted from perfbench/reference_plan.txt:\n" + normalize_plan(plan)
        )


def scale(raw: float, nominal: float, measured: float) -> float:
    """Host-normalized value of a duration: ``raw * nominal / measured``."""
    return raw * nominal / measured


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def load_layers() -> dict:
    with open(LAYERS_FILE) as f:
        return json.load(f)


def cpu_times() -> dict[str, float]:
    """Host-wide CPU seconds by state, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": sum(vals[:3]) / hz, "steal": (vals[7] if len(vals) > 7 else 0) / hz}


@dataclass
class Sample:
    name: str
    latency: float
    rows: int = 0
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Pass:
    traced: bool
    refs: list[float]
    samples: list[Sample]
    hygiene: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def query_s(self) -> float:
        return sum(s.latency for s in self.samples)


class Bench:
    """One run: the session, the generated data and the passes over it."""

    def __init__(self, args: argparse.Namespace, work: str, nproc: int) -> None:
        self.args = args
        self.work = work
        self.nproc = nproc
        self.names = WORKLOADS[args.workload]
        # Per-process scratch, removed when the run ends: concurrent runs
        # in one checkout cannot sweep each other's temp files.
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
        self.timings: dict[str, float] = {}

    # ---- set-up -------------------------------------------------------
    def prepare_env(self) -> None:
        """Confine every file the run writes to the work dir, and pin the
        package's environment contract."""
        local = os.path.join(self.run_dir, "local")
        for d in (self.tmp, local, self.eventlog_dir):
            os.makedirs(d, exist_ok=True)
        for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[key]
        submit = [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(self.run_dir, 'warehouse')}",
        ]
        if self.args.trace:
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.eventlog_dir}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.nproc),
            TMPDIR=self.tmp,
            SPARK_LOCAL_DIRS=local,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        )
        import tempfile

        tempfile.tempdir = None

    def setup(self, process_start: float) -> None:
        """Session up, registry loaded, one trivial job done: the span
        ``setup_s`` measures from ``process_start`` (a perf_counter value)."""
        from big_data_competition_dxc_spark import plans
        from big_data_competition_dxc_spark.session import get_spark

        self.plans = plans
        self.spark = get_spark("perfbench")
        t_launch = time.perf_counter()
        plans.load_all()
        t_load = time.perf_counter()
        self.spark.range(1).count()
        t_job = time.perf_counter()
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.timings.update(
            {
                "setup_raw_s": t_job - process_start,
                "session.launch_s": t_launch - process_start,
                "plans.load_all_s": t_load - t_launch,
                "session.first_job_s": t_job - t_load,
            }
        )

    def launcher_reference(self) -> list[float]:
        """Wall time of a bare ``spark-submit --version``: a Spark launch
        with no package code."""
        from pyspark.find_spark_home import _find_spark_home

        cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--version"]
        out = []
        for _ in range(LAUNCH_SAMPLES):
            t0 = time.perf_counter()
            subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
            out.append(time.perf_counter() - t0)
        return out

    def prepare_data(self) -> None:
        from big_data_competition_dxc_spark.sources import TABLES

        self.data = os.path.join(self.work, "data", f"seed{self.args.seed}-{check.gen_digest()}")
        if not os.path.isdir(self.data):
            staging = gen.generate(os.path.join(self.run_dir, "data"), self.args.seed)
            os.renames(staging, self.data)
        oracles = {n: self.plans.QUERIES[n].oracle for n in self.names if self.plans.QUERIES[n].oracle}
        expected, self.timings["oracle.duckdb_s"] = check.oracle_expectations(
            os.path.join(self.work, "oracle_cache.json"), self.data, self.args.seed, oracles, TABLES
        )
        self.checker = check.Checker(expected)

    def prepare_reference(self) -> None:
        self.ref_session = self.spark.newSession()
        confs = dict(REF_CONFS, **{"spark.sql.shuffle.partitions": str(self.nproc)})
        for k, v in confs.items():
            self.ref_session.conf.set(k, v)
        with open(REFERENCE_PLAN_FILE) as f:
            self.ref_plan = f.read()
        self.ref_value = None
        for _ in range(REF_WARMUP):
            self.reference()

    def reference(self) -> float:
        """One timed reference job, built afresh like a query is; its
        plan must match the pinned copy and its value the first run's."""
        t0 = time.perf_counter()
        df = self.ref_session.range(0, REF_ROWS, 1, self.nproc).selectExpr("sum(hash(id)) AS h")
        value = df.collect()[0][0]
        dt = time.perf_counter() - t0
        check_reference_plan(df._jdf.queryExecution().executedPlan().toString(), self.ref_plan)
        if self.ref_value is None:
            self.ref_value = value
        elif value != self.ref_value:
            raise RuntimeError(f"reference job returned {value}, expected {self.ref_value}")
        return dt

    # ---- hygiene ------------------------------------------------------
    def snapshot(self) -> None:
        self.conf0 = dict(self.spark.conf.getAll)
        self.tmp0 = set(os.listdir(self.tmp))

    def hygiene(self) -> dict[str, float]:
        """Count and release leftover persistent RDDs, clear the memo
        registry, restore and count changed session confs, and empty the
        temp dir of everything the pass created."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        pinned_mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        rdds = list(jsc.getPersistentRDDs().values())
        for rdd in rdds:
            rdd.unpersist(False)
        self.plans.memos.clear_all()
        conf = dict(self.spark.conf.getAll)
        changed = {k for k in conf.keys() | self.conf0.keys() if conf.get(k) != self.conf0.get(k)}
        for k in changed:
            if k in self.conf0:
                self.spark.conf.set(k, self.conf0[k])
            else:
                self.spark.conf.unset(k)
        for name in set(os.listdir(self.tmp)) - self.tmp0:
            path = os.path.join(self.tmp, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif not name.endswith(".so"):  # native libraries the JVM loaded
                os.remove(path)
        self.sc._jvm.System.gc()
        return {
            "plans.pinned_rdds_after": float(len(rdds)),
            "plans.pinned_mb_after": pinned_mb,
            "plans.conf_changed_keys": float(len(changed)),
        }

    # ---- passes -------------------------------------------------------
    def run_query(self, name: str, group: str, traced: bool) -> Sample:
        entry = self.plans.QUERIES[name]
        self.sc.setJobGroup(group, name)
        self.plans.memos.consume_warm_hits()
        if traced:
            cpu0 = time.process_time() + tracing.jvm_cpu_s(self.jvm_pid)
        w0 = time.time()
        t0 = time.perf_counter()
        df = rows = None
        error = None
        w1 = w1c = w0
        try:
            df = entry.fn(self.spark, self.data)
            w1 = time.time()
            w1c = time.time()
            rows = df.collect()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            error = traceback.format_exc(limit=3)
        latency = time.perf_counter() - t0
        w2 = time.time()
        sample = Sample(name, latency, error=error)
        if error is None:
            sample.rows = len(rows)
            sample.error = self.checker.check(
                name, df.schema.simpleString(), df.columns, [tuple(r) for r in rows]
            )
        if traced:
            cpu = time.process_time() + tracing.jvm_cpu_s(self.jvm_pid) - cpu0
            sample.layers = self.query_layers(entry, group, df, error, (w0, w1, w1c, w2), cpu)
            sample.layers["plans.memo_warm_hits"] = float(self.plans.memos.consume_warm_hits())
            sample.layers["result.rows"] = float(sample.rows)
        self.sc._jsc.clearJobGroup()
        if sample.error:
            print(f"perfbench: {name} failed: {sample.error}", file=sys.stderr)
        return sample

    def query_layers(self, entry, group, df, error, walls, cpu) -> dict[str, float]:
        """Per-layer self times and counters of one traced query run."""
        w0, w1, w1c, w2 = walls
        module = entry.fn.__module__.split(".")[1]
        spans = [tracing.Span("query", w0, w2)] + self.wrappers.take()
        if error is None:
            spans += [tracing.Span(f"{module}.build", w0, w1), tracing.Span("result.collect", w1c, w2)]
            spans += tracing.catalyst_spans(df)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.eventlog.read()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = defaultdict(float)
        for span, own in zip(spans, tracing.self_times(spans, tracing.assign_parents(spans))):
            out["unattributed_s" if span.name == "query" else span.name + "_s"] += own
        out["sources.load_calls"] = float(sum(s.name == "sources.load" for s in spans))
        out["plans.checkpoint_calls"] = float(sum(s.name == "plans.checkpoint" for s in spans))
        for j in job_ids:
            i = tracing.innermost(spans, self.eventlog.job_submit.get(j, w0))
            kind = spans[i].name if i is not None else "query"
            if kind.endswith(".build"):
                out[kind + "_jobs"] += 1
            elif kind == "sources.load":
                out["sources.schema_jobs"] += 1
        out["spark.jobs"] = float(len(job_ids))
        out.update(self.eventlog.job_counters(job_ids))
        out["driver.cpu_s"] = max(0.0, cpu - out["spark.executor.cpu_s"])
        out["wall_s"] = w2 - w0
        return dict(out)

    def warm_up(self) -> Pass:
        """Run every query once, checked but untimed, nproc at a time: the
        first run of a query is dominated by single-threaded class loading,
        JIT and code generation, which overlap well."""
        with ThreadPoolExecutor(max_workers=self.nproc) as pool:
            futures = [
                pool.submit(self.run_query, n, f"perfbench:0:{n}", False)
                for n in self.names
            ]
            samples = [f.result() for f in futures]
        p = Pass(False, [], samples)
        p.hygiene = self.hygiene()
        return p

    def run_pass(self, index: int, traced: bool) -> Pass:
        """One timed pass; a reference job runs before every query, so the
        reference samples span the same time as the query samples."""
        self.reference()  # the first job after hygiene runs on a freshly collected heap
        refs, samples = [], []
        if traced:
            self.wrappers.install()
            listener = tracing.make_stream_listener()
            self.spark.streams.addListener(listener)
        try:
            for n in self.names:
                refs.append(self.reference())
                samples.append(self.run_query(n, f"perfbench:{index}:{n}", traced))
        finally:
            if traced:
                self.wrappers.remove()
                self.sc._jsc.sc().listenerBus().waitUntilEmpty()
                self.spark.streams.removeListener(listener)
        p = Pass(traced, refs, samples)
        p.hygiene = self.hygiene()
        if traced:
            for s in samples:
                for k, v in s.layers.items():
                    p.layers[k] = p.layers.get(k, 0.0) + v
            p.layers.update(listener.counters)
            p.layers.update(p.hygiene)
        return p

    def run(self, phases: dict[str, float]) -> tuple[list[Pass], list[Pass]]:
        if self.args.trace:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
            self.wrappers = tracing.Wrappers()
            self.eventlog = tracing.EventLog(
                tracing.find_event_log(self.eventlog_dir, self.sc.applicationId)
            )
        self.snapshot()
        t0 = time.perf_counter()
        warmup = [self.warm_up()]
        self.prepare_reference()
        t1 = time.perf_counter()
        timed: list[Pass] = []
        while len(timed) < MIN_TIMED_PASSES or sum(p.query_s for p in timed) < self.args.seconds:
            # Trace runs alternate untraced and traced passes; the
            # difference between them is the tracing overhead.
            traced = bool(self.args.trace) and len(timed) % 2 == 1
            timed.append(self.run_pass(len(timed) + 1, traced))
        phases.update(warmup=t1 - t0, timed=time.perf_counter() - t1)
        return warmup, timed

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def summarize(bench: Bench, warmup: list[Pass], timed: list[Pass], launch: list[float]) -> tuple[dict, dict]:
    """(end-to-end metric values, report) for one run. Query timings are
    normalized by the median of every reference job of the run's timed
    passes (``ref_run``)."""
    untraced = [p for p in timed if not p.traced]
    ref_run = median([r for p in untraced for r in p.refs])
    ok = [s for p in untraced for s in p.samples if s.error is None]
    per_query = {}
    for name in bench.names:
        xs = [s.latency for s in ok if s.name == name]
        if xs:
            per_query[name] = {
                "n": len(xs),
                "median_raw_s": median(xs),
                "median_s": scale(median(xs), REF_NOMINAL_S, ref_run),
            }
    # A query that failed every time has no latency; the run is then
    # reported incorrect, and its metrics stay finite.
    def gmean(key: str) -> float:
        return statistics.geometric_mean([q[key] for q in per_query.values()]) if per_query else 0.0

    def p50(key: str) -> float:
        return median([q[key] for q in per_query.values()]) if per_query else 0.0

    busy = sum(p.query_s for p in untraced)
    launch_ref = median(launch)
    raw = {
        "setup_s": bench.timings["setup_raw_s"],
        "latency_gmean_s": gmean("median_raw_s"),
        "throughput_qps": len(ok) / busy,
        "latency_p50_s": p50("median_raw_s"),
    }
    values = {
        "setup_s": scale(raw["setup_s"], LAUNCH_NOMINAL_S, launch_ref),
        "latency_gmean_s": gmean("median_s"),
        "throughput_qps": len(ok) / scale(busy, REF_NOMINAL_S, ref_run),
    }
    report = {
        "workload": bench.args.workload,
        "latency_p50_s": p50("median_s"),
        "seed": bench.args.seed,
        "nproc": bench.nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "raw": raw,
        "reference": {
            "nominal_s": REF_NOMINAL_S,
            "run_s": ref_run,
            "per_pass_s": [median(p.refs) for p in timed],
            "samples_s": [p.refs for p in timed],
        },
        "launcher": {"nominal_s": LAUNCH_NOMINAL_S, "run_s": launch_ref, "samples_s": launch},
        "setup_parts_s": {
            k: bench.timings[k]
            for k in ("setup_raw_s", "session.launch_s", "plans.load_all_s", "session.first_job_s")
        },
        "oracle_s": bench.timings["oracle.duckdb_s"],
        "passes": {"warmup": len(warmup), "timed": len(timed), "traced": len(timed) - len(untraced)},
        "samples": len(ok),
        "query_s": busy,
        "pass_query_s": [p.query_s for p in warmup + timed],
        "per_query": per_query,
        "hygiene": [p.hygiene for p in timed],
        "failures": [
            {"query": s.name, "error": s.error.splitlines()[-1]}
            for p in warmup + timed
            for s in p.samples
            if s.error
        ],
    }
    return values, report


def layer_values(bench: Bench, timed: list[Pass], report: dict) -> dict[str, float]:
    """Per-layer metrics: totals of one traced pass (mean over traced passes)."""
    traced = [p for p in timed if p.traced]
    untraced = [p for p in timed if not p.traced]
    out: dict[str, float] = defaultdict(float)
    for p in traced:
        for k, v in p.layers.items():
            out[k] += v / len(traced)
    run_s = out.get("spark.executor.run_s", 0.0)
    out["spark.executor.cpu_ratio"] = out.get("spark.executor.cpu_s", 0.0) / run_s if run_s else 0.0
    for k in ("session.launch_s", "session.first_job_s", "plans.load_all_s", "oracle.duckdb_s"):
        out[k] = bench.timings[k]

    out["trace.overhead"] = median([p.query_s for p in traced]) / median([p.query_s for p in untraced]) - 1.0
    table = {}
    for p in traced:
        for s in p.samples:
            lay = {k: round(v, 4) for k, v in s.layers.items() if k.endswith("_s") and v}
            wall = s.layers.get("wall_s", s.latency)
            lay["coverage"] = round(1 - s.layers.get("unattributed_s", 0.0) / wall, 4) if wall else 1.0
            table[s.name] = lay
    report["layer_table"] = table
    report["min_coverage"] = min((v["coverage"] for v in table.values()), default=None)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    process_start = time.perf_counter() - _seconds_since_process_start()
    nproc = len(os.sched_getaffinity(0))
    bench = Bench(args, os.path.join(ROOT, ".perfbench_work"), nproc)
    bench.prepare_env()
    load0, cpu0 = os.getloadavg()[0], cpu_times()
    try:
        bench.setup(process_start)
    except ImportError as exc:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    phases = {"setup": time.perf_counter() - process_start}
    try:
        t0 = time.perf_counter()
        launch = bench.launcher_reference()
        phases["launcher"] = time.perf_counter() - t0
        bench.prepare_data()
        phases["data"] = time.perf_counter() - t0 - phases["launcher"]
        warmup, timed = bench.run(phases)
    except PlanDrift as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        t0 = time.perf_counter()
        bench.stop()
        phases["stop"] = time.perf_counter() - t0
    values, report = summarize(bench, warmup, timed, launch)
    cpu1 = cpu_times()
    report["phases_s"] = phases
    report["host"] = {
        "loadavg_1m": [load0, os.getloadavg()[0]],
        "steal_s": cpu1["steal"] - cpu0["steal"],
        "busy_s": cpu1["busy"] - cpu0["busy"],
    }
    layers = load_layers()
    if args.trace:
        lv = layer_values(bench, timed, report)
        metrics = {m["name"]: {"value": lv.get(m["name"], 0.0), "unit": m["unit"]} for m in layers["per_layer"]}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in layers["end_to_end"]}
    attempted = sum(len(p.samples) for p in warmup + timed)
    failed = sum(1 for p in warmup + timed for s in p.samples if s.error)
    print(REPORT_PREFIX + json.dumps(report, default=float))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
