"""Per-layer tracing taken from outside the engine.

Spans come from four places, none of them inside the package:

- the benchmark's own timers around the registered call (``<module>.build``)
  and the ``collect()`` that follows it (``result.collect``);
- wrappers installed over ``sources.io.load`` and
  ``plans.checkpointing.result_checkpoint`` in every package module that
  bound them (``sources.load``, ``plans.checkpoint``);
- the Catalyst phase tracker of the collected frame's query execution
  (``spark.catalyst.analysis`` / ``optimization`` / ``planning``);
- the uncompressed Spark event log (jobs, stages, task metrics), keyed by
  the job group the benchmark sets per query run, and a
  ``StreamingQueryListener`` for micro-batch progress.

A span's parent is the shortest longer span of the same query run that
contains its midpoint, so spans opened from driver threads nest correctly. A
layer's self time is the wall time during which its span is the deepest
one open; the query span's self time is the unattributed remainder, so
the self times of one query always add up to its wall.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "big_data_competition_dxc_spark"

#: Tie-break for spans with equal extent: lower ranks are outer spans.
_RANK = {"query": 0, "result.collect": 1, "sources.load": 2, "plans.checkpoint": 2}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the JVM's event times use
    end: float

    @property
    def rank(self) -> int:
        if self.name.endswith(".build"):
            return 1
        return _RANK.get(self.name, 3)


def _key(s: Span) -> tuple[float, int]:
    return (s.end - s.start, -s.rank)


def assign_parents(spans: list[Span]) -> list[int | None]:
    """Index of each span's parent: the smallest outer span containing its
    midpoint (outer = longer, or as long and of an outer kind), or None for
    the root."""
    parents: list[int | None] = []
    for i, s in enumerate(spans):
        mid = (s.start + s.end) / 2
        cands = [
            j
            for j, p in enumerate(spans)
            if p.start <= mid <= p.end and _key(p) > _key(s)
        ]
        parents.append(min(cands, key=lambda j: (_key(spans[j]), -j)) if cands else None)
    return parents


def self_times(spans: list[Span], parents: list[int | None]) -> list[float]:
    """Wall time during which each span is the deepest open one.

    Spans are first clipped to their ancestors. Time during which several
    spans of the same depth are open (driver threads) is split evenly
    between them, so the self times always add up to the root's wall."""
    clipped, depth = [], []
    for i, s in enumerate(spans):
        a, b, d, p = s.start, s.end, 0, parents[i]
        while p is not None:
            a, b, d, p = max(a, spans[p].start), min(b, spans[p].end), d + 1, parents[p]
        clipped.append((a, max(a, b)))
        depth.append(d)
    cuts = sorted({t for ab in clipped for t in ab})
    own = [0.0] * len(spans)
    for a, b in zip(cuts, cuts[1:]):
        open_ = [i for i, (x, y) in enumerate(clipped) if x <= a and b <= y]
        if not open_:
            continue
        top = max(depth[i] for i in open_)
        deepest = [i for i in open_ if depth[i] == top]
        for i in deepest:
            own[i] += (b - a) / len(deepest)
    return own


def innermost(spans: list[Span], t: float) -> int | None:
    """Index of the smallest span containing time ``t``."""
    cands = [j for j, s in enumerate(spans) if s.start <= t <= s.end]
    return min(cands, key=lambda j: (_key(spans[j]), -j)) if cands else None


class Wrappers:
    """Times every call to ``sources.io.load`` and
    ``plans.checkpointing.result_checkpoint`` while installed, by rebinding
    the name in each package module that imported it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(name, t0, time.time()))

        return timed

    def install(self) -> None:
        from big_data_competition_dxc_spark.plans import checkpointing
        from big_data_competition_dxc_spark.sources import io

        targets = {
            id(io.load): self._wrap(io.load, "sources.load"),
            id(checkpointing.result_checkpoint): self._wrap(
                checkpointing.result_checkpoint, "plans.checkpoint"
            ),
        }
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in targets:
                    self._saved.append((mod, attr, val))
                    setattr(mod, attr, targets[id(val)])

    def remove(self) -> None:
        for mod, attr, val in self._saved:
            setattr(mod, attr, val)
        self._saved.clear()

    def take(self) -> list[Span]:
        spans, self.spans = self.spans, []
        return spans


def catalyst_spans(df) -> list[Span]:
    """Catalyst phases of the frame's own query execution (the one
    ``collect()`` ran), as spans in epoch seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        summary = kv._2()
        out.append(
            Span(f"spark.catalyst.{kv._1()}", summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3)
        )
    return out


class EventLog:
    """Incremental reader of one uncompressed, non-rolling event log."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._offset = 0
        self.job_stages: dict[int, list[int]] = {}
        self.job_submit: dict[int, float] = {}
        self.stage_submit: dict[int, float] = {}
        self.stage_first_launch: dict[int, float] = {}
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)

    def read(self) -> None:
        with open(self.path, "rb") as f:
            f.seek(self._offset)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self._offset += end
        for line in data[:end].splitlines():
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                self.job_stages[ev["Job ID"]] = ev["Stage IDs"]
                self.job_submit[ev["Job ID"]] = ev["Submission Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                self.stage_submit[info["Stage ID"]] = info["Submission Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                launch = ev["Task Info"]["Launch Time"] / 1e3
                sid = ev["Stage ID"]
                self.stage_first_launch[sid] = min(self.stage_first_launch.get(sid, launch), launch)
                self.stage_tasks[sid].append(ev.get("Task Metrics") or {})

    def job_counters(self, job_ids: list[int]) -> dict[str, float]:
        """Stage, task, executor and I/O totals over the given jobs; a
        stage shared by two jobs counts once, skipped stages not at all."""
        stages = {s for j in job_ids for s in self.job_stages.get(j, ()) if s in self.stage_submit}
        c = defaultdict(float)
        c["spark.stages"] = len(stages)
        for sid in stages:
            tasks = self.stage_tasks.get(sid, [])
            c["spark.tasks"] += len(tasks)
            if sid in self.stage_first_launch:
                c["spark.scheduler_wait_s"] += max(
                    0.0, self.stage_first_launch[sid] - self.stage_submit[sid]
                )
            for m in tasks:
                c["spark.executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["spark.executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["spark.executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spark.executor.deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                c["spark.shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                c["spark.shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                )
                c["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                c["sources.bytes_written_mb"] += (
                    m.get("Output Metrics", {}).get("Bytes Written", 0) / 2**20
                )
        return c


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def make_stream_listener():
    """A StreamingQueryListener summing micro-batch progress."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.counters = defaultdict(float)

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.counters["streaming.batches"] += 1
            self.counters["streaming.batch_ms"] += p.durationMs.get("triggerExecution", 0)
            for op in p.stateOperators:
                self.counters["streaming.state_rows"] += op.numRowsTotal
                self.counters["streaming.commit_ms"] += op.commitTimeMs

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def jvm_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a process, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
