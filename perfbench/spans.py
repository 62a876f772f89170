"""In-memory spans plus Spark's own per-stage records.

A ``Tracer`` records one span per op with child spans for each layer
the benchmark calls into.  Spans stay in memory and are written out
once at the end of a run.  Every op's Spark jobs run under
``setJobGroup(<op span id>)``, so the application's status store (filled
even with ``spark.ui.enabled=false``) attributes each job, stage and
SQL execution to the op that started it.

With tracing off the tracer records nothing: the end-to-end numbers
come from the run loop's own clock.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

#: SQL metric names of Spark's Python exec nodes (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")
#: byte units of Spark's rendered size metrics
_UNITS = ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]
_SIZE = re.compile(rf"(\d+(?:\.\d+)?) ({'|'.join(_UNITS)})\b")


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs")

    def __init__(self, sid: int, parent: int | None, name: str) -> None:
        self.id = sid
        self.parent = parent
        self.name = name
        self.start = time.time()
        self.end = self.start
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def record(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            **self.attrs,
        }


class Tracer:
    """Span recorder; a disabled tracer is a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stages: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._exec_mark = 0

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            # records nothing, so the warm-up may share it across threads
            yield Span(0, None, name)
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), parent, name)
        sp.attrs.update(attrs)
        is_op = parent is None
        if is_op:
            self.spark.sparkContext.setJobGroup(str(sp.id), name)
            self._exec_mark = self._sql_store().executionsCount()
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if is_op:
                self._attach_stages(sp)

    def jobs_so_far(self) -> int:
        """Spark jobs started so far under the current op's group."""
        if not self.enabled:
            return 0
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(str(self._stack[0].id)))

    def plan(self, span: Span, df) -> None:
        """Force ``df``'s executed plan and count its exchanges."""
        plan = df._jdf.queryExecution().executedPlan()
        span.attrs["exchanges"] = len(_EXCHANGE.findall(plan.toString()))

    def _attach_stages(self, op: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        cores = sc.defaultParallelism
        jobs = sorted(tracker.getJobIdsForGroup(str(op.id)))
        wall_ms = op.ms
        agg = dict.fromkeys(
            (
                "stages", "tasks", "failed_tasks", "starved_stages",
                "cpu_s", "run_s", "gc_s", "input_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            ),
            0.0,
        )
        busy: list[tuple[float, float]] = []
        seen: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                rec = _stage_record(store, sid)
                if rec is None:
                    continue
                rec.update(op=op.id, job=jid)
                self.stages.append(rec)
                agg["stages"] += 1
                agg["tasks"] += rec["tasks"]
                agg["failed_tasks"] += rec["failed_tasks"]
                agg["cpu_s"] += rec["cpu_ns"] / 1e9
                agg["run_s"] += rec["run_ms"] / 1e3
                agg["gc_s"] += rec["gc_ms"] / 1e3
                agg["input_mb"] += rec["input_bytes"] / 1e6
                agg["shuffle_read_mb"] += rec["shuffle_read_bytes"] / 1e6
                agg["shuffle_write_mb"] += rec["shuffle_write_bytes"] / 1e6
                agg["spill_mb"] += rec["spill_bytes"] / 1e6
                if rec["submitted_ms"] and rec["completed_ms"]:
                    lo = max(rec["submitted_ms"], op.start * 1000.0)
                    hi = min(rec["completed_ms"], op.end * 1000.0)
                    if hi > lo:
                        busy.append((lo, hi))
                    dur = rec["completed_ms"] - rec["submitted_ms"]
                    if rec["tasks"] < cores and dur >= 0.2 * wall_ms:
                        agg["starved_stages"] += 1
        agg["jobs"] = len(jobs)
        agg["idle_ms"] = max(0.0, wall_ms - _union_ms(busy))
        agg["py_sent"], agg["py_recv"] = _python_bytes(
            self._sql_store(), self._exec_mark, set(jobs)
        )
        op.attrs.update(agg)

    def dump(self) -> dict:
        return {
            "spans": [s.record() for s in self.spans],
            "stages": self.stages,
        }


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _stage_record(store, sid: int) -> dict | None:
    """One stage's last attempt from the status store, or None when
    the stage never ran (skipped: its shuffle output was reused)."""
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # py4j NoSuchElementException: never submitted
        return None
    status = sd.status().toString()
    if status == "SKIPPED":
        return None
    return {
        "stage": sid,
        "status": status,
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "run_ms": sd.executorRunTime(),
        "cpu_ns": sd.executorCpuTime(),
        "gc_ms": sd.jvmGcTime(),
        "input_bytes": sd.inputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.diskBytesSpilled(),
        "submitted_ms": _opt_ms(sd.submissionTime()),
        "completed_ms": _opt_ms(sd.completionTime()),
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def _size_bytes(text: str) -> float:
    """Bytes of a size metric as the SQL status store renders it: a
    bare ``"112.7 KiB"`` for one value, or a ``"total (min, med, max
    ...)"`` header line and then the total first; 0.1-unit precision."""
    m = _SIZE.search(text)
    return float(m.group(1)) * 1024 ** _UNITS.index(m.group(2)) if m else 0.0


def _python_bytes(sql, mark: int, jobs: set[int]) -> tuple[float, float]:
    """Bytes sent to / returned from Python workers by the SQL
    executions (from index ``mark`` on) whose jobs are in ``jobs``,
    read from the aggregated metric values the status store keeps for
    every ended execution (the live accumulators are only weakly
    referenced once the plan is gone)."""
    if not jobs:
        return 0.0, 0.0
    execs = sql.executionsList(mark, 1 << 20)
    sent = recv = 0.0
    for i in range(execs.size()):
        ex = execs.apply(i)
        it = ex.jobs().keysIterator()
        ex_jobs = set()
        while it.hasNext():
            ex_jobs.add(int(it.next()))
        if not ex_jobs & jobs:
            continue
        values = sql.executionMetrics(ex.executionId())
        metrics = ex.metrics()
        seen: set[int] = set()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            name = m.name()
            if name not in (PY_SENT, PY_RECV) or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            # a node of a plan that adaptive execution replaced never
            # ran and has no value
            value = values.get(m.accumulatorId())
            size = _size_bytes(value.get()) if value.isDefined() else 0.0
            if name == PY_SENT:
                sent += size
            else:
                recv += size
    return sent, recv


def self_ms(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start"] * 1000.0, span["end"] * 1000.0
    covered = _union_ms(
        [
            (max(c["start"] * 1000.0, lo), min(c["end"] * 1000.0, hi))
            for c in children
        ]
    )
    return hi - lo - covered
