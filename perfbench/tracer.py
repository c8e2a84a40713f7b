"""Spans around calls into the engine's layers, with Spark counters.

A span is opened by the benchmark around one public call (and the action
that consumes its result). When tracing is on, every span runs its jobs
under a job group of its own; when the run ends, :meth:`Tracer.finish`
reads the jobs, stages and SQL executions of each group from the Spark driver's
status stores (``AppStatusStore`` and the SQL one), which Spark fills even
with ``spark.ui.enabled=false``. Nothing is read while a span is open, so
the cost of tracing inside the timed window is one local-property call per
span boundary.

With tracing off, a span only measures its wall time.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

# Counters every Spark-backed span reports (see perfbench/README.md).
SPARK_COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "python_s", "python_boot_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "task_skew", "driver_gap_s",
)

# SQL metric names of PythonSQLMetrics (Spark 4.1).
_PY_RUN = "time to run Python workers"
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
_DURATION = re.compile(r"^([0-9.]+)\s*(ms|s|m|min|h)$")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


class Span:
    __slots__ = ("sid", "name", "parent", "request", "start", "end",
                 "t_epoch0", "group", "counters")

    def __init__(self, sid, name, parent, request):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.request = request
        self.start = self.end = 0.0
        self.t_epoch0 = 0.0
        self.group = None
        self.counters: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "request": self.request, "start": self.start, "end": self.end,
            "counters": self.counters,
        }


class Tracer:
    """Records spans. ``enabled=False`` keeps only wall times, so the
    workloads time their calls through the same code in both modes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, spark) -> None:
        """Start tagging jobs. Spans opened before the session existed
        (``get_spark`` itself) have no group; :meth:`finish` finds their
        jobs by submission time."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, request=None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, request)
        if self.enabled:
            self.spans.append(sp)
            if self._sc is not None:
                sp.group = f"perfbench-span-{sp.sid}"
                self._sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.t_epoch0 = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                # jobs after this point belong to the enclosing span again
                self._sc.setLocalProperty(
                    "spark.jobGroup.id", parent.group if parent else None
                )

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished top-level span measured by the caller (the
        interpreter start and the shutdown, which no ``with`` can wrap)."""
        if self.enabled:
            sp = Span(len(self.spans), name, None, None)
            sp.start, sp.end = start, end
            self.spans.append(sp)

    # -- read counters once the run is over -------------------------------

    def finish(self, spark) -> None:
        """Fill ``span.counters`` for every closed span."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        py_by_job = _python_time_by_job(spark)
        jobs_of = self._ungrouped_jobs(store, sc.statusTracker())
        for sp in self.spans:
            if sp.group is not None:
                jobs_of[sp.sid] = list(sc.statusTracker().getJobIdsForGroup(sp.group))
        for sp in self.spans:
            if sp.end == 0.0:
                continue  # still open: the span around this read-out
            job_ids = jobs_of.get(sp.sid, [])
            c = dict.fromkeys(SPARK_COUNTERS, 0.0)
            c["wall_s"] = sp.wall
            c["jobs"] = len(job_ids)
            intervals = []
            skews = []  # (stage run time, max/median task run time)
            for jid in job_ids:
                job = store.job(jid)
                sub, comp = job.submissionTime(), job.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                    )
                run_s, boot_s = py_by_job.get(jid, (0.0, 0.0))
                c["python_s"] += run_s
                c["python_boot_s"] += boot_s
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    attempts = store.stageData(
                        stage_ids.apply(i), False, jvm.java.util.ArrayList(),
                        True, quantiles,
                    )
                    for a in range(attempts.size()):
                        st = attempts.apply(a)
                        if str(st.status()) != "COMPLETE":
                            continue  # skipped stages reuse earlier output
                        c["stages"] += 1
                        c["tasks"] += st.numCompleteTasks()
                        c["executor_run_s"] += st.executorRunTime() / 1e3
                        c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        c["shuffle_read_bytes"] += st.shuffleReadBytes()
                        c["spill_bytes"] += (
                            st.memoryBytesSpilled() + st.diskBytesSpilled()
                        )
                        dist = st.taskMetricsDistributions()
                        if dist.isDefined() and st.numCompleteTasks() > 1:
                            run = dist.get().executorRunTime()
                            med, mx = run.apply(0), run.apply(1)
                            if med > 0:
                                skews.append((st.executorRunTime(), mx / med))
            # skew of the stage that ran longest: the one a straggler delays
            c["task_skew"] = max(skews)[1] if skews else 1.0
            c["driver_gap_s"] = max(
                0.0, sp.wall - _covered(intervals, sp.t_epoch0, sp.t_epoch0 + sp.wall)
            )
            sp.counters = c

    def _ungrouped_jobs(self, store, tracker) -> dict[int, list]:
        """Jobs run outside any job group (those of ``get_spark``, which
        runs before a group can be set) go to the innermost ungrouped span
        open when they were submitted."""
        out: dict[int, list] = {}
        ungrouped = [sp for sp in self.spans if sp.group is None]
        for jid in tracker.getJobIdsForGroup(None):
            sub = store.job(jid).submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1e3
            inside = [sp for sp in ungrouped
                      if sp.t_epoch0 <= t <= sp.t_epoch0 + sp.wall]
            if inside:
                out.setdefault(inside[-1].sid, []).append(jid)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        child = {sp.sid: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.wall
        return {sp.sid: sp.wall - child[sp.sid] for sp in self.spans}

    def layer_medians(self, name: str, parent_name: str) -> dict:
        """Per-call median of each counter over the spans called ``name``:
        those directly under a ``parent_name`` span when there are any
        (the timed window, not its warm-up), else all of them."""
        spans = [sp for sp in self.spans if sp.name == name and sp.counters]
        parents = {sp.sid for sp in self.spans if sp.name == parent_name}
        spans = [sp for sp in spans if sp.parent in parents] or spans
        if not spans:
            return {}
        return {k: statistics.median(sp.counters[k] for sp in spans)
                for k in spans[0].counters}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _parse_duration(text: str) -> float:
    """Total of a formatted SQL timing metric, in seconds: either ``"12 ms"``
    or ``"total (min, med, max ...)\\n9.3 s (...)"``."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].strip()
    m = _DURATION.match(head)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def _python_time_by_job(spark) -> dict[int, tuple[float, float]]:
    """(python run s, python start+init s) per job id, from the SQL status
    store. A SQL execution's Python metrics are charged to its first job."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, tuple[float, float]] = {}
    execs = sql.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        jobs = ex.jobs().keys().toSeq()
        if jobs.size() == 0:
            continue
        first = min(jobs.apply(k) for k in range(jobs.size()))
        metrics = ex.metrics()
        wanted = {}
        for k in range(metrics.size()):
            m = metrics.apply(k)
            name = m.name()
            if name == _PY_RUN or name in _PY_BOOT:
                wanted[m.accumulatorId()] = name
        if not wanted:
            continue
        values = sql.executionMetrics(ex.executionId())
        run_s = boot_s = 0.0
        for acc_id, name in wanted.items():
            v = values.get(acc_id)
            if not v.isDefined():
                continue
            secs = _parse_duration(v.get())
            if name == _PY_RUN:
                run_s += secs
            else:
                boot_s += secs
        prev = out.get(first, (0.0, 0.0))
        out[first] = (prev[0] + run_s, prev[1] + boot_s)
    return out
