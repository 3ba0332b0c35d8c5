"""Spans recorded from the benchmark's own code, and the Spark
statistics attributed to them.

A span wraps one call into a layer of the program. Spans nest; the
spans of one operation share its ``op`` id. When tracing is on, every
span also tags the Spark jobs launched inside it with a job group of
its own (``SparkContext.setJobGroup``), so that Spark's status store
(kept with the UI off) attributes job, stage, task and SQL metrics to
the innermost span that caused them. Spans stay in memory; ``harvest``
reads the status store after a pass, outside any timed region.

A layer's self time is its span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PYUDF_METRICS = {
    "data sent to Python workers": "pyudf.bytes_sent",
    "data returned from Python workers": "pyudf.bytes_returned",
}
_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    stats: dict = field(default_factory=dict)
    # (run time in ms, max over median task time) of the slowest stage
    slowest_stage: tuple[float, float] = (0.0, 0.0)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span index → duration minus the time its direct children cover
    (children run sequentially in the one driver thread, so they never
    overlap each other)."""
    out = {i: s.end - s.start for i, s in enumerate(spans)}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op,
    so the untraced passes run the same benchmark code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._frames: list = []  # (span index, DataFrame) pairs for Catalyst phases
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        """Record a span. With ``tag_jobs=False`` (an operation's root,
        which launches no job outside its children) it sets no job group
        and so makes no call into the JVM."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"perfbench-{idx}" if tag_jobs else ""
        self.spans.append(Span(self._op, name, parent, time.perf_counter(), group=group))
        self._stack.append(idx)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self._stack.pop()
            p = self.spans[parent] if parent is not None else None
            if p is not None and p.group:
                self.sc.setJobGroup(p.group, p.name)
            elif group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            # the span's own bookkeeping counts as its time
            self.spans[idx].end = time.perf_counter()

    def plan_of(self, df) -> None:
        """Remember the DataFrame the current span materialized, to read
        its Catalyst phase times at harvest."""
        if self.enabled:
            self._frames.append((self._stack[-1], df))

    def harvest(self, spark, first_span: int) -> None:
        """Attach status-store statistics to spans[first_span:]."""
        jvm_sc = spark.sparkContext._jsc.sc()
        store = jvm_sc.statusStore()
        gw = spark.sparkContext._gateway
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        tracker = spark.sparkContext.statusTracker()
        job_span: dict[int, int] = {}
        for idx in range(first_span, len(self.spans)):
            s = self.spans[idx]
            st = s.stats
            for k in ("exec.s", "exec.jobs", "exec.stages", "exec.tasks",
                      "exec.task_cpu_s", "exec.run_s", "exec.gc_s",
                      "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                      "exec.spill_bytes", "exec.single_task_stages",
                      "pyudf.bytes_sent", "pyudf.bytes_returned"):
                st[k] = 0.0
            for job_id in tracker.getJobIdsForGroup(s.group) if s.group else ():
                job_span[job_id] = idx
                jd = store.job(job_id)
                st["exec.jobs"] += 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    st["exec.s"] += (
                        jd.completionTime().get().getTime()
                        - jd.submissionTime().get().getTime()
                    ) / 1e3
                ids = jd.stageIds()
                for i in range(ids.size()):
                    try:
                        sd = store.lastStageAttempt(ids.apply(i))
                    except Exception:  # noqa: BLE001 — stage evicted or never submitted
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue
                    st["exec.stages"] += 1
                    st["exec.tasks"] += sd.numTasks()
                    st["exec.single_task_stages"] += sd.numTasks() == 1
                    st["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
                    st["exec.run_s"] += sd.executorRunTime() / 1e3
                    st["exec.gc_s"] += sd.jvmGcTime() / 1e3
                    st["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    st["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if sd.executorRunTime() > s.slowest_stage[0]:
                        dist = store.taskSummary(sd.stageId(), sd.attemptId(), quant)
                        if dist.isDefined():
                            rt = dist.get().executorRunTime()
                            med, mx = rt.apply(0), rt.apply(1)
                            s.slowest_stage = (sd.executorRunTime(), mx / med if med > 0 else 1.0)
        self._harvest_sql(spark, job_span)
        for idx, df in self._frames:  # only traced spans record frames
            phases = df._jdf.queryExecution().tracker().phases()
            st = self.spans[idx].stats
            for p in CATALYST_PHASES:
                o = phases.get(p)
                if o.isDefined():
                    key = f"catalyst.{p}_ms"
                    st[key] = st.get(key, 0.0) + o.get().durationMs()
        self._frames = []

    def _harvest_sql(self, spark, job_span: dict[int, int]) -> None:
        """Python-worker byte counts from the SQL status store, credited
        to the span that owns the execution's jobs."""
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet()
            it = jobs.iterator()
            owner = None
            while it.hasNext():
                owner = job_span.get(int(it.next()), owner)
            if owner is None:
                continue
            graph = sql.planGraph(e.executionId())
            values = sql.executionMetrics(e.executionId())
            nodes = graph.allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for z in range(ms.size()):
                    m = ms.apply(z)
                    key = PYUDF_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        self.spans[owner].stats[key] += parse_size(v.get())


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric: its total is the first
    size on the last line ("total (min, med, max ...)\\n12.3 MiB (...)")."""
    m = _SIZE.search(text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0
