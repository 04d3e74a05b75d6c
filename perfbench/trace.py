"""Spans, Spark status-store counters and the statistics the report uses.

The benchmark records spans from its own code, around calls into the
program's public functions; nothing inside the program is instrumented.
Each span remembers the Spark job-id range that was issued while it was
open. After an operation completes, `Tracer.flush` reads those jobs from
Spark's status store (and the SQL executions that own them) and
attributes every job to the innermost span whose range holds it. Job ids
are sequential per SparkContext, so ranges count jobs exactly even after
the status store has evicted old ones.
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# -- statistics ---------------------------------------------------------------

PERCENTILE_LADDER = (50.0, 90.0, 99.0, 99.9)


def highest_valid_percentile(n: int, ladder=PERCENTILE_LADDER) -> float | None:
    """The highest percentile of `ladder` with at least ten of `n`
    samples beyond it (n * (100 - p) / 100 >= 10), or None if none has."""
    valid = [p for p in ladder if n * (100.0 - p) / 100.0 >= 10 - 1e-9]
    return max(valid) if valid else None


def quantile(values, p: float) -> float:
    """Linear-interpolated percentile `p` (0-100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 50.0)


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float | None = None
    job_lo: int = 0
    job_hi: int = 0  # exclusive
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def self_time(spans: list[Span], i: int) -> float:
    """Span i's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    s = spans[i]
    lo, hi = s.start, s.end if s.end is not None else s.start
    ivs = sorted(
        (max(c.start, lo), min(c.end if c.end is not None else c.start, hi))
        for c in spans
        if c.parent == i
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


# -- status-store readers -----------------------------------------------------

_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str | None) -> float:
    """A formatted SQL metric ("7.0 s", "468.1 KiB", "2,667", or the
    "total (min, med, max ...)\\n<total> (...)" form) as seconds, bytes or
    a plain count. The total is the first value on the last line."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _DURATION_UNITS.get(unit, _SIZE_UNITS.get(unit, 1))


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


STAGE_FIELDS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
    "output_bytes",
)


class Tracer:
    """Records spans when enabled; a disabled tracer costs one attribute
    check per span, so the end-to-end run and the traced run share code.
    `span()` yields the span's index (None when disabled)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: dict[int, dict] = {}  # job id -> counters, span index
        self.python_nodes: list[dict] = []  # one per SQL execution read
        self.overhead_s = 0.0  # the tracer's own time inside flush()
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._flushed_job = 0
        self._seen_exec: set[int] = set()
        self._jsc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        # one stack for all threads: the loop is closed, so the stream's
        # callback thread runs only while the main thread waits inside
        # an open span, and spans nest in time
        stack = self._stack
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, stack[-1] if stack else None, time.perf_counter(),
                      job_lo=self.next_job_id(), counts=dict(counts))
            self.spans.append(sp)
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            sp.job_hi = self.next_job_id()
            sp.end = time.perf_counter()

    def _owner(self, job_id: int) -> int | None:
        """Innermost (latest-opened) span whose job range holds job_id."""
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            if s.job_lo <= job_id < s.job_hi:
                return i
        return None

    def flush(self) -> None:
        """Read every job issued since the last flush from the status store.
        Call between operations, while no job is running."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        store = self._jsc.statusStore()
        hi = self.next_job_id()
        for jid in range(self._flushed_job, hi):
            rec = {k: 0.0 for k in STAGE_FIELDS}
            rec.update(stages=0, tasks=0, worst_skew=1.0, span=self._owner(jid))
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted before this flush
                self.jobs[jid] = rec
                continue
            for sid in _seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["executor_run_ms"] += st.executorRunTime()
                rec["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["gc_ms"] += st.jvmGcTime()
                rec["output_bytes"] += st.outputBytes()
                if st.numCompleteTasks() >= 2:
                    rec["worst_skew"] = max(rec["worst_skew"], self._stage_skew(store, sid, st.attemptId()))
            self.jobs[jid] = rec
        self._flushed_job = hi
        self._read_python_nodes()
        self.overhead_s += time.perf_counter() - t0

    def _stage_skew(self, store, sid: int, attempt: int) -> float:
        """max / median task run time of one stage; stages whose slowest
        task ran under 50 ms are too short to call skewed."""
        gw = self.spark.sparkContext._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        opt = store.taskSummary(sid, attempt, qs)
        if opt.isEmpty():
            return 1.0
        run = opt.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        if mx < 50 or med <= 0:
            return 1.0
        return mx / med

    def _read_python_nodes(self) -> None:
        """Per new SQL execution: the MapInPandas nodes in plan order (root
        first), with Python run/init time and output rows, and the owning
        span of the execution's first job."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = int(sql.executionsCount())
        window = min(count, 1000)
        for ex in _seq(sql.executionsList(max(count - window, 0), window)):
            eid = ex.executionId()
            if eid in self._seen_exec or ex.completionTime().isEmpty():
                continue
            self._seen_exec.add(eid)
            job_ids = [int(j) for j in _seq(ex.jobs().keys().toSeq())]
            if not job_ids:
                continue
            values = sql.executionMetrics(eid)
            nodes = []
            for nd in _seq(sql.planGraph(eid).allNodes()):
                if nd.name() not in ("MapInPandas", "Filter"):
                    continue
                mets = {}
                for m in _seq(nd.metrics()):
                    v = values.get(m.accumulatorId())
                    mets[m.name()] = parse_sql_metric(v.get() if v.isDefined() else None)
                nodes.append({"name": nd.name(), **mets})
            if any(n["name"] == "MapInPandas" for n in nodes):
                self.python_nodes.append({"span": self._owner(min(job_ids)), "nodes": nodes})

    # -- aggregation ---------------------------------------------------------

    def spans_named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def within(self, i: int, j: int | None) -> bool:
        """True when span j is span i or one of its descendants."""
        while j is not None:
            if j == i:
                return True
            j = self.spans[j].parent
        return False

    def job_totals(self, under: list[int] | None = None) -> dict:
        """Summed counters of the jobs owned by the spans in `under` or
        their descendants (all flushed jobs when `under` is None)."""
        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot.update(jobs=0, stages=0, tasks=0, worst_skew=1.0)
        for rec in self.jobs.values():
            if under is not None and not any(self.within(i, rec["span"]) for i in under):
                continue
            tot["jobs"] += 1
            for k in STAGE_FIELDS + ("stages", "tasks"):
                tot[k] += rec[k]
            tot["worst_skew"] = max(tot["worst_skew"], rec["worst_skew"])
        return tot

    def to_json(self) -> dict:
        return {
            "spans": [
                {
                    "name": s.name,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self_time(self.spans, i),
                    "jobs": [s.job_lo, s.job_hi],
                    **s.counts,
                }
                for i, s in enumerate(self.spans)
            ],
            "python_nodes": self.python_nodes,
            "overhead_s": self.overhead_s,
        }
