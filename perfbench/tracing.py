"""Tracing from outside the program: spans, job groups, Spark counters.

- :class:`Tracer` records spans (name, start, end, parent, operation
  id) in memory. With tracing on, every span also tags the Spark jobs
  it launches with its own job group, so the counters Spark keeps per
  job can be attributed to it afterwards.
- :meth:`Tracer.wrap` swaps wrapped functions into the program's
  modules for the duration of a run. The program's source is never
  edited: each target function is replaced in every loaded
  ``radares_spark`` module that holds a reference to it, so calls made
  through ``from x import f`` bindings are traced too.
- :func:`read_spark_counters` reads per-job stage metrics (run time,
  CPU, shuffle, spill, tasks) and per-SQL-execution Python-worker
  metrics (start-up, run time, bytes each way) from the Spark driver's
  status store, which is populated even with the UI disabled.
- :func:`self_times` folds spans into per-span self time: duration
  minus the part of the interval covered by child spans.

The benchmark is one closed-loop client; spans opened on a py4j
callback thread (a streaming ``foreachBatch`` sink) nest under the
span that is blocked waiting for them, so one shared stack is used.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    result: object = None
    group: str | None = None


@dataclass
class Tracer:
    """Span recorder. With ``enabled`` false, spans are not recorded and
    no job group is set: the untraced run measures the program alone."""

    enabled: bool
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    op: int | None = None
    bookkeeping_s: float = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, self.op, parent, 0.0)
        prev_group = None
        if self.sc is not None:
            s.group = f"perfbench-{s.sid}"
            prev_group = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(s.group, name)
        self.spans.append(s)
        self.stack.append(s)
        s.start = time.time()
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self.stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group[0])
                self.sc.setLocalProperty("spark.job.description", prev_group[1])
            self.bookkeeping_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def wrap(self, targets: list[tuple[str, str, str]]):
        """Install spans around ``module.attr`` for each (module, attr,
        span name); restore the originals on exit."""
        swapped: list[tuple[object, str, object]] = []
        if self.enabled:
            for mod_name, attr, span_name in targets:
                orig = getattr(sys.modules[mod_name], attr)
                wrapped = self._wrapped(orig, span_name)
                for mod in list(sys.modules.values()):
                    if (getattr(mod, "__name__", "").startswith("radares_spark")
                            and getattr(mod, attr, None) is orig):
                        swapped.append((mod, attr, orig))
                        setattr(mod, attr, wrapped)
        try:
            yield
        finally:
            for mod, attr, orig in swapped:
                setattr(mod, attr, orig)

    def _wrapped(self, fn, span_name: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(span_name) as s:
                out = fn(*args, **kwargs)
                s.result = out if isinstance(out, (int, tuple)) else None
                return out

        return call


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


# --- Spark status store ---------------------------------------------------

PY_METRICS = {
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_mb",
    "data returned from Python workers": "py_bytes_mb",
}
_PY_METRIC_DECL = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, PY_METRICS)) + r"),(\d+),(\w+)\)"
)
_RAW_UNITS = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / 2**20}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VALUE = re.compile(r"([0-9][0-9,.]*)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or MiB.

    The status store keeps metrics as display strings, e.g.
    ``"total (min, med, max ...)\\n4.5 s (1.1 s, ...)"``; the total is
    the first value on the last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


@dataclass
class Counters:
    """Counters of one Spark job (stage metrics) or one SQL execution
    (Python-worker metrics, which the store keeps per execution)."""

    kind: str  # "job" | "execution"
    ident: int
    group: str | None
    submitted: float  # epoch seconds
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    py_init_s: float = 0.0
    py_run_s: float = 0.0
    py_bytes_mb: float = 0.0


def read_spark_counters(spark) -> list[Counters]:
    """Every job in the status store with its stages' metrics, and every
    SQL execution that ran Python workers with their metrics."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = jsc.statusStore()

    jobs: dict[int, Counters] = {}
    stage_owner: dict[int, int] = {}
    for j in conv.asJava(store.jobsList(None)):
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        sub = j.submissionTime()
        submitted = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        jc = Counters("job", j.jobId(), group, submitted)
        jobs[jc.ident] = jc
        for sid in conv.asJava(j.stageIds()):
            stage_owner[sid] = min(stage_owner.get(sid, jc.ident), jc.ident)

    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    for st in conv.asJava(stages):
        owner = jobs.get(stage_owner.get(st.stageId()))
        if owner is None or st.numCompleteTasks() + st.numFailedTasks() == 0:
            continue
        owner.stages += 1
        owner.tasks += st.numTasks()
        owner.failed_tasks += st.numFailedTasks()
        owner.executor_run_s += st.executorRunTime() / 1e3
        owner.executor_cpu_s += st.executorCpuTime() / 1e9
        owner.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
        owner.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20

    out = sorted(jobs.values(), key=lambda c: c.ident)
    sql = spark._jsparkSession.sharedState().statusStore()
    live = jvm.org.apache.spark.util.AccumulatorContext
    for e in conv.asJava(sql.executionsList()):
        # an accumulator can be listed once per plan version; count it once
        decl = {int(i): (name, kind) for name, i, kind in
                _PY_METRIC_DECL.findall(e.metrics().toString())}
        if not decl:
            continue
        ec = Counters("execution", e.executionId(), None, e.submissionTime() / 1000.0)
        values = sql.executionMetrics(e.executionId())
        for acc, (name, kind) in decl.items():
            # the store's display string, or — for plans run outside a
            # tracked execution, as a foreachBatch sink's checkpoint is —
            # the live accumulator's raw value
            if values.contains(acc):
                v = parse_metric(values.apply(acc))
            else:
                a = live.get(acc)
                v = a.get().value() * _RAW_UNITS[kind] if a.isDefined() else 0.0
            key = PY_METRICS[name]
            setattr(ec, key, getattr(ec, key) + v)
        out.append(ec)
    return out


def attribute(spans: list[Span], counters: list[Counters]) -> dict[int, list[Counters]]:
    """Span id -> the jobs and executions it launched. A job carrying a
    span's group is that span's; anything else (a streaming query's own
    jobs run under its run id; executions carry no group) goes to the
    innermost span open when it was submitted."""
    by_group = {s.group: s.sid for s in spans if s.group}
    out: dict[int, list[Counters]] = {}
    for c in counters:
        sid = by_group.get(c.group)
        if sid is None:
            open_ = [s for s in spans if s.start <= c.submitted <= s.end]
            if not open_:
                continue
            sid = max(open_, key=lambda s: s.start).sid
        out.setdefault(sid, []).append(c)
    return out
