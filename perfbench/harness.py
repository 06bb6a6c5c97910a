"""Shared run machinery: session set-up, operation timing, peak RSS,
and the end-to-end metric summary."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.tracing import Tracer

DRIVER_MEM = "3g"  # explicit, so both sides of a comparison match


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Op:
    name: str
    wall: float
    ok: bool = True
    detail: str = ""
    kind: str = "warm"  # "cold" (first of its kind in the process), "warm" or "other"
    known: bool = False  # failed only by a known engine/oracle mismatch


@dataclass
class Run:
    work: Path
    seed: int
    seconds: float
    smoke: bool
    tracer: Tracer
    spark: object = None
    setup_s: float = 0.0
    session_start_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    meta: dict = field(default_factory=dict)

    def start_session(self, app: str) -> None:
        """Start the program's SparkSession (and with it the Spark JVM)."""
        from radares_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app,
            master=f"local[{nproc()}]",
            extra_conf={
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # A fixed heap and young generation: G1 otherwise grows
                # both from its pause times, so the memory the JVM
                # touches, and with it peak_rss_mb, moved by up to
                # 600 MB between runs. Prepended to the program's own
                # driver JVM options.
                "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -Xmn1g",
                # keep every job of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.session_start_s = time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, name: str, kind: str):
        """Time one operation; an exception marks it failed and the loop
        goes on."""
        rec = Op(name, 0.0, kind=kind)
        self.tracer.op = len(self.ops)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                yield rec
        except Exception as e:  # a failed operation is counted, not fatal
            rec.ok, rec.detail = False, f"{type(e).__name__}: {e}"
        rec.wall = time.perf_counter() - t0
        self.tracer.op = None
        self.ops.append(rec)

    def timed_s(self) -> float:
        return sum(o.wall for o in self.ops)

    def warm_count(self, nominal_s: float) -> int:
        """How many warm operations the run measures: ``seconds`` over
        an operation's nominal wall, at least one. The count depends on
        ``seconds`` alone, so every run, of any version of the program,
        does the same work."""
        return max(1, round(self.seconds / nominal_s))


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the Spark driver JVM and the Python workers) every
    ``period`` seconds. Each process counts its proportional set size,
    so pages the forked Python workers share are counted once."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self.peak_by_kind: dict[str, float] = {}  # "java", "python", "other": each one's peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm[int(p)] = stat[stat.index("(") + 1 : stat.rindex(")")]
            parent[int(p)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            cur = frontier.pop()
            for pid, ppid in parent.items():
                if ppid == cur and pid not in tree:
                    tree.add(pid)
                    frontier.append(pid)
        kb: dict[str, int] = {}
        for pid in tree:
            name = comm[pid]
            # The JVM starts helper commands (Hadoop's shell calls) with
            # posix_spawn: until it execs, the child shares the JVM's
            # memory, and counting it would count the JVM twice. Of the
            # JVM's children only the Python daemon is counted.
            if comm.get(parent[pid]) == "java" and not name.startswith("python"):
                continue
            kind = "java" if name == "java" else "python" if name.startswith("python") else "other"
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb[kind] = kb.get(kind, 0) + next(
                        int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        self.peak_mb = max(self.peak_mb, sum(kb.values()) / 2**10)
        for kind, v in kb.items():
            self.peak_by_kind[kind] = max(self.peak_by_kind.get(kind, 0.0), v / 2**10)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two :func:`cpu_times` readings: machine-health context for a run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def tail(values: list[float]) -> tuple[float, int]:
    """(value, k): the mean of the slowest fifth of ``values`` (the k
    slowest, at least one). A run's few warm samples cannot hold a
    percentile with ten samples beyond it, and its 90th percentile is a
    single request's wall, which on the query mix sat at either of two
    levels from run to run; the mean of the slowest fifth spreads about
    half as much."""
    k = math.ceil(len(values) / 5)
    return statistics.mean(sorted(values)[-k:]), k


def end_to_end(run: Run, peak_mb: float) -> dict:
    """The end-to-end metrics of one untraced run.

    ``first_op_s`` is the mean wall of the cold operations (the first
    night, or each query's first request); medians and tails are taken
    over the warm ones, throughput over every timed operation."""
    first_s = statistics.mean(o.wall for o in run.ops if o.kind == "cold")
    walls = [o.wall for o in run.ops if o.kind == "warm"]
    tail_s, tail_n = tail(walls)
    run.meta.update(op_samples=len(walls), op_tail_n=tail_n)
    ok = sum(o.ok for o in run.ops)
    run.meta["failed_ops_ratio"] = 1 - ok / len(run.ops)
    return {
        "setup_s": (run.setup_s, "s"),
        "first_op_s": (first_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (tail_s, "s"),
        "ops_per_s": (len(run.ops) / run.timed_s(), "1/s"),
        "ok_ops_ratio": (ok / len(run.ops), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
