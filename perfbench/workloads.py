"""The benchmark's workloads. Each is one closed-loop client in one
process; each returns the run's operations and, when traced, the
per-layer metrics."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import checks, gen
from perfbench.harness import Run
from perfbench.tracing import Counters, Span, attribute, read_spark_counters, self_times

PORTAL_URL = "https://portal.invalid/relatorio"

RADAR_WRAPS = [
    ("radares_spark.cli", "cmd_scrape", "cli"),
    ("radares_spark.cli", "cmd_backload", "cli"),
    ("radares_spark.cli", "cmd_verify", "cli"),
    ("radares_spark.io.fetcher", "fetch_reports", "io.fetcher"),
    ("radares_spark.io.fetcher", "fetch_one", "io.fetcher"),
    ("radares_spark.streaming.ingest_stream", "run_ingest_stream", "streaming.ingest_stream"),
    ("radares_spark.pipeline.ledger", "idempotent_append", "pipeline.ledger"),
    ("radares_spark.pipeline.run_log", "fetch_run_log", "pipeline.run_log"),
    ("radares_spark.pipeline.run_log", "parse_run_log", "pipeline.run_log"),
    ("radares_spark.pipeline.run_log", "append_run_log", "pipeline.run_log"),
    ("radares_spark.pipeline.audit", "completeness_audit", "pipeline.audit"),
    ("radares_spark.pipeline.backfill", "backfill_plan", "pipeline.backfill"),
]

# SQL plans (radares_spark.plans.*) and LLM-data operators
# (radares_spark.operators.*), one loop; the order is shuffled per pass.
QUERY_MIX = [
    "q3_shipping_priority",
    "q18_large_orders",
    "events_sessionize",
    "dedup_ngram_jaccard",
    "dedup_semantic",
    "similarity_cosine_topk",
    "text_hash_embed",
    "text_chunk_windows",
    "text_bm25_topk",
    "corpus_dsir_select",
]
OPERATOR_MODULES = ["dedup", "semdedup", "similarity", "embed", "text_ext", "retrieval", "dsir"]
QUERY_SF = 0.01
# Nominal walls on 4 cores, which turn ``--seconds`` into a fixed number
# of warm nights or warm passes (Run.warm_count).
NIGHT_S = 6.0
PASS_S = 12.0


def _setup(run: Run, app: str, program_setup):
    """Session start (a fresh Spark JVM) plus program-side set-up, timed
    as the run's set-up; returns what ``program_setup`` returns."""
    t0 = time.perf_counter()
    run.start_session(app)
    out = program_setup()
    run.setup_s = time.perf_counter() - t0
    run.tracer.sc = run.spark.sparkContext if run.tracer.enabled else None
    return out


# --- radar_nightly ---------------------------------------------------------


def radar_nightly(run: Run) -> dict:
    """A cold night; the periodic backload over the window, as an
    operation of its own (kind ``other``: counted and checked, not in
    the warm figures), which also runs the ingest path a second time so
    the warm nights start past the JIT's first settling; then plain warm
    nights, as many as ``run.seconds`` holds at a nominal night wall."""
    from radares_spark import cli

    n_devices = 8 if run.smoke else 99
    t0 = time.perf_counter()
    plan = gen.radar_plan(run.seed, n_devices)
    portal = gen.FakePortal(plan)
    gen.make_tables(str(run.work / "tables"), run.seed, 0.001 if run.smoke else QUERY_SF)
    run.meta["input_gen_s"] = time.perf_counter() - t0

    dirs = {k: str(run.work / "radar" / k) for k in ("landing", "warehouse", "checkpoint")}

    def program_setup():
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        return run.spark.createDataFrame([(d,) for d in plan.devices], "equipment string")

    devices = _setup(run, "perfbench-radar", program_setup)
    spark, tracer = run.spark, run.tracer
    model = checks.RadarModel(plan)
    args = (dirs["landing"], dirs["warehouse"], dirs["checkpoint"])
    audits = []  # (operation, short days seen, short days the model predicts)

    def verify(op, want) -> None:
        with tracer.span("pipeline.audit"):
            short = cli.cmd_verify(spark, dirs["warehouse"], len(plan.devices)).collect()
        audits.append((op, {(r["pubdate"], r["n_equipments"]) for r in short}, want))

    def night(i: int) -> None:
        day = plan.day(i)
        plan.plan_night(i)
        portal.prebuild([(d, day) for d in plan.devices], attempt=0)
        model.scrape(day)
        with run.op(f"night-{i}", "cold" if i == 0 else "warm") as op:
            cli.cmd_scrape(spark, portal, PORTAL_URL, plan.devices, *args, day=day)
            verify(op, model.audit())

    with tracer.wrap(RADAR_WRAPS):
        night(0)
        portal.prebuild(model.missing(), attempt=1)
        expected_items = model.backload()
        work_items = None
        with run.op("backload", "other") as backload:
            work_items = cli.cmd_backload(
                spark, portal, PORTAL_URL, devices, plan.day0, model.last_day, *args
            )
            verify(backload, model.audit())
        nights = 1 + run.warm_count(NIGHT_S)
        for i in range(1, nights):
            night(i)
    reports = nights * len(plan.devices) + expected_items

    # checks, outside the timer
    t0 = time.perf_counter()
    for op, got, want in audits:
        if op.ok and got != want:
            op.ok, op.detail = False, f"audit {sorted(got)} != {sorted(want)}"
    if backload.ok and work_items != expected_items:
        backload.ok, backload.detail = False, f"backload {work_items} != {expected_items}"
    failures = _radar_run_checks(run, cli, portal, model, dirs, args)
    for o in run.ops:
        if failures and o.ok:  # a whole-run check fails every operation
            o.ok, o.detail = False, "; ".join(failures)
    run.meta["records_per_s"] = reports / run.timed_s()
    run.meta.update(checks=failures or "ok", check_s=time.perf_counter() - t0)
    if not tracer.enabled:
        return {}
    parsed = _parsed_ratio(spark, dirs["warehouse"])
    return radar_layers(run, parsed)


def _radar_run_checks(run, cli, portal, model, dirs, args) -> list[str]:
    """Whole-run checks: flow rows, quarantined files, and a replayed
    last night that must change nothing."""
    from pyspark.sql import functions as F

    spark, wh = run.spark, dirs["warehouse"]
    failures = []
    rows = spark.read.parquet(os.path.join(wh, "flows")).count()
    if rows != model.flow_rows():
        failures.append(f"flows {rows} != {model.flow_rows()}")
    log = spark.read.parquet(os.path.join(wh, "run_log"))
    quarantined = (
        log.filter(F.col("name").startswith("file:") & (F.col("status") == "fail"))
        .select("name").distinct().count()
    )
    if quarantined != len(model.quarantined):
        failures.append(f"quarantined {quarantined} != {len(model.quarantined)}")
    # a cron double-fire: the same night again, the same first-attempt bytes
    replay = gen.FakePortal(portal.plan)
    replay.cache = portal.cache
    with run.tracer.span("replay"):
        cli.cmd_scrape(spark, replay, PORTAL_URL, model.plan.devices, *args, day=model.last_day)
    again = spark.read.parquet(os.path.join(wh, "flows")).count()
    if again != rows:
        failures.append(f"replayed night changed flows {rows} -> {again}")
    return failures


def _parsed_ratio(spark, warehouse: str) -> float:
    from pyspark.sql import functions as F

    log = spark.read.parquet(os.path.join(warehouse, "run_log"))
    parsed = log.filter(F.col("name").startswith("file:"))
    total = parsed.count()
    return parsed.filter(F.col("status") == "processed").count() / total if total else 0.0


# --- queries -----------------------------------------------------------------


def queries(run: Run) -> dict:
    from radares_spark.plans import REGISTRY
    from radares_spark.plans.library import ALL_LIBRARY_SPECS

    specs = {n: REGISTRY.get(n) or ALL_LIBRARY_SPECS[n] for n in QUERY_MIX}
    sf_dir = str(run.work / "tables")
    t0 = time.perf_counter()
    run.meta["table_rows"] = gen.make_tables(sf_dir, run.seed, 0.001 if run.smoke else QUERY_SF)
    run.meta["input_gen_s"] = time.perf_counter() - t0

    _setup(run, "perfbench-queries", lambda: None)
    spark, tracer = run.spark, run.tracer
    rng = np.random.default_rng([run.seed, 7])
    names = [QUERY_MIX[0], QUERY_MIX[-1]] if run.smoke else QUERY_MIX
    # a cold pass, then the warm passes; the order is shuffled per pass.
    # A query's first (cold) request collects its rows for the oracle
    # check; warm requests go to the noop sink.
    collected: dict[str, checks.Collected] = {}
    passes = 1 + run.warm_count(PASS_S)
    for p in range(passes):
        for name in rng.permutation(names):
            spec = specs[name]
            with run.op(name, "cold" if p == 0 else "warm"):
                with tracer.span(f"{_family(spec)}.construct"):
                    df = spec.fn(spark, sf_dir)
                with tracer.span("spark.execute"):
                    if p == 0:
                        collected[name] = checks.Collected(df)
                    else:
                        df.write.format("noop").mode("overwrite").save()
    run.meta["passes"] = passes

    from tests.oracle import duckdb_conn

    t0 = time.perf_counter()
    con = duckdb_conn(sf_dir)
    try:
        results = {
            n: checks.check_query(con, specs[n], collected[n]) if n in collected
            else checks.QueryCheck(n, False, False, "no result: the cold request failed")
            for n in names
        }
    finally:
        con.close()
    run.meta["check_s"] = time.perf_counter() - t0
    for o in run.ops:
        res = results[o.name]
        if o.ok and not res.ok:
            o.ok, o.detail, o.known = False, res.detail[:300], res.known
    run.meta["checks"] = {n: ("ok" if r.ok else "known mismatch" if r.known else "FAILED")
                          for n, r in results.items()}
    return query_layers(run, specs) if tracer.enabled else {}


def _family(spec) -> str:
    """'plans' or 'operators' (any other package counts as operators)."""
    return "plans" if spec.fn.__module__.startswith("radares_spark.plans.") else "operators"


# --- per-layer metrics ------------------------------------------------------
#
# Per-operation figures are totals divided by the number of timed
# operations (nights or requests), so runs of different lengths compare.


SPARK_COUNTERS = [
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("py_init_s", "s"), ("py_run_s", "s"), ("py_bytes_mb", "MB"),
]


class Layers:
    """Spans of a traced run, their self times, and the Spark jobs and
    SQL executions attributed to each span."""

    def __init__(self, run: Run):
        self.run = run
        self.spans = run.tracer.spans
        self.selfs = self_times(self.spans)
        self.counters = attribute(self.spans, read_spark_counters(run.spark))
        self.n_ops = len(run.ops)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str) -> float:
        return sum(self.selfs[s.sid] for s in self.named(name)) / self.n_ops

    def wall_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def counters_of(self, spans: list[Span]) -> list[Counters]:
        return [c for s in spans for c in self.counters.get(s.sid, [])]

    def common(self) -> dict:
        ops = self.named("op")
        op_ids = {s.sid for s in ops}
        covered = sum(s.end - s.start for s in self.spans if s.parent in op_ids)
        warm = [o.wall for o in self.run.ops if o.kind == "warm"]
        out = {
            "session.start_s": (self.run.session_start_s, "s"),
            "trace.op_p50_s": (statistics.median(warm), "s"),
            "trace.bookkeeping_share": (
                self.run.tracer.bookkeeping_s / self.run.timed_s(), "ratio"),
            "trace.span_coverage": (covered / sum(s.end - s.start for s in ops), "ratio"),
        }
        # every Spark job and execution launched inside a timed operation
        cs = self.counters_of([s for s in self.spans if s.op is not None])
        n = self.n_ops
        run_s, cpu_s = _total(cs, "executor_run_s"), _total(cs, "executor_cpu_s")
        out.update({
            "spark.execute_s": (self.wall_s("spark.execute") / n, "s"),
            "spark.jobs_per_op": (_jobs(cs) / n, "count"),
            "spark.stages_per_op": (_total(cs, "stages") / n, "count"),
            "spark.tasks_per_op": (_total(cs, "tasks") / n, "count"),
            "spark.failed_tasks": (_total(cs, "failed_tasks"), "count"),
            "spark.cpu_share": (cpu_s / run_s if run_s else 0.0, "ratio"),
        })
        for attr, unit in SPARK_COUNTERS:
            out[f"spark.{attr}"] = (_total(cs, attr) / n, unit)
        return out


def _jobs(cs: list[Counters]) -> int:
    return sum(c.kind == "job" for c in cs)


def _total(cs: list[Counters], attr: str) -> float:
    return sum(getattr(c, attr) for c in cs)


def radar_layers(run: Run, parsed_ratio: float) -> dict:
    L = Layers(run)
    n = L.n_ops
    ledger = [s.result for s in L.named("pipeline.ledger") if s.result]
    work_items = [s.result for s in L.named("cli") if type(s.result) is int]
    fetches = [s for s in L.named("io.fetcher") if L.spans[s.parent].name == "io.fetcher"]
    ingest = L.counters_of(L.named("streaming.ingest_stream"))
    out = L.common()
    out.update({
        "cli.self_s": (L.self_s("cli"), "s"),
        "io.fetcher.calls": (len(fetches) / n, "count"),
        "io.fetcher.self_s": (L.self_s("io.fetcher"), "s"),
        "streaming.ingest_stream.self_s": (L.self_s("streaming.ingest_stream"), "s"),
        "streaming.ingest_stream.epochs": (len(ledger) / n, "count"),
        "streaming.ingest_stream.spark_jobs": (_jobs(ingest) / n, "count"),
        "io.ingest.parsed_ratio": (parsed_ratio, "ratio"),
        "pipeline.ledger.rows_written": (sum(r[0] for r in ledger) / n, "count"),
        "pipeline.ledger.groups_skipped": (sum(r[1] for r in ledger) / n, "count"),
        "pipeline.backfill.self_s": (L.self_s("pipeline.backfill"), "s"),
        "pipeline.backfill.work_items": (sum(work_items) / n, "count"),
    })
    for attr, unit in (("executor_run_s", "s"), ("py_init_s", "s"),
                       ("py_run_s", "s"), ("py_bytes_mb", "MB")):
        out[f"streaming.ingest_stream.{attr}"] = (_total(ingest, attr) / n, unit)
    for layer in ("pipeline.ledger", "pipeline.run_log", "pipeline.audit"):
        out[f"{layer}.self_s"] = (L.self_s(layer), "s")
        out[f"{layer}.spark_jobs"] = (_jobs(L.counters_of(L.named(layer))) / n, "count")
    return out


def query_layers(run: Run, specs: dict) -> dict:
    L = Layers(run)
    ops = run.ops
    out = L.common()
    in_op = [s for s in L.spans if s.op is not None]
    for fam in ("plans", "operators"):
        idx = {i for i, o in enumerate(ops) if _family(specs[o.name]) == fam}
        k = max(len(idx), 1)
        construct = L.wall_s(f"{fam}.construct")
        wall = sum(ops[i].wall for i in idx)
        out[f"{fam}.construct_s"] = (construct / k, "s")
        out[f"{fam}.construct_share"] = (construct / wall if wall else 0.0, "ratio")
        cs = L.counters_of([s for s in in_op if s.op in idx])
        for attr in ("py_init_s", "py_run_s", "py_bytes_mb"):
            out[f"spark.{fam}.{attr}"] = (_total(cs, attr) / k, dict(SPARK_COUNTERS)[attr])
    for mod in OPERATOR_MODULES:
        walls = [o.wall for o in ops if o.kind == "warm"
                 and specs[o.name].fn.__module__ == f"radares_spark.operators.{mod}"]
        out[f"operators.{mod}.wall_s"] = (statistics.median(walls) if walls else 0.0, "s")
    return out


WORKLOADS = {"radar_nightly": radar_nightly, "queries": queries}
