"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload radar_nightly --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into a fresh directory under ``perfbench/.work/``, which is also the
process's working directory (so Spark's ``spark-warehouse/`` and
temporary files stay there) and is removed at exit.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` wraps the program's public functions in spans and
reports the per-layer metrics; its span log is kept in
``perfbench/.work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is the run record (seed, commit, machine, versions, input
generation time, calibration anchors, check results).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"


def _program_present() -> bool:
    return (ROOT / "radares_spark" / "session.py").is_file() and (
        ROOT / "tests" / "oracle.py"
    ).is_file()


def _environment(work: Path) -> None:
    """Sizing and isolation, set before pyspark or the program loads."""
    from perfbench.harness import DRIVER_MEM, nproc

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata: the JVM would write it under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _commit() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    out = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=False
    )
    return out.stdout.strip() or "unknown"


def _anchors(run) -> dict:
    """bench.py's frozen scan and CPU calibration plans, one run each
    after the workload: machine-health context, not metrics."""
    import bench

    spark, sf_dir = run.spark, str(run.work / "tables")
    out = {}
    for name, make in (
        ("scan_s", lambda: bench._calibration_plan(spark, sf_dir)),
        ("cpu_s", lambda: bench._calibration_cpu_plan(spark)),
    ):
        out[name] = bench._noop_time(make())
    return out


def _stop(run) -> None:
    """Stop Spark and wait for the Spark driver JVM to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, 2 operations")
    args = ap.parse_args(argv)

    if not _program_present():
        print("perfbench: radares_spark/ and tests/oracle.py not found under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[0] = str(ROOT)  # import as the perfbench package, not as loose modules
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    from perfbench.harness import DRIVER_MEM, PeakRss, Run, cpu_times, end_to_end, nproc, steal_share
    from perfbench.tracing import Tracer

    cwd = os.getcwd()
    os.chdir(work)
    run = Run(work, args.seed, args.seconds, args.smoke, Tracer(bool(args.trace)))
    cpu0 = cpu_times()
    try:
        with PeakRss() as rss:
            layers = WORKLOADS[args.workload](run)
        run.meta.update(
            cpu_steal_share=steal_share(cpu0, cpu_times()),
            peak_mb_by_kind=rss.peak_by_kind,
        )
        import pyspark

        run.meta.update(
            anchors=_anchors(run),
            java=run.spark.sparkContext._jvm.System.getProperty("java.version"),
            pyspark=pyspark.__version__,
        )
        e2e = end_to_end(run, rss.peak_mb)
        spans = [vars(s) | {"result": None} for s in run.tracer.spans]
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop(run)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in run.ops if not o.ok]
    unexpected = sorted({o.name for o in failed if not o.known})
    run.meta["unexpected_failures"] = unexpected
    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    produced = layers if args.trace else e2e
    metrics = {}
    for m in manifest["per_layer" if args.trace else "end_to_end"]:
        # a layer the workload does not exercise reports 0
        value, unit = produced.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            print(f"perfbench: {m['name']} measured in {unit}, BENCHMARK.json says "
                  f"{m['unit']}", file=sys.stderr)
            return 1
        metrics[m["name"]] = (value, unit)
    run.meta.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        commit=_commit(), nproc=nproc(), driver_memory=DRIVER_MEM,
        session_start_s=run.session_start_s, timed_s=run.timed_s(),
        ops=[(o.name, o.kind, round(o.wall, 4), o.ok, o.detail) for o in run.ops],
    )
    if args.trace:
        trace_file = WORK / f"trace-{args.workload}-{args.seed}.json"
        trace_file.write_text(json.dumps({"run": run.meta, "spans": spans}, default=str))
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name:48s} {value:14.6g} {unit}")
    print(json.dumps({"run": run.meta}, default=str))
    print(json.dumps({
        "correct": not unexpected,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
