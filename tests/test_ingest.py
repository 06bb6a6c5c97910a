"""End-to-end ingest: synthetic xlsx landing dir -> binaryFile scan ->
mapInPandas parse -> clean -> idempotent partitioned write (golden
semantics: re-running the same input is a no-op). SURVEY §5.2."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from radares_spark.io.ingest import clean_flows, parse_reports
from radares_spark.io.report_parser import build_bad_report, build_report
from radares_spark.pipeline.audit import completeness_audit
from radares_spark.pipeline.backfill import backfill_plan
from radares_spark.pipeline.ledger import idempotent_append
from radares_spark.schemas import BIN_COLS
from radares_spark.session import driver_frame

EQUIPS = ["FS551JOI", "FS655JOI", "FS661JOI"]
DATES = [dt.date(2024, 3, 15), dt.date(2024, 3, 16)]


@pytest.fixture(scope="module")
def landing(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("landing")
    for i, eq in enumerate(EQUIPS):
        for day in DATES:
            t = i % 3 + 1
            (d / f"{eq}-{day}.xlsx").write_bytes(build_report(t, day, eq))
    (d / "broken.xlsx").write_bytes(build_bad_report())
    return str(d)


def test_parse_and_quarantine(spark, landing):
    raw = parse_reports(spark, landing)
    counts = dict(raw.groupBy("status").count().collect())
    # t1=96, t2=192, t3=192 rows per file, 2 days each + 1 bad file
    assert counts["parsed"] == 2 * (96 + 192 + 192)
    assert counts["quarantined"] == 1
    q = raw.filter(F.col("status") == "quarantined").collect()
    assert len(q) == 1 and "unknown layout" in q[0]["error"]


def test_clean_flows_semantics(spark, landing):
    flows = clean_flows(parse_reports(spark, landing))
    rows = flows.filter(
        (F.col("equipment") == "FS551JOI") & (F.col("pubdate") == "2024-03-15")
    ).collect()
    assert len(rows) == 96
    r0 = sorted(rows, key=lambda r: r["initial_time"])[0]
    assert r0["direction"] == "Norte"  # ".../N" cleaned
    assert r0["initial_time"] == "00:00" and r0["end_time"] == "00:15"
    assert r0["slot_start"] == dt.datetime(2024, 3, 15, 0, 0)
    # A2 invariant survives cleaning
    bad = flows.filter(
        sum(F.col(c) for c in BIN_COLS) != F.col("total")
    ).count()
    assert bad == 0


def test_idempotent_append(spark, landing, tmp_path):
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    n1, skipped1 = idempotent_append(spark, flows, wh)
    assert n1 == flows.count() and skipped1 == 0
    n2, skipped2 = idempotent_append(spark, flows, wh)  # re-run: no-op
    assert n2 == 0 and skipped2 == len(EQUIPS) * len(DATES)
    stored = spark.read.parquet(f"{wh}/flows")
    assert stored.count() == n1
    # partitioned by pubdate on disk
    parts = {p.name for p in Path(wh, "flows").iterdir() if p.is_dir()}
    assert parts == {f"pubdate={d.isoformat()}" for d in DATES}


def test_e2e_ingested_flows_feed_analytics(spark, landing, tmp_path):
    """Full reference workflow: landed xlsx -> parse -> clean ->
    warehouse -> the declared analytics (SURVEY §2.7 A3) over the REAL
    11-bin speed histogram columns — a reference user's entire daily
    loop plus the analysis Postgres was supposed to serve."""
    from radares_spark.functions.histogram import (
        bins_long,
        percentile_col,
        speeding_ratio,
        weighted_mean_speed,
    )
    from radares_spark.schemas import SPEED_BINS

    wh = str(tmp_path / "warehouse")
    idempotent_append(spark, clean_flows(parse_reports(spark, landing)), wh)
    flows = spark.read.parquet(f"{wh}/flows")
    n_rows = flows.count()

    hist = flows.groupBy("equipment", "pubdate").agg(
        *[F.sum(c).alias(c) for c, _, _ in SPEED_BINS]
    )
    stats = hist.select(
        "equipment",
        "pubdate",
        weighted_mean_speed().alias("wm"),
        speeding_ratio(60).alias("sr"),
    ).collect()
    assert len(stats) == len(EQUIPS) * len(DATES)
    for r in stats:
        assert 0.0 <= r["wm"] <= 120.0  # inside the bin range
        assert 0.0 <= r["sr"] <= 1.0

    p85 = hist.select(percentile_col().alias("p85_speed")).collect()
    uppers = {hi for _, _, hi in SPEED_BINS}
    assert all(r["p85_speed"] in uppers for r in p85)

    long = bins_long(flows, ["equipment", "pubdate", "slot_start"])
    assert long.count() == n_rows * len(SPEED_BINS)
    # unpivot conserves mass: Σ cnt == Σ total
    assert (
        long.agg(F.sum("cnt")).collect()[0][0]
        == flows.agg(F.sum("total")).collect()[0][0]
    )


def test_audit_and_backfill(spark, landing, tmp_path):
    wh = str(tmp_path / "warehouse")
    flows = clean_flows(parse_reports(spark, landing))
    idempotent_append(spark, flows, wh)
    ledger = spark.read.parquet(f"{wh}/equipment_files")

    audit = completeness_audit(ledger, expected=4).collect()
    assert {(r["pubdate"], r["n_equipments"]) for r in audit} == {
        (DATES[0], 3),
        (DATES[1], 3),
    }

    equip_dim = driver_frame(
        spark,
        [(e,) for e in EQUIPS + ["FS999JOI"]],
        StructType([StructField("equipment", StringType())]),
    )
    plan = backfill_plan(spark, equip_dim, ledger, DATES[0], DATES[1])
    missing = {(r["pubdate"], r["equipment"]) for r in plan.collect()}
    assert missing == {(d, "FS999JOI") for d in DATES}
