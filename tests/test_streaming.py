"""Structured Streaming: AvailableNow ingest exactly-once, tumbling
windows vs batch equivalence, watermarked late-row drop."""

from __future__ import annotations

import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow

import datetime as dt

from pyspark.sql import functions as F

from radares_spark.io.report_parser import build_bad_report, build_report
from radares_spark.io.tables import load_table
from radares_spark.pipeline.run_log import read_run_log
from radares_spark.streaming.ingest_stream import run_ingest_stream
from radares_spark.streaming.windows import tumbling_15min

SF = "/root/testdata/sf0.001"


def test_streaming_ingest_exactly_once(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    day = dt.date(2024, 5, 1)
    (landing / "a.xlsx").write_bytes(build_report(1, day, "FS551JOI"))

    run_ingest_stream(spark, str(landing), wh, ckpt)
    assert spark.read.parquet(f"{wh}/flows").count() == 96

    # second trigger: nothing new -> no duplicates (checkpoint file log)
    run_ingest_stream(spark, str(landing), wh, ckpt)
    assert spark.read.parquet(f"{wh}/flows").count() == 96

    # new file arrives -> only it is processed
    (landing / "b.xlsx").write_bytes(build_report(2, day, "FS655JOI"))
    run_ingest_stream(spark, str(landing), wh, ckpt)
    assert spark.read.parquet(f"{wh}/flows").count() == 96 + 192
    ledger = spark.read.parquet(f"{wh}/equipment_files")
    assert ledger.count() == 2


def test_run_log_sink(spark, tmp_path):
    """K5: every ingest batch appends per-file processed/fail rows
    (reference scrape.py:89-123 JSON log, as a queryable table)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    day = dt.date(2024, 5, 1)
    (landing / "good.xlsx").write_bytes(build_report(1, day, "FS551JOI"))
    (landing / "broken.xlsx").write_bytes(build_bad_report())

    run_ingest_stream(spark, str(landing), wh, ckpt)
    log = read_run_log(spark, wh).collect()
    by_status = {r["status"]: r for r in log}
    assert len(log) == 2
    assert by_status["processed"]["name"].endswith("good.xlsx")
    assert by_status["processed"]["error"] is None
    assert by_status["fail"]["name"].endswith("broken.xlsx")
    assert "unknown layout" in by_status["fail"]["error"]
    assert by_status["fail"]["dateTime"] is not None

    # second trigger: nothing new -> no new run-log rows
    run_ingest_stream(spark, str(landing), wh, ckpt)
    assert read_run_log(spark, wh).count() == 2


def test_tumbling_window_stream_matches_batch(spark, tmp_path):
    events = load_table(spark, SF, "events")
    # batch truth
    expect = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in (
            events.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        ).collect()
    }

    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = tumbling_15min(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win15")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("select * from win15").collect()
    }
    assert got == expect


@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 1h watermark: a row arriving
    after its window's watermark has passed is DROPPED — the finalized
    window is never re-emitted or corrected (late data belongs to the
    batch backfill path, SURVEY §2.11)."""
    src = tmp_path / "late_src"
    src.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "ts timestamp, event_type string, value double").coalesce(
            1
        ).write.parquet(str(src / name))

    def run():
        stream = spark.readStream.schema("ts timestamp, event_type string, value double").option(
            "pathGlobFilter", "*.parquet"
        ).parquet(str(src) + "/*")
        q = (
            tumbling_15min(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = dt.datetime(2024, 6, 1, 8, 0)
    # batch 1: two rows in the 08:00 window + one at 11:30 that pushes
    # the watermark to 10:30, finalizing (emitting) the 08:00 window
    write_batch("b1", [(t, "click", 1.0), (t + dt.timedelta(minutes=5), "click", 1.0),
                       (dt.datetime(2024, 6, 1, 11, 30), "click", 1.0)])
    run()
    # batch 2: a LATE row for the already-finalized 08:00 window
    write_batch("b2", [(t + dt.timedelta(minutes=7), "click", 99.0)])
    run()

    got = {
        r["window_start"]: (r["n"], r["total_value"])
        for r in spark.read.parquet(out).filter(F.col("event_type") == "click").collect()
    }
    # the 08:00 window was emitted once, from batch 1 only (n=2) — the
    # late 99.0 row vanished instead of duplicating/correcting it
    assert got[t] == (2, 2.0)
