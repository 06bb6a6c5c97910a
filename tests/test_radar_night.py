"""The radar night's fixed cost and the contracts it rests on.

- **Job budget.** A warm night of 8 devices runs a bounded number of
  Spark jobs, none of them a distributed listing of the landing tree,
  counted through the status store (which the driver keeps with the UI
  off, as perfbench/tracing.py reads it).
- **Key-set append.** ``idempotent_append`` works on the batch's
  distinct (pubdate, equipment) set: exact (rows written, groups
  skipped), one ledger row per key, replay is a no-op, null keys are
  refused; a report landed as two files in one batch is appended once.
- **One run-log append per night.** Fetch and parse rows go out in one
  commit; a night with nothing to parse still records its fetches; the
  Arrow-built fetch rows store the same instant as the list-built ones.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegerType, StringType, StructField, StructType

from radares_spark.cli import cmd_scrape
from radares_spark.io.fetcher import FetchResult
from radares_spark.io.report_parser import build_report
from radares_spark.pipeline.ledger import file_id, idempotent_append
from radares_spark.pipeline.run_log import fetch_run_log, read_run_log
from radares_spark.schemas import RUN_LOG_SCHEMA
from radares_spark.session import driver_frame
from radares_spark.streaming.ingest_stream import run_ingest_stream

DEVICES = [f"FS{500 + i}JOI" for i in range(8)]
DAY = dt.date(2024, 5, 1)
# Spark's spark.sql.sources.parallelPartitionDiscovery.threshold default
LISTING_THRESHOLD = 32
# the jobs a warm 8-device night ran on local[4] when this budget was
# set: the parse epoch, the ledger's key-set append, one run-log write
NIGHT_JOB_BUDGET = 9


class FakePortal:
    """Serves a template-1 workbook per request; ``down`` devices fail."""

    def __init__(self, down=()):
        self.down = set(down)

    def get(self, url, params=None, stream=False):
        equip = params["equipamento"]
        if equip in self.down:
            raise OSError("connection reset")
        d, m, y = params["dataStr"].split("/")

        class R:
            status_code = 200
            content = build_report(1, dt.date(int(y), int(m), int(d)), equip)

            def raise_for_status(self):
                pass

        return R()


def _dirs(tmp_path: Path) -> tuple[str, str, str]:
    return str(tmp_path / "l"), str(tmp_path / "w"), str(tmp_path / "c")


def _jobs_since(spark, after: int) -> list:
    """Jobs with an id above ``after``, from the driver's status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return [j for j in conv.asJava(jsc.statusStore().jobsList(None)) if j.jobId() > after]


def _part_files(path: str) -> set[str]:
    return {p.name for p in Path(path).glob("part-*.parquet")}


def test_warm_night_job_budget(spark, tmp_path):
    landing, wh, ckpt = _dirs(tmp_path)
    # the landing tree holds more directories than Spark's parallel
    # listing threshold, as the 99-device tree does: devices that never
    # delivered still have their directory from earlier nights
    for i in range(LISTING_THRESHOLD):
        os.makedirs(os.path.join(landing, f"FS{900 + i}JOI"))
    portal = FakePortal()
    cmd_scrape(spark, portal, "https://portal/r", DEVICES, landing, wh, ckpt, day=DAY)

    before = max((j.jobId() for j in _jobs_since(spark, -1)), default=-1)
    cmd_scrape(
        spark, portal, "https://portal/r", DEVICES, landing, wh, ckpt,
        day=DAY + dt.timedelta(days=1),
    )
    jobs = _jobs_since(spark, before)

    def text(j):
        return (j.description().get() if j.description().isDefined() else "") + j.name()

    listing = [text(j) for j in jobs if "Listing leaf files" in text(j)]
    assert listing == []
    assert 0 < len(jobs) <= NIGHT_JOB_BUDGET, [text(j) for j in jobs]
    assert spark.read.parquet(f"{wh}/flows").count() == 2 * len(DEVICES) * 96


FLOW_KEYS = StructType(
    [
        StructField("pubdate", DateType()),
        StructField("equipment", StringType()),
        StructField("slot", IntegerType()),
        StructField("file_path", StringType()),
    ]
)


def _flows(spark, rows):
    return driver_frame(spark, [(p, e, s, f"{e}/{p}.xlsx") for p, e, s in rows], FLOW_KEYS)


def test_key_set_append_contract(spark, tmp_path):
    wh = str(tmp_path / "w")
    d1, d2, d3 = DAY, DAY + dt.timedelta(days=1), DAY + dt.timedelta(days=2)
    first = _flows(
        spark,
        [(d1, "A", 0), (d1, "A", 1), (d1, "A", 2), (d1, "B", 0), (d1, "B", 1), (d2, "A", 0)],
    )
    assert idempotent_append(spark, first, wh) == (6, 0)

    # spans three pubdates; (d1, A) is re-landed and already held
    second = _flows(
        spark,
        [(d1, "A", 7), (d1, "A", 8), (d2, "B", 0), (d2, "B", 1), (d3, "A", 0)],
    )
    assert idempotent_append(spark, second, wh) == (3, 1)

    flows = spark.read.parquet(f"{wh}/flows")
    assert flows.count() == 9
    held = {r["slot"] for r in flows.filter((F.col("pubdate") == d1) & (F.col("equipment") == "A")).collect()}
    assert held == {0, 1, 2}  # the re-landed rows were not appended
    ledger = spark.read.parquet(f"{wh}/equipment_files")
    keys = [(r["pubdate"], r["equipment"]) for r in ledger.collect()]
    assert sorted(keys) == [(d1, "A"), (d1, "B"), (d2, "A"), (d2, "B"), (d3, "A")]
    assert ledger.filter(F.col("id") != file_id(F.col("pubdate"), F.col("equipment"))).count() == 0
    # every flow row carries its ledger row's id
    assert flows.join(ledger.select(F.col("id").alias("equipment_files_id")),
                      "equipment_files_id", "left_anti").count() == 0

    # replay: a no-op
    assert idempotent_append(spark, second, wh) == (0, 3)
    assert spark.read.parquet(f"{wh}/flows").count() == 9
    assert spark.read.parquet(f"{wh}/equipment_files").count() == 5

    # a null key would never match its own ledger row: refused, nothing written
    with pytest.raises(ValueError, match="null"):
        idempotent_append(spark, _flows(spark, [(None, "C", 0)]), wh)
    assert spark.read.parquet(f"{wh}/flows").count() == 9


def test_report_landed_twice_in_one_batch_is_ingested_once(spark, tmp_path):
    landing, wh, ckpt = _dirs(tmp_path)
    report = build_report(1, DAY, "FS551JOI")
    os.makedirs(os.path.join(landing, "FS551JOI"))
    for name in ("a.xlsx", "b.xlsx"):
        Path(landing, "FS551JOI", name).write_bytes(report)
    run_ingest_stream(spark, landing, wh, ckpt)
    assert spark.read.parquet(f"{wh}/flows").count() == 96
    assert spark.read.parquet(f"{wh}/equipment_files").count() == 1


def test_one_run_log_commit_per_night(spark, tmp_path):
    landing, wh, ckpt = _dirs(tmp_path)
    devices = ["FS551JOI", "FS655JOI", "FSBADJOI"]
    portal = FakePortal(down={"FSBADJOI"})
    cmd_scrape(spark, portal, "https://portal/r", devices, landing, wh, ckpt, day=DAY)
    files = _part_files(f"{wh}/run_log")
    assert len(files) == 1
    log = read_run_log(spark, wh).collect()
    assert sorted(r["status"] for r in log) == ["downloaded", "downloaded", "fail", "processed", "processed"]

    # every fetch fails: no file lands, no epoch runs, and the night's
    # fetch rows are still recorded, in one commit of their own
    cmd_scrape(
        spark, FakePortal(down=devices), "https://portal/r", devices, landing, wh, ckpt,
        day=DAY + dt.timedelta(days=1),
    )
    new = _part_files(f"{wh}/run_log") - files
    assert len(new) == 1
    rows = spark.read.parquet(os.path.join(wh, "run_log", new.pop())).collect()
    assert sorted(r["name"] for r in rows) == sorted(
        f"{d}/{DAY + dt.timedelta(days=1)}.xlsx" for d in devices
    )
    assert {r["status"] for r in rows} == {"fail"}


@pytest.fixture
def sao_paulo_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_fetch_run_log_keeps_local_fetch_time(spark, sao_paulo_tz):
    """``fetched_at`` is a naive local datetime; the Arrow-built frame
    must store the instant the list-built one did, in a process whose
    time zone is not the session's (UTC)."""
    fetched_at = dt.datetime(2024, 5, 2, 1, 30, 15, 250000)
    results = [FetchResult("FS551JOI", DAY, "FS551JOI/2024-05-01.xlsx", "downloaded", None, fetched_at)]
    got = fetch_run_log(spark, results)
    listed = spark.createDataFrame([(r.key, r.fetched_at, r.status, r.error) for r in results], RUN_LOG_SCHEMA)
    assert got.collect()[0]["dateTime"] == listed.collect()[0]["dateTime"] == fetched_at
    epoch = got.select(F.unix_micros("dateTime")).first()[0]
    assert epoch == int(fetched_at.timestamp() * 1_000_000)
