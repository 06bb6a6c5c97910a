"""Run-log sink — K5 parity (reference src/scrape.py:74-78,89-123).

The reference dumps a per-device status JSON (``downloaded`` /
``processed`` / ``fail`` + error) to ``log/log_monitran_<date>.json``
after every nightly run. Here the same facts are a TABLE
(``RUN_LOG_SCHEMA``: name, dateTime, status, error) appended under
``<warehouse>/run_log`` once per night, fetch and parse rows in one
write (the reference also writes its log once, after the loop,
scrape.py:121-123):

- ``downloaded`` / fetch-``fail`` rows come from the fetcher's results
  (io/fetcher.py — the scrape.py:89-94 stage), built on the driver
  through Arrow (session.driver_frame);
- ``processed`` / parse-``fail`` rows are derived from the parser
  output's status column (io/ingest.py quarantine semantics — the
  scrape.py:96-111 stage), one row per input file; the ingest
  stream's first epoch appends them together with the fetch rows
  (streaming/ingest_stream.py).

A table beats a JSON file at scale: the completeness audit
(pipeline/audit.py, verify_dates.py parity) and failure triage become
plain queries over it, and appends are partition-local.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.schemas import RUN_LOG_SCHEMA
from radares_spark.session import driver_frame

RUN_LOG_DIR = "run_log"


def parse_run_log(raw: DataFrame) -> DataFrame:
    """Parser output -> one run-log row per input file.

    A file whose rows all carry status='parsed' becomes ``processed``;
    a quarantined file becomes ``fail`` with its error (the reference
    records the exception string, scrape.py:105-111).
    """
    per_file = raw.groupBy("file_path").agg(
        F.max(F.when(F.col("status") == "quarantined", F.col("error"))).alias("error")
    )
    return per_file.select(
        F.col("file_path").alias("name"),
        F.current_timestamp().alias("dateTime"),
        F.when(F.col("error").isNotNull(), F.lit("fail"))
        .otherwise(F.lit("processed"))
        .alias("status"),
        "error",
    )


def fetch_run_log(spark: SparkSession, results: Iterable) -> DataFrame:
    """FetchResults (io/fetcher.py) -> downloaded/fail run-log rows."""
    rows = [(r.key, r.fetched_at, r.status, r.error) for r in results]
    return driver_frame(spark, rows, RUN_LOG_SCHEMA)


def append_run_log(df: DataFrame, warehouse: str) -> None:
    """One commit: the rows of a night go out as one file."""
    df.coalesce(1).write.mode("append").parquet(os.path.join(warehouse, RUN_LOG_DIR))


def read_run_log(spark: SparkSession, warehouse: str) -> DataFrame:
    return spark.read.parquet(os.path.join(warehouse, RUN_LOG_DIR))
