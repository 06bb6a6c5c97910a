"""Report ingestion: binaryFile scan -> mapInPandas parser -> cleaned
flows, with quarantine semantics.

The reference's daily loop (src/scrape.py:81-118: sequential per-device
download/parse/insert with per-file try/except) becomes one declarative
job: Spark parallelizes per file, the parser kernel never raises (bad
files become quarantine rows), and the idempotent write replaces the
check-then-insert ledger dance (pipeline/ledger.py).

Scale: ``binaryFile`` splits work per file; 99 files/day is trivial,
but the same plan handles millions of files — Spark's file index and
task scheduling do the fan-out, and nothing touches the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.functions.cleaning import clean_direction, split_time_range, with_slot_start
from radares_spark.schemas import BIN_COLS, RAW_FLOWS_SCHEMA


def _parse_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (path, content) batches -> RAW_FLOWS rows.

    Imports stay inside the function so the kernel pickles cleanly to
    executors. One input file yields 96/192 parsed rows, or exactly one
    quarantine row carrying the error (SURVEY §2.11 failure isolation —
    the reference's per-device try/except, relocated into the task).
    """
    from radares_spark.io.report_parser import parse_report

    cols = [
        "file_path",
        "pubdate",
        "equipment",
        "direction_raw",
        "time_range",
        *BIN_COLS,
        "total",
        "status",
        "error",
    ]
    for pdf in it:
        out: list[list] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                for row in parse_report(bytes(content)):
                    out.append(
                        [
                            path,
                            row["pubdate"],
                            row["equipment"],
                            row["direction_raw"],
                            row["time_range"],
                            *row["bins"],
                            row["total"],
                            "parsed",
                            None,
                        ]
                    )
            except Exception as e:  # quarantine, never fail the task
                out.append([path, None, None, None, None, *([None] * 11), None, "quarantined", str(e)])
        yield pd.DataFrame(out, columns=cols)


def parse_reports(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan xlsx files -> raw parsed rows (status column included)."""
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xlsx")
        .load(path_glob)
        .select("path", "content")
    )
    return bf.mapInPandas(_parse_kernel, schema=RAW_FLOWS_SCHEMA)


def clean_flows(raw: DataFrame) -> DataFrame:
    """Parsed rows -> flows-schema rows (direction mapping, time-range
    split, slot_start timestamp, typed casts). Pure column expressions
    (P5-P9), all codegen'd — no UDF."""
    parsed = raw.filter(F.col("status") == "parsed")
    df = parsed.withColumn("direction", clean_direction(F.col("direction_raw")))
    df = split_time_range(df)
    df = df.withColumn("pubdate", F.to_date("pubdate"))
    df = with_slot_start(df)
    return df.select(
        "pubdate",
        "equipment",
        "direction",
        "initial_time",
        "end_time",
        "slot_start",
        *[F.col(c).cast("int").alias(c) for c in BIN_COLS],
        F.col("total").cast("int").alias("total"),
        "file_path",  # the ledger's per-key file pick; not written
    )

