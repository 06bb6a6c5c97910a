"""Cleaning transforms — the reference's row-wise pandas cleanup as
vectorized, codegen-friendly Spark column expressions (no UDFs).

Reference parity:
- direction: ``"<street>/N"`` -> split on ``/``, keep suffix, map
  ``N/S/L/O -> Norte/Sul/Leste/Oeste`` (src/clean_data.py:44-50).
- time_range: ``"HH:MM as HH:MM"`` -> slice [0:5] and [9:14] into
  ``initial_time`` / ``end_time`` (src/clean_data.py:200-204).
- slot_start: engine addition (SURVEY §1.2) — Postgres TIME has no
  Spark type, so we materialize ``pubdate + initial_time`` as a full
  timestamp, unlocking event-time windows and watermarks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radares_spark.schemas import DIRECTION_MAP


def clean_direction(raw: Column) -> Column:
    """``"Rua X/N" -> "Norte"``; unmapped suffixes -> NULL (quarantine-able).

    A literal-map lookup instead of the reference's four regex passes —
    one codegen'd CASE expression, no regex engine in the hot path.
    """
    suffix = F.element_at(F.split(raw, "/"), -1)
    expr = None
    for k, v in DIRECTION_MAP.items():
        cond = suffix == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(F.lit(None))


def split_time_range(df: DataFrame) -> DataFrame:
    """Add ``initial_time``/``end_time`` "HH:mm" columns from
    ``"HH:MM as HH:MM"`` (1-based substring, matching the reference's
    0-based [0:5] / [9:14] slices)."""
    return df.withColumn("initial_time", F.substring(F.col("time_range"), 1, 5)).withColumn(
        "end_time", F.substring(F.col("time_range"), 10, 5)
    )


def with_slot_start(df: DataFrame) -> DataFrame:
    """``slot_start = pubdate + initial_time`` as a proper timestamp."""
    return df.withColumn(
        "slot_start",
        F.to_timestamp(
            F.concat_ws(" ", F.col("pubdate").cast("string"), F.col("initial_time")),
            "yyyy-MM-dd HH:mm",
        ),
    )
