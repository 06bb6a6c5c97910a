"""Idempotent fact-table writes + the ingestion ledger.

The reference enforces at-most-one report per (pubdate, equipment)
with a Postgres unique index + check-then-insert
(database/schema.sql:31-33, src/clean_data.py:168-180). Without a
transactional RDBMS, the engine gets the same exactly-once semantics
from: deterministic surrogate keys (hash of the natural key — replaces
SERIAL, SURVEY §1.2), a left-anti join against the ledger before
append, and partition-scoped parquet writes.

Scale: the anti-join broadcasts the *new* side's keys when small, or
shuffles on (pubdate, equipment) otherwise; the fact write is
``partitionBy(pubdate)`` so each ingest touches only its own
partitions (dynamic overwrite would give atomic re-ingest per
partition; Delta/Iceberg MERGE is the drop-in upgrade when those jars
are on the classpath).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NATURAL_KEY = ["pubdate", "equipment"]


def file_id(pubdate_col, equipment_col):
    """Deterministic 64-bit surrogate for the (pubdate, equipment)
    natural key — idempotent across re-ingests, unlike SERIAL."""
    return F.xxhash64(pubdate_col.cast("string"), equipment_col)


def build_ledger(flows: DataFrame) -> DataFrame:
    """One ledger row per ingested (pubdate, equipment) — the
    equipment_files table (schema.sql:22-29) with a hash id."""
    return (
        flows.select(*NATURAL_KEY)
        .distinct()
        .select(
            file_id(F.col("pubdate"), F.col("equipment")).alias("id"),
            F.concat_ws(
                "/", F.col("equipment"), F.concat(F.col("pubdate").cast("string"), F.lit(".csv"))
            ).alias("file_name"),
            "pubdate",
            "equipment",
            F.current_timestamp().alias("date_created"),
        )
    )


def idempotent_append(
    spark: SparkSession, flows: DataFrame, warehouse: str
) -> tuple[int, int]:
    """Append only not-yet-ingested (pubdate, equipment) groups.

    Returns (n_rows_written, n_groups_skipped). Re-running the same
    input is a no-op — the reference's unique-index guard, as a plan.
    """
    flows_path = os.path.join(warehouse, "flows")
    ledger_path = os.path.join(warehouse, "equipment_files")

    new = flows
    skipped = 0
    # First-write detection must be EXPLICIT: a broad except here would
    # treat any transient read failure (corrupt footer, permissions,
    # storage blip) as "no ledger yet" and re-append the full input,
    # silently breaking the unique-(pubdate, equipment) guarantee the
    # reference enforces with a DB index (schema.sql:31-33). Only a
    # genuinely missing ledger path skips the anti-join; every other
    # error propagates and fails the ingest.
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(ledger_path)  # type: ignore[union-attr]
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    if fs.exists(jvm_path):
        existing = spark.read.parquet(ledger_path).select(*NATURAL_KEY)
        before = flows.select(*NATURAL_KEY).distinct()
        new_keys = before.join(existing, NATURAL_KEY, "left_anti")
        skipped = before.count() - new_keys.count()
        new = flows.join(F.broadcast(new_keys), NATURAL_KEY, "left_semi")

    new = new.withColumn("equipment_files_id", file_id(F.col("pubdate"), F.col("equipment")))
    n = new.count()
    if n:
        new.write.mode("append").partitionBy("pubdate").parquet(flows_path)
        build_ledger(new).write.mode("append").parquet(ledger_path)
    return n, skipped

