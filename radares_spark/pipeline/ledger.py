"""Idempotent fact-table writes + the ingestion ledger.

The reference enforces at-most-one report per (pubdate, equipment)
with a Postgres unique index + check-then-insert
(database/schema.sql:31-33, src/clean_data.py:168-180). Without a
transactional RDBMS, the engine gets the same exactly-once semantics
from: deterministic surrogate keys (hash of the natural key — replaces
SERIAL, SURVEY §1.2), a key-set difference against the ledger before
append, and partition-scoped parquet writes.

Scale: a batch's key set — its distinct (pubdate, equipment) — is
bounded by devices x days, the same bound the backfill planner relies
on when it collects its work list, so the append works on that set on
the driver. It reads only the ledger rows of the batch's pubdates
(parquet filter pushdown), takes the set difference in Python, and
broadcasts the new keys into a semi-join with the batch. A report
landed twice in one batch (two files, one key) is ingested once: the
collected set carries each key's file paths, and the semi-join keeps
only the smallest path per key. The flows row
count comes from an ``Observation`` on the flows write, and the ledger
rows are built from the key frame: one collect for the keys, one for
the held keys, and the two writes. The fact write is
``partitionBy(pubdate)`` so each ingest touches only its own
partitions (Delta/Iceberg MERGE is the drop-in upgrade when those jars
are on the classpath).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radares_spark.io import fs as iofs
from radares_spark.session import driver_frame

NATURAL_KEY = ["pubdate", "equipment"]
KEY_SCHEMA = T.StructType(
    [T.StructField("pubdate", T.DateType()), T.StructField("equipment", T.StringType())]
)
FILE_KEY_SCHEMA = T.StructType([*KEY_SCHEMA.fields, T.StructField("file_path", T.StringType())])


def file_id(pubdate_col, equipment_col):
    """Deterministic 64-bit surrogate for the (pubdate, equipment)
    natural key — idempotent across re-ingests, unlike SERIAL."""
    return F.xxhash64(pubdate_col.cast("string"), equipment_col)


def build_ledger(keys: DataFrame) -> DataFrame:
    """Distinct (pubdate, equipment) keys -> their ledger rows: the
    equipment_files table (schema.sql:22-29) with a hash id."""
    return keys.select(
        file_id(F.col("pubdate"), F.col("equipment")).alias("id"),
        F.concat_ws(
            "/", F.col("equipment"), F.concat(F.col("pubdate").cast("string"), F.lit(".csv"))
        ).alias("file_name"),
        "pubdate",
        "equipment",
        F.current_timestamp().alias("date_created"),
    )


def idempotent_append(
    spark: SparkSession, flows: DataFrame, warehouse: str
) -> tuple[int, int]:
    """Append only not-yet-ingested (pubdate, equipment) groups.

    ``flows`` carries ``file_path``, the report each row came from; of
    the files holding one key, only the smallest path is appended, and
    the column is not written. Returns (n_rows_written,
    n_groups_skipped). Re-running the same input is a no-op — the
    reference's unique-index guard. A null key raises ``ValueError``
    before anything is written.
    """
    flows_path = os.path.join(warehouse, "flows")
    ledger_path = os.path.join(warehouse, "equipment_files")

    first: dict[tuple, str] = {}  # key -> its smallest file path
    for p, e, f in flows.select(*NATURAL_KEY, "file_path").distinct().collect():
        first[(p, e)] = min(f, first.get((p, e), f))
    keys = set(first)
    if any(None in k for k in keys):
        # the parser validates both (io/report_parser.py); a null key
        # would never match its own ledger row and re-append every run
        raise ValueError("flows carry a null (pubdate, equipment) key")
    held: set[tuple] = set()
    # First-write detection must be EXPLICIT: a broad except here would
    # treat any transient read failure (corrupt footer, permissions,
    # storage blip) as "no ledger yet" and re-append the full input,
    # silently breaking the unique-(pubdate, equipment) guarantee the
    # reference enforces with a DB index (schema.sql:31-33). Only a
    # genuinely missing ledger path skips the lookup; every other
    # error propagates and fails the ingest.
    if keys and iofs.exists(spark, ledger_path):
        pubdates = sorted({p for p, _ in keys})
        existing = spark.read.schema(KEY_SCHEMA).parquet(ledger_path)
        held = {tuple(r) for r in existing.filter(F.col("pubdate").isin(pubdates)).collect()}
    new_keys = sorted(keys - held)
    if not new_keys:
        return 0, len(keys)

    key_frame = driver_frame(spark, [(*k, first[k]) for k in new_keys], FILE_KEY_SCHEMA)
    new = (
        flows.join(F.broadcast(key_frame), [*NATURAL_KEY, "file_path"], "left_semi")
        .drop("file_path")
        .withColumn("equipment_files_id", file_id(F.col("pubdate"), F.col("equipment")))
    )
    written = Observation()
    new = new.observe(written, F.count(F.lit(1)).alias("rows"))
    new.write.mode("append").partitionBy("pubdate").parquet(flows_path)
    build_ledger(key_frame).coalesce(1).write.mode("append").parquet(ledger_path)
    return written.get["rows"], len(keys) - len(new_keys)
