"""Structured Streaming ingest — the streaming variant of io/ingest.

The reference's cron-driven nightly batch (cron/script.bash:3 ->
scrape.py for *yesterday*) maps to a file-source stream with
``Trigger.AvailableNow``: the checkpoint's file log replaces the
delete-raw-after-success dance (src/scrape.py:112-118) and the unique
index (schema.sql:31-33) — each landed file is processed exactly once,
restarts resume from the checkpoint, and late-arriving backfill files
are picked up on the next trigger with no special casing.

``foreachBatch`` bridges to the idempotent ledger writer, so even a
re-landed duplicate file (same pubdate+equipment) is skipped — the
two idempotency layers compose. The night's run log is one append: the
first epoch writes the fetch rows with its parse rows, after the flows
and the ledger (the crash order is flows, ledger, log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from radares_spark.io.ingest import _parse_kernel, clean_flows
from radares_spark.pipeline.ledger import idempotent_append
from radares_spark.pipeline.run_log import append_run_log, parse_run_log
from radares_spark.schemas import RAW_FLOWS_SCHEMA


BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_reports(spark: SparkSession, landing_dir: str) -> DataFrame:
    """readStream over the xlsx landing prefix -> parsed raw rows."""
    bf = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.xlsx")
        # the fetcher lands under <equipment>/<date>.xlsx (the
        # reference's raw-bucket key layout, scrape.py:87) — recurse
        # instead of treating the equipment dirs as partition columns
        .option("recursiveFileLookup", "true")
        .load(landing_dir)
        .select("path", "content")
    )
    return bf.mapInPandas(_parse_kernel, schema=RAW_FLOWS_SCHEMA)


def run_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    warehouse: str,
    checkpoint: str,
    fetch_log: DataFrame | None = None,
) -> None:
    """One AvailableNow pass: parse everything new, idempotent-append
    to the warehouse, stop. Re-runnable; exactly-once per file.

    ``fetch_log`` (the night's fetch run-log rows) goes out in the same
    run-log append as the first epoch's parse rows, or alone when no
    epoch runs."""
    raw = stream_reports(spark, landing_dir)
    pending = [fetch_log] if fetch_log is not None else []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # parse once, use twice
        idempotent_append(batch_df.sparkSession, clean_flows(batch_df), warehouse)
        # K5: per-file processed/fail rows, with the night's fetch rows
        # in one append (reference scrape.py:121-123 writes its JSON log
        # once, after the loop)
        log = parse_run_log(batch_df)
        if pending:
            log = pending.pop().unionByName(log)
        append_run_log(log, warehouse)

    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if pending:
        append_run_log(pending.pop(), warehouse)
