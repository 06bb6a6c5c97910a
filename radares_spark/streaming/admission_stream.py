"""Streaming admission — the cross-run admission operators as one
Structured Streaming sink, closing the loop the reference runs as a
cron'd nightly batch (cron/script.bash:3 → scrape.py → the
existence-guarded insert at clean_data.py:168-180). Two admissions run
through it, chosen by the caller:

- ``"content"``: new documents against the hash+minhash dedup ledger
  (``operators/incremental.incremental_dedup``) — a re-sent article
  classifies ``exact_dup_corpus`` / ``near_dup_corpus``;
- ``"urls"``: freshly-discovered URLs against the canonical-URL ledger
  of every prior crawl (``operators/urls.incremental_url_dedup``) — a
  recrawled URL classifies ``url_dup_ledger`` before a byte of HTML is
  fetched or parsed.

Shape: a file-source stream of landed files → ``foreachBatch`` admits
each micro-batch against the persistent ledger and appends (a) the
per-doc admission audit and (b) the kept docs' ledger rows — so the
NEXT micro-batch (and the next nightly run) dedups against everything
admitted before it, across restarts.

Exactly-once story (the part worth copying at 100 TB/day), shared by
both admissions and by the batch ``crawl-nightly`` through the
epoch-ledger helpers of ``io/fs``:

- the checkpoint's file log gives each landed file to exactly one
  micro-batch;
- both sinks write ``epoch=<id>`` partitions with DYNAMIC partition
  overwrite (``fs.append_epoch``) — a replayed micro-batch (crash
  between sink and commit) OVERWRITES its own partition instead of
  double-appending;
- the ledger loads with the replaying epoch EXCLUDED
  (``fs.read_ledger``), reconstructing the exact pre-epoch state so a
  replay recomputes the same outcomes;
- admission itself is idempotent by construction (re-admitted content
  or a re-landed URL appends nothing — proven in
  tests/test_incremental.py and tests/test_urls.py), so even a lost
  checkpoint degrades to correct-but-reclassified, never to duplicate
  corpus docs or duplicate fetches.

Scale: per micro-batch cost is the operators' incremental contract —
the ledger is never rescanned as text, only its hash/signature or
canonical-URL rows join against the (small) batch; reading the ledger
per batch is a parquet scan of narrow rows that shuffles nothing
ledger-sized (see operators/incremental.py and operators/urls.py).
The URL admission pays for itself hardest at 100 TB: every URL
dropped there is a fetch, an HTML parse and a dedup shuffle that
never happen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from radares_spark.io import fs
from radares_spark.operators.incremental import incremental_dedup, ledger_rows
from radares_spark.operators.urls import incremental_url_dedup, url_ledger_rows

DOCS_SCHEMA = "doc_id long, text string"

# per admission: the landed files' schema, the ledger row shape and
# the admit operator returning (audit, append_rows)
ADMISSIONS = {
    "content": (DOCS_SCHEMA, ledger_rows, incremental_dedup),
    "urls": ("doc_id long, url string", url_ledger_rows, incremental_url_dedup),
}


def stream_docs(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
    schema: str = DOCS_SCHEMA,
) -> DataFrame:
    """readStream over a parquet landing prefix of ``schema`` rows."""
    reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(landing_dir)


def run_admission_stream(
    spark: SparkSession,
    landing_dir: str,
    ledger_dir: str,
    audit_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
    admission: str = "content",
) -> None:
    """One AvailableNow pass: admit every new file's rows against the
    ``admission`` ledger (a key of ``ADMISSIONS``), append audit + kept
    ledger rows, stop. Re-runnable: the next invocation picks up only
    files the checkpoint has not assigned yet."""
    schema, rows_of, admit = ADMISSIONS[admission]
    docs = stream_docs(spark, landing_dir, max_files_per_trigger, schema)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        # signatures are recomputed per use otherwise (lazy plans);
        # pin the batch once — it is micro-batch sized, not corpus sized
        batch = batch_df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        ledger = fs.read_ledger(s, ledger_dir, epoch_id, rows_of, batch)
        audit, append_rows = admit(batch, ledger)
        fs.append_epoch(append_rows, ledger_dir, epoch_id)
        fs.append_epoch(audit, audit_dir, epoch_id)

    q = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_ledger(
    spark: SparkSession,
    ledger_dir: str,
    bucketed_table: str | None = None,
    bucketed_path: str | None = None,
    n_buckets: int = 16,
    checkpoint: str | None = None,
) -> None:
    """Offline ledger maintenance for either admission ledger (content
    or URL) — run BETWEEN stream runs, with the stream stopped and
    every landed epoch committed (the same window the reference's
    nightly cron leaves between runs, cron/script.bash:3).

    An admission ledger is append-only: every micro-batch or night
    adds an ``epoch=N`` partition and nothing ever rewrites old ones,
    so after a year of nightly crawls the directory holds hundreds of
    small partitions. Compaction folds them into ONE deduplicated
    ``epoch=fs.COMPACTED_EPOCH`` partition:

    - ``distinct()`` over the ledger columns — semantically a no-op
      on a healthy ledger (admission never appends a kept doc twice),
      but it makes compaction idempotent and self-healing after a
      manual restore;
    - the compacted partition id is never a batch id or night number,
      so a replay's own-epoch exclusion (``fs.read_ledger``) always
      keeps compacted history visible;
    - crash safety is SUPERSET-monotone (``fs.fold_epochs``): a crash
      at any point leaves ``ledger_dir`` holding duplicates at worst,
      never a loss, and admission is multiplicity-insensitive
      (semi-joins + distinct), so outcomes are unaffected; the next
      compaction's ``distinct()`` heals the duplicates.

    When ``bucketed_table`` is given, the compacted rows are ALSO
    registered as a bucketed+sorted external table on the content
    ledger's band join keys (``io/bucketing.write_bucketed``) — the
    layout under which the nightly admission band join scans the
    ledger side with zero Exchange (plan-asserted in
    tests/test_incremental.py).

    ``checkpoint`` (the stream's checkpointLocation) gates folding on
    the commit watermark (``fs.committed_view``): only epochs
    ``<= last_committed_epoch`` fold. A written-but-uncommitted epoch
    (crash between the sink's writes and the checkpoint commit) must
    stay an EXCLUDABLE delta — once folded, the replay's own-epoch
    exclusion could no longer excise it and the replayed audit
    partition would misclassify kept docs as duplicates. Without
    ``checkpoint`` every epoch folds — only safe when the caller KNOWS
    the last run stopped cleanly (the batch nightly ledgers, which
    have no checkpoint).
    """
    if not fs.has_parquet(spark, ledger_dir):
        return  # nothing landed yet — compaction is a no-op, not an error
    led = spark.read.parquet(ledger_dir)
    if checkpoint is not None:
        view = fs.committed_view(spark, led, checkpoint)
        if view is None:
            return  # nothing committed yet — nothing is safe to fold
        led, committed = view
    else:
        committed = lambda e: True  # noqa: E731
    fs.fold_epochs(spark, ledger_dir, led.drop("epoch").distinct(), committed)

    if bucketed_table is not None:
        from radares_spark.io.bucketing import write_bucketed

        # rebuild from the COMMITTED view, re-applying the gate to the
        # post-fold directory: baking an uncommitted epoch's rows into
        # the epoch-less bucketed table would hand the band join
        # history no replay can excise (review finding) — the exact
        # misclassification the watermark gate exists to prevent
        rebuilt = spark.read.parquet(ledger_dir)
        if checkpoint is not None:
            rebuilt, _ = fs.committed_view(spark, rebuilt, checkpoint)
        write_bucketed(
            rebuilt.drop("epoch").distinct(),
            bucketed_table,
            bucketed_path or ledger_dir.rstrip("/") + "__bucketed",
            ["band", "band_hash"],
            n_buckets,
        )
