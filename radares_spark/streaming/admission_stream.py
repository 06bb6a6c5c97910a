"""Streaming corpus admission — ``operators/incremental.py`` as a
Structured Streaming sink, closing the loop the reference runs as a
cron'd nightly batch (cron/script.bash:3 → scrape.py → the
existence-guarded insert at clean_data.py:168-180).

Shape: a file-source stream of new document files → ``foreachBatch``
admits each micro-batch against the persistent dedup ledger and
appends (a) the per-doc admission audit and (b) the kept docs' ledger
rows — so the NEXT micro-batch dedups against everything admitted
before it, across restarts.

Exactly-once story (the part worth copying at 100 TB/day):

- the checkpoint's file log gives each landed file to exactly one
  micro-batch;
- both sinks write ``epoch=<id>`` partitions with DYNAMIC partition
  overwrite — a replayed micro-batch (crash between sink and commit)
  OVERWRITES its own partition instead of double-appending, making
  the whole pipeline idempotent per epoch, the standard foreachBatch
  exactly-once recipe;
- admission itself is idempotent by construction (re-admitted content
  classifies ``exact_dup_corpus`` and appends nothing — proven in
  tests/test_incremental.py), so even a lost checkpoint degrades to
  correct-but-reclassified, never to duplicate corpus docs.

Scale: per micro-batch cost is the incremental_dedup contract — the
ledger is never rescanned as text, only its hash/signature rows join
against the (small) batch; reading the ledger per batch is a parquet
scan of longs/hashes that partition-prunes nothing but also shuffles
nothing ledger-sized (see operators/incremental.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.io import fs
from radares_spark.operators.incremental import incremental_dedup, ledger_rows

DOCS_SCHEMA = "doc_id long, text string"

# Epoch value for compacted history. Structured Streaming batch ids
# start at 0 and only grow (tracked in the checkpoint), so -1 can never
# collide with a replayed epoch: the replay's epoch-exclusion filter
# always keeps compacted rows visible.
COMPACTED_EPOCH = -1


def stream_docs(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a parquet landing prefix of (doc_id, text)."""
    reader = spark.readStream.schema(DOCS_SCHEMA).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(landing_dir)


def _load_ledger(
    spark: SparkSession,
    ledger_dir: str,
    like: DataFrame,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """Current ledger, or an empty correctly-shaped frame on first run.

    ``exclude_epoch`` filters out the caller's own epoch partition: on a
    replay (crash between the sink's writes and the checkpoint commit)
    the ledger may already contain the replayed micro-batch's rows, and
    admitting the batch against them would reclassify every previously
    kept doc as ``exact_dup_corpus`` and overwrite the audit partition
    with wrong outcomes. Excluding the epoch reconstructs the exact
    pre-epoch ledger state, so replay recomputes the same result.
    """
    if fs.has_parquet(spark, ledger_dir):
        # plain partitioned read: epoch is a partition column, which
        # recursiveFileLookup would silently drop (no partition inference)
        ledger = spark.read.parquet(ledger_dir)
        if exclude_epoch is not None:
            ledger = ledger.filter(F.col("epoch") != F.lit(exclude_epoch))
        return ledger.drop("epoch")
    return ledger_rows(like).filter(F.lit(False))


def run_admission_stream(
    spark: SparkSession,
    landing_dir: str,
    ledger_dir: str,
    audit_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """One AvailableNow pass: admit every new file's docs against the
    ledger, append audit + kept ledger rows, stop. Re-runnable."""
    docs = stream_docs(spark, landing_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        # signatures are recomputed per use otherwise (lazy plans);
        # pin the batch once — it is micro-batch sized, not corpus sized
        batch = batch_df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        ledger = _load_ledger(s, ledger_dir, batch, exclude_epoch=epoch_id)
        audit, append_rows = incremental_dedup(batch, ledger)
        # epoch-partitioned dynamic overwrite => replay-idempotent
        (
            append_rows.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(ledger_dir)
        )
        (
            audit.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(audit_dir)
        )

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
    """Offline ledger maintenance — run BETWEEN stream runs, with the
    stream stopped and every landed epoch committed (the same window
    the reference's nightly cron leaves between runs,
    cron/script.bash:3).

    The admission ledger is append-only: every micro-batch adds an
    ``epoch=N`` partition and nothing ever rewrites old ones, so after
    a year of nightly crawls the directory holds hundreds of small
    partitions. Compaction folds them into ONE deduplicated
    ``epoch=COMPACTED_EPOCH`` partition:

    - ``distinct()`` over the content columns — semantically a no-op
      on a healthy ledger (admission never appends a kept doc twice),
      but it makes compaction idempotent and self-healing after a
      manual restore;
    - the ``epoch=-1`` partition value keeps the crash-replay contract
      intact: a replayed micro-batch excludes only ITS OWN epoch id,
      and batch ids never go negative, so compacted history is always
      visible to replays (see ``_load_ledger``);
    - crash safety is SUPERSET-monotone, not rename-atomic (review fix:
      a two-rename swap had a window where ``ledger_dir`` did not
      exist, which ``_load_ledger``'s first-run branch would silently
      turn into total dedup-history loss). Order of operations: stage
      the distinct rows to a sibling dir, write them INTO ``ledger_dir``
      as the ``epoch=-1`` partition (dynamic overwrite touches only
      that partition), THEN delete the superseded ``epoch=N`` dirs. A
      crash at any point leaves ``ledger_dir`` holding a SUPERSET of
      the compacted rows — duplicates at worst, never a loss — and
      admission is multiplicity-insensitive (semi-joins + distinct), so
      outcomes are unaffected; the next compaction's ``distinct()``
      heals the duplicates.

    When ``bucketed_table`` is given, the compacted rows are ALSO
    registered as a bucketed+sorted external table on the band join
    keys (``io/bucketing.write_bucketed``) — the layout under which
    the nightly admission band join scans the ledger side with zero
    Exchange (plan-asserted in tests/test_incremental.py).

    ``checkpoint`` (the stream's checkpointLocation) gates folding on
    the commit watermark: only epochs ``<= last_committed_epoch`` fold
    into ``epoch=-1``. A
    written-but-uncommitted epoch (crash between the sink's writes and
    the checkpoint commit) must stay an EXCLUDABLE delta — once folded
    into ``epoch=-1``, the replay's own-epoch exclusion
    (``_load_ledger``) could no longer excise it and the replayed
    audit partition would misclassify kept docs as corpus duplicates.
    Without ``checkpoint`` every epoch folds (the pre-r7 behavior) —
    only safe when the caller KNOWS the last run stopped cleanly.
    """
    if not fs.has_parquet(spark, ledger_dir):
        return  # nothing landed yet — compaction is a no-op, not an error
    led = spark.read.parquet(ledger_dir)
    if checkpoint is not None:
        view = fs.committed_view(spark, led, checkpoint, COMPACTED_EPOCH)
        if view is None:
            return  # nothing committed yet — nothing is safe to fold
        led, committed = view
    else:
        committed = lambda e: True  # noqa: E731
    # stage/fold/GC ordering and its crash contract live in ONE place
    # (fs.fold_epochs) shared by the admission and URL compactors;
    # every committed epoch>=0 row lands in epoch=-1
    fs.fold_epochs(
        spark,
        ledger_dir,
        led.drop("epoch").distinct(),
        COMPACTED_EPOCH,
        supersedes=lambda e: e != COMPACTED_EPOCH and committed(e),
    )

    if bucketed_table is not None:
        from radares_spark.io.bucketing import write_bucketed

        # rebuild from the COMMITTED view, re-applying the gate to the
        # post-fold directory: baking an uncommitted epoch's rows into
        # the epoch-less bucketed table would hand the band join
        # history no replay can excise (review finding) — the exact
        # misclassification the watermark gate exists to prevent
        rebuilt = spark.read.parquet(ledger_dir)
        if checkpoint is not None:
            rebuilt, _ = fs.committed_view(
                spark, rebuilt, checkpoint, COMPACTED_EPOCH
            )
        write_bucketed(
            rebuilt.drop("epoch").distinct(),
            bucketed_table,
            bucketed_path or ledger_dir.rstrip("/") + "__bucketed",
            ["band", "band_hash"],
            n_buckets,
        )
