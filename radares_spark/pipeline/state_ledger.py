"""Delta-proportional refresh-state ledger (r10 verdict #1 — the last
O(corpus)-per-night term in the production night).

Every refresh night used to rewrite the FULL features/bands/audit
ledgers into a brand-new ``state/<night>`` dir and retain every
night's copy forever. The rows are narrow (two hashes + flags per
doc, no text), but at 10^9-10^10 docs that is a ~100 GB-1 TB write
per night and unbounded O(corpus)-per-night storage growth: a year of
nights retains ~365 full copies of the corpus-wide ledger. This
module applies the repo's OWN epoch-ledger discipline (the streaming
admission ledger's epoch partitions, the shard store's epoch=-1
compaction) to the refresh state:

- ONE root (``<root>/state_ledger``) holds three epoch-partitioned
  tables — ``features/`` ``bands/`` ``audit/`` — plus a single
  ``knobs`` meta (knobs are immutable for a ledger's lifetime, so one
  copy replaces the per-night copies);
- night N appends ONLY the rows the night changed as the ``epoch=N``
  partition, with ``_deleted`` tombstones for docs whose rows all go
  away; an untouched doc is CARRIED BY NOT BEING WRITTEN, so the
  nightly state write is delta-proportional (pinned by the bytes
  scale-law test, tests/test_refresh_delta.py);
- "the state as of epoch e" is the latest-per-doc view over
  ``epoch <= e``: a doc's newest rows shadow its older ones, and a
  newest-row tombstone means the doc is gone. Epoch partitioning
  makes the as-of filter partition pruning, and the view costs one
  narrow shuffle on doc_id — same class as the ledger joins the
  refresh already does;
- :func:`compact_state_ledger` folds completed epochs into the
  ``epoch=-1`` base partition (``io/fs.fold_epochs`` — the
  superset-monotone crash-safe core every compactor here shares): a
  crash mid-fold leaves shadowed duplicate rows the latest-per-doc
  read ignores and the next fold heals. Retention is thereby bounded:
  a year of nights compacts to one base + the recent epochs.

Crash replay: a crashed (un-logged) night re-runs deterministically
and :func:`write_state_epoch` clears any partial ``epoch=N``
partition before rewriting it, so a replay lands byte-identically and
prior epochs are never touched — the same contract the materialized
``state/<night>`` dirs had under write-new-then-swap.

As-of reads BELOW the compaction floor are gone by design;
``compaction_floor`` records the fold point (written BEFORE the fold,
so a crash can only over-report and fail fast, never silently serve a
base-polluted view) and the refresh entry points reject a state_in
older than it.

Reference parity: the reference keeps one mutable curation table and
overwrites it per run (/root/reference/src/clean_data.py to_sql
replace semantics); at 100 TB the Spark-first shape is the immutable
epoch ledger + compaction above.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.io import fs as iofs

STATE_TABLES = ("features", "bands", "audit")
COMPACTED_EPOCH = -1


@dataclass(frozen=True)
class LedgerState:
    """One epoch's view of a delta state ledger — accepted anywhere
    the refresh layer takes a state DIR path (``str`` keeps the
    full-rewrite dir layout). ``epoch`` is the night index the
    orchestrator assigns (night log order), so consecutive nights are
    consecutive epochs."""

    ledger_dir: str
    epoch: int

    def table_dir(self, table: str) -> str:
        return f"{self.ledger_dir}/{table}"


def read_state(spark: SparkSession, state: LedgerState, table: str) -> DataFrame:
    """The state table as of ``state.epoch``: latest-per-doc over
    ``epoch <= e`` (partition-pruned), tombstoned docs dropped, payload
    columns only — row-equal to what the full-rewrite dir layout
    stores in ``<state_dir>/<table>``.

    Latest-per-doc is a max-over-window + filter (ONE doc_id shuffle;
    every row of a doc's newest epoch survives, which the bands table
    needs — several rows per doc per epoch). The groupBy-max +
    self-join formulation costs a second shuffle for the join; a
    row_number window would drop the bands' sibling rows. Per-doc row
    counts are tiny (epochs a doc appears in), so the unordered window
    buffers nothing meaningful."""
    from pyspark.sql import Window

    raw = spark.read.parquet(state.table_dir(table)).filter(
        F.col("epoch") <= F.lit(state.epoch)
    )
    latest = F.max("epoch").over(Window.partitionBy("doc_id"))
    return (
        raw.withColumn("__latest", latest)
        .filter((F.col("epoch") == F.col("__latest")) & ~F.col("_deleted"))
        .drop("epoch", "_deleted", "__latest")
    )


def write_state_epoch(
    spark: SparkSession,
    state: LedgerState,
    table: str,
    delta: DataFrame,
    dead_ids: DataFrame,
) -> None:
    """Land one night's changes for one table as the ``epoch=N``
    partition: ``delta`` is the CURRENT full row-set of every doc the
    night changed (extra rows identical to their prior values are
    harmless — they shadow equal content — and keep the callers'
    delta extraction delta-bounded instead of requiring a corpus
    diff); ``dead_ids`` are docs whose rows all go away (tombstones).
    Any partial ``epoch=N`` left by a crashed attempt is cleared
    first, so a deterministic replay lands byte-identically even when
    its delta is empty."""
    part = f"{state.table_dir(table)}/epoch={state.epoch}"
    iofs.delete(spark, part)
    payload = [f for f in delta.schema.fields if f.name != "doc_id"]
    rows = delta.select(
        "doc_id", *[F.col(f.name) for f in payload]
    ).withColumn("_deleted", F.lit(False)).unionByName(
        dead_ids.select(
            "doc_id",
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
            F.lit(True).alias("_deleted"),
        )
    )
    (
        rows.withColumn("epoch", F.lit(state.epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(state.table_dir(table))
    )


def compaction_floor(spark: SparkSession, ledger_dir: str) -> int | None:
    """The highest epoch ever folded into the base, or None for a
    never-compacted ledger. As-of reads below the floor are gone;
    the refresh entries fail fast on them."""
    meta = f"{ledger_dir}/_compacted"
    if not iofs.has_parquet(spark, meta):
        return None
    return int(spark.read.parquet(meta).head()["thru_epoch"])


def compact_state_ledger(
    spark: SparkSession, ledger_dir: str, thru_epoch: int
) -> dict[str, int]:
    """Fold epochs ``0..thru_epoch`` of every state table into the
    ``epoch=-1`` base (latest live rows only — tombstoned docs drop
    out entirely). Callers gate ``thru_epoch`` on the night log: only
    COMPLETED nights may fold, or a crashed night's replay would find
    its own partial epoch baked into the base. The floor meta is
    written FIRST (a crash can only over-report, which fails fast —
    never a silently wrong as-of view), then each table folds through
    the shared superset-monotone core (``io/fs.fold_epochs``).
    Returns per-table folded-partition counts."""
    prior_floor = compaction_floor(spark, ledger_dir)
    if prior_floor is not None and thru_epoch < prior_floor:
        raise ValueError(
            f"state ledger {ledger_dir!r} is already compacted through "
            f"epoch {prior_floor}; cannot fold through {thru_epoch}"
        )
    spark.createDataFrame(
        [(int(thru_epoch),)], "thru_epoch int"
    ).repartition(1).write.mode("overwrite").parquet(f"{ledger_dir}/_compacted")
    counts: dict[str, int] = {}
    for table in STATE_TABLES:
        tdir = f"{ledger_dir}/{table}"
        if not iofs.has_parquet(spark, tdir):
            continue
        foldable = [
            e
            for e in iofs.epoch_partitions(spark, tdir)
            if 0 <= e <= thru_epoch
        ]
        counts[table] = len(foldable)
        if not foldable:
            continue
        live = read_state(
            spark, LedgerState(ledger_dir, thru_epoch), table
        ).withColumn("_deleted", F.lit(False))
        iofs.fold_epochs(
            spark,
            tdir,
            live,
            new_epoch=COMPACTED_EPOCH,
            supersedes=lambda e: 0 <= e <= thru_epoch,
        )
    return counts
