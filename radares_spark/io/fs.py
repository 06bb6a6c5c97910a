"""Scheme-agnostic filesystem helpers for ledger/checkpoint maintenance.

The streaming maintenance paths (ledger compaction GC, snapshot
pruning, commit-log inspection) need exists / list-children /
recursive-delete — operations ``os``/``shutil`` only provide for the
driver's LOCAL filesystem. On a real deployment the ledgers live on
s3a:// or hdfs:// (the reference's landing convention,
/root/reference/src/clean_data.py:223-228), where those calls silently
see nothing. Everything here goes through Hadoop's ``FileSystem`` —
resolved PER PATH from the path's own scheme, exactly how Spark's own
writers resolve it — so ``file:``, ``hdfs:``, and ``s3a:`` URIs all
behave identically (object stores expose "directories" as key
prefixes through the same FileSystem contract).

Driver-side listings only — these helpers inspect partition NAMES and
commit markers (kilobytes of metadata), never data rows; data always
flows through ``spark.read``/``write``.

The epoch-ledger layout lives here too, in one place: the compacted
epoch id, the epoch append, the own-epoch-excluding ledger read, the
per-night epoch listing and the compaction core. The crawl night, both
admission streams, the refresh-state ledger and the shard store use
them (``tests/test_ledger_layout.py`` keeps hand-written copies out).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs_and_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str``, resolved by its scheme
    (scheme-less strings resolve against fs.defaultFS, matching what
    spark.read.parquet(path_str) would touch)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def exists(spark: SparkSession, path_str: str) -> bool:
    fs, path = _fs_and_path(spark, path_str)
    return bool(fs.exists(path))


def has_parquet(spark: SparkSession, path_str: str) -> bool:
    """True when any ``*.parquet`` file exists under ``path_str``
    (recursive) — the 'has this store ever been written' probe guarding
    every first-run branch."""
    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return False
    it = fs.listFiles(path, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def list_names(spark: SparkSession, path_str: str) -> list[str]:
    """Child entry names directly under ``path_str`` (empty when the
    path is missing) — partition-dir / commit-marker enumeration."""
    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return []
    return [s.getPath().getName() for s in fs.listStatus(path)]


def delete(spark: SparkSession, path_str: str) -> None:
    """Recursive delete; a missing path is a no-op (GC semantics)."""
    fs, path = _fs_and_path(spark, path_str)
    if fs.exists(path):
        fs.delete(path, True)


# Root-writer-lease liveness knobs (defined here, with the marker
# protocol, so both the CLI holder and the audit layer import them
# DOWNWARD): a holder refreshes the lease's mtime every
# LEASE_HEARTBEAT_S (metadata-only ``setTimes`` — no create/delete
# window); an acquirer treats a SAME-tag lease whose heartbeat is
# younger than LEASE_STALE_AFTER_S as a LIVE duplicate and fails
# fast, and one older as a killed run and takes it over. The stale
# threshold is deliberately >> the heartbeat interval so a
# paused-but-alive holder (GC, brief driver stall) is never usurped.
# CLOCK-SYNC ASSUMPTION (r13 advice): staleness compares the
# ACQUIRER's time.time() to an mtime stamped from the HOLDER's clock
# (``setTimes`` payload on HDFS/local) or the STORE's clock (PUT time
# on object stores, where the rewrite fallback lands the heartbeat).
# The threshold therefore absorbs holder↔acquirer skew only up to
# ~LEASE_STALE_AFTER_S − a few heartbeats: a holder clock that far
# BEHIND the acquirer's looks permanently stale and gets usurped
# (the usurped holder then aborts at its next store-mutation
# boundary via ``lease_lost`` — safe, but the night is wasted); skew
# the other way masks a real death for the skew duration. Deploy the
# writers NTP-synced (minutes of skew is operator error); the 10×
# heartbeat-to-stale ratio absorbs the seconds-level skew NTP leaves.
LEASE_STALE_AFTER_S = 300.0
LEASE_HEARTBEAT_S = 30.0

# claim-then-verify settle: how long a won create waits before the
# read-back that decides whether OUR bytes survived — longer than the
# create→write→close skew of a truly simultaneous rival claimer on
# filesystems whose create-if-absent is best-effort. Paid once per
# claim (one claim per command / night / flip), never per row.
CLAIM_SETTLE_S = 0.05


def _settle() -> None:
    """Isolated so tests can plant a rival's write landing inside the
    settle window (the same seam pattern as ``_set_times``)."""
    import time

    time.sleep(CLAIM_SETTLE_S)


def claim_marker(spark: SparkSession, path_str: str, content: str = "") -> bool:
    """Create a claim file carrying ``content``; True only when OUR
    bytes survived — the single-writer fail-fast primitive (two
    writers about to mint the same ledger partition race on the SAME
    marker name; exactly one wins). ``FileSystem.create(path,
    overwrite=false)`` is atomic create-if-absent on HDFS but
    BEST-EFFORT on LocalFileSystem and object stores — the r14 forked
    two-JVM race test caught two truly simultaneous claimers BOTH
    passing the exists check and both reporting a won claim, with the
    last writer's bytes surviving. So a won create is only believed
    after a short settle (letting a simultaneous rival's write land,
    so both rivals' verify reads see the SAME survivor) and a
    read-back of the marker: the claimer whose content survived gets
    True; the other gets False exactly as if it had lost the create.
    The residue (a rival's write landing after the verify read) is
    narrowed to a sub-settle window; the root-lease heartbeat's
    content check catches it within one beat. Won claims stay in
    place forever (append-only discipline: one claim per partition,
    like the partition itself); the content lets a DETERMINISTIC
    re-run of the same work (a crashed night's replay, a re-flip of
    the same swap) recognize its own prior claim via
    :func:`read_marker` and proceed, while a different writer fails
    fast. Two simultaneous claimers carrying IDENTICAL content may
    both see True — by construction that is the deterministic-replay
    case the content check exists to admit."""
    fs, path = _fs_and_path(spark, path_str)
    parent = path.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    try:
        out = fs.create(path, False)
    except Exception:
        if fs.exists(path):
            return False
        raise
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    _settle()
    try:
        return read_marker(spark, path_str) == content
    except Exception:
        # a read-back that cannot be completed (torn concurrent write,
        # checksum mismatch from a rival's in-flight bytes, transient
        # FS error) cannot PROVE our bytes survived — treat the claim
        # as lost; failing a claim is always safe (the caller fails
        # fast and a deterministic replay re-enters)
        return False


def marker_mtime(spark: SparkSession, path_str: str) -> float | None:
    """Last-modified time of a marker file in epoch SECONDS, or None
    when it does not exist — the heartbeat read of the root writer
    lease (a live holder refreshes the mtime; a killed one cannot)."""
    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return None
    return fs.getFileStatus(path).getModificationTime() / 1000.0


def _set_times(fs, path, ms: int) -> None:
    """``FileSystem.setTimes``, isolated so tests can simulate an
    object store's silent no-op (Hadoop's base implementation is
    EMPTY and S3AFileSystem does not override it — the heartbeat must
    not trust this call alone, r13 advice #1)."""
    fs.setTimes(path, ms, -1)


# mtime-resolution slack for the "did setTimes actually land" probe:
# local filesystems may truncate to whole seconds, so an mtime within
# this window of the requested stamp counts as advanced.
_MTIME_SLACK_MS = 2000


def refresh_marker_mtime(
    spark: SparkSession, path_str: str, content: str | None = None
) -> bool:
    """Bump a marker's modification time to now, WITHOUT touching its
    content where the filesystem allows it (``FileSystem.setTimes`` —
    a metadata-only heartbeat, no create/delete window a concurrent
    reader could race). False when the marker is gone (the holder
    lost it — a stale-lease takeover happened; the caller must stop
    believing it holds the lease).

    Object-store degradation (r13 advice #1): on s3a ``setTimes`` is
    a SILENT NO-OP (Hadoop's base implementation is empty and
    S3AFileSystem does not override it), so a heartbeat that trusted
    it would leave a live holder's lease looking stale five minutes
    after acquisition — the exact hazard the liveness design closes.
    The refresh therefore VERIFIES the mtime actually advanced and
    otherwise falls back to a content-preserving rewrite:
    ``create(overwrite=true)`` is an atomic PUT on object stores, so
    a concurrent reader observes either the old or the new object,
    both carrying identical content, and the PUT's server-side
    timestamp IS the heartbeat. ``content`` is the bytes the holder
    knows it wrote: before the fallback rewrite the marker is
    re-read and a mismatch reports False instead of writing — a
    takeover landing between the holder's last read and this refresh
    must LOSE the lease, not have its fresh lease clobbered back to
    the usurped holder's content (the remaining read-then-create
    window is sub-millisecond, the same class as the claim settle
    residue). Omitted, the current content is re-read and rewritten
    as-is — content-preserving regardless of owner (and a vanished
    marker reports False, as above)."""
    import time as _time

    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return False
    now_ms = int(_time.time() * 1000)
    try:
        _set_times(fs, path, now_ms)
    except Exception:  # noqa: BLE001 — treated as "did not advance"
        pass
    if fs.getFileStatus(path).getModificationTime() >= now_ms - _MTIME_SLACK_MS:
        return True
    data = read_marker(spark, path_str)
    if data is None or (content is not None and data != content):
        return False
    out = fs.create(path, True)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()
    return True


def read_marker(spark: SparkSession, path_str: str) -> str | None:
    """The content a claim was created with, or None when no claim
    exists (an unreadable/empty claim reads as "" — callers treat a
    content mismatch conservatively, as a foreign writer)."""
    fs, path = _fs_and_path(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


# The epoch-ledger layout every cross-run ledger here shares (URL and
# content admission, refresh state, shard store): one ``epoch=<n>``
# partition per night or micro-batch, written by dynamic overwrite so a
# replay of epoch n rewrites only its own partition, and compacted
# history in ONE partition whose id no writer ever takes — Structured
# Streaming batch ids and night numbers start at 0 and only grow, so
# an own-epoch exclusion always keeps compacted rows visible.
COMPACTED_EPOCH = -1


def append_epoch(rows: DataFrame, path_str: str, epoch: int) -> None:
    """Land ``rows`` as the ``epoch=<epoch>`` partition of the ledger
    at ``path_str``. Dynamic overwrite touches only that partition: a
    replay overwrites its own epoch instead of double-appending, and
    empty ``rows`` create no partition at all."""
    (
        rows.withColumn("epoch", F.lit(epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path_str)
    )


def read_ledger(
    spark: SparkSession,
    ledger_dir: str,
    epoch: int,
    rows_of: Callable[[DataFrame], DataFrame],
    like: DataFrame,
) -> DataFrame:
    """The ledger's rows as they stood before ``epoch`` (the epoch the
    caller is about to append) was written: every partition except
    ``epoch=<epoch>``, without the epoch column. A crash between a
    ledger append and the step that records it (a stream's checkpoint
    commit, a night's URL append) leaves that epoch's rows in place;
    excluding them reconstructs the exact pre-epoch ledger, so the
    replay recomputes the same outcomes instead of admitting tonight
    against itself. A missing ledger (first run) reads as the empty
    frame of ``rows_of``, the operator that owns the row shape,
    applied to ``like`` (the docs about to be admitted)."""
    if not has_parquet(spark, ledger_dir):
        return rows_of(like).filter(F.lit(False))
    # plain partitioned read: epoch is a partition column, which
    # recursiveFileLookup would silently drop (no partition inference)
    return (
        spark.read.parquet(ledger_dir)
        .filter(F.col("epoch") != F.lit(epoch))
        .drop("epoch")
    )


def night_epochs(spark: SparkSession, path_str: str) -> list[int]:
    """The per-night (or per-batch) epochs of a ledger, ascending:
    every ``epoch=<n>`` partition except the compacted one."""
    return sorted(e for e in epoch_partitions(spark, path_str) if e >= 0)


def last_committed_epoch(spark: SparkSession, checkpoint: str) -> int | None:
    """Highest batch id with a commit marker in a Structured Streaming
    checkpoint, or None before the first commit — the only epochs
    ledger compaction may fold (a written-but-uncommitted epoch must
    stay an excludable delta for its crash-replay). Scheme-agnostic:
    checkpoints live next to the ledger on hdfs://s3a in production."""
    names = list_names(spark, checkpoint.rstrip("/") + "/commits")
    ids = [int(n) for n in names if n.isdigit()]
    return max(ids) if ids else None


def committed_view(spark: SparkSession, led: DataFrame, checkpoint: str):
    """The commit-watermark gate of the ledger compactor: restrict a
    ledger frame to its compacted partition plus epochs at or below
    the checkpoint's last committed batch id. Returns
    ``(filtered_ledger, committed_predicate)``, or ``None`` when no
    batch has ever committed (nothing is safe to fold).

    CHECKPOINT-RESET CAVEAT: the gate compares ledger epoch ids to the
    CURRENT checkpoint's batch ids. After a checkpoint is deleted and
    recreated, batch ids restart at 0 — old high-numbered epochs sit
    above the new watermark and will not fold until ids catch up (and
    new batches dynamically overwrite old epoch partitions as their
    ids collide, the documented lost-checkpoint degradation). After a
    reset, run ONE ungated compaction (``checkpoint=None``) with the
    stream stopped to fold the orphaned history."""
    w = last_committed_epoch(spark, checkpoint)
    if w is None:
        return None
    filtered = led.filter(
        (F.col("epoch") == COMPACTED_EPOCH) | (F.col("epoch") <= F.lit(w))
    )
    return filtered, (lambda e: e <= w)


def fold_epochs(
    spark: SparkSession,
    ledger_dir: str,
    folded: DataFrame,
    supersedes: Callable[[int], bool],
) -> None:
    """The crash-safe core of every epoch-ledger compactor here (the
    content and URL admission ledgers and the refresh-state ledger —
    one implementation so the ordering invariant can never silently
    diverge between copies).

    ``folded`` is the compacted content (no epoch column); it lands as
    the ``epoch=COMPACTED_EPOCH`` partition; per-night partitions for
    which ``supersedes(e)`` is true are then GC'd. Crash safety is
    SUPERSET-monotone, not rename-atomic (a two-rename swap had a
    window where the ledger did not exist — review finding, r5):

    1. stage ``folded`` to a sibling tmp dir FIRST — it reads
       ``ledger_dir`` lazily, so it must be fully materialized before
       anything writes into the directory it reads;
    2. write the staged rows INTO ``ledger_dir`` as the compacted
       partition (:func:`append_epoch` — dynamic overwrite touches
       only that partition);
    3. only then delete superseded partitions and the tmp dir.

    A crash at any point leaves the ledger holding a SUPERSET of the
    compacted rows (duplicates at worst, never a loss); readers that
    select by epoch rule (latest-per-doc / own-epoch exclusion) are
    unaffected, and the next compaction heals the duplicates.

    SINGLE CONCURRENT COMPACTOR per ledger: compaction is offline
    maintenance run between stream runs (the reference's nightly cron
    window, cron/script.bash:3) and this function assumes no other
    compactor is working the same ledger at the same time — two
    overlapping runs could interleave stage/GC steps."""
    base = ledger_dir.rstrip("/")
    tmp = base + f"__compact_tmp_e{COMPACTED_EPOCH}"
    # GC every stale staging sibling, not just our own name: a crashed
    # fold under an older tmp name would otherwise orphan a full
    # ledger-sized copy forever
    parent, name = base.rsplit("/", 1) if "/" in base else (".", base)
    for child in list_names(spark, parent):
        if child.startswith(name + "__compact_tmp"):
            delete(spark, f"{parent}/{child}")
    folded.write.mode("overwrite").parquet(tmp)
    append_epoch(spark.read.parquet(tmp), ledger_dir, COMPACTED_EPOCH)
    for e in night_epochs(spark, ledger_dir):
        if supersedes(e):
            delete(spark, f"{base}/epoch={e}")
    delete(spark, tmp)


def epoch_partitions(spark: SparkSession, path_str: str) -> list[int]:
    """Epoch ids of the ``epoch=<id>`` partition dirs under
    ``path_str`` — the shared layout of every streaming ledger here."""
    out = []
    for name in list_names(spark, path_str):
        if name.startswith("epoch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return out
