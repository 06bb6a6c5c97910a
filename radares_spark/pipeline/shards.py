"""Train-ready shard store: BPE token IDS packed into fixed-length
sequences, stored APPEND-ONLY with a token frontier — the terminal
artifact of the whole pipeline (crawl -> curate -> tokenize -> pack
-> training shards).

``corpus.emit_sequences`` packs whitespace WORDS
(the oracle-checkable packing semantics); a trainer consumes integer
token ids under the trained tokenizer. This module closes that gap
and adds the lifecycle piece none of the batch operators have: a
nightly append that continues from the previous night's token
frontier, so history is NEVER repacked and never even READ — a
production corpus seals shards once and only re-shards on a tokenizer
version bump (the same frozen-artifact contract as the IVF store's
frozen centroids, with the same fail-fast when the contract breaks:
the vocab fingerprint).

Layout under ``shards_dir``::

    epoch=K/               sealed sequences appended by night K
    _frontier_K/           the partial tail after night K (< ctx_len
                           tokens of placed rows, kilobytes)
    _meta/                 ctx_len, vocab fingerprint, next epoch,
                           global token offset, last night tag —
                           written LAST each night (crash => rerun
                           is byte-identical)

Sealed row: (seq_id, input_ids array<int>, n_docs, doc_spans
array<struct<doc_id, begin, n>>) — doc_spans is the attention-mask /
loss-mask manifest: piece ``s`` occupies ``[begin, begin+n)`` within
the sequence, so a reader can reset attention at doc boundaries
without re-deriving anything.

Scale shape: encoding is ``bpe_encode``'s dictionary-join discipline
with the sym -> id mapping applied at the WORD level (vocabulary-sized
work — the corpus token stream never probes a map: Spark's map
``element_at`` is a linear scan, so a per-token probe would be
O(|vocab|) per token); placement is the same two-phase distributed
prefix sum as ``corpus.emit_sequences`` (the only single-partition
window is over 1024 bucket totals); a night's append touches the
delta + the <= ctx_len-token frontier and writes one fresh epoch
partition — prior epochs are not listed, read, or rewritten (pinned
in tests by deleting night 1's epoch dir before night 2).

Verification tier: pure-Python replica equivalence (the BPE /
iterative-algorithm tier — token ids are not SQL-expressible), plus
the manifest-reconstruction, crash-rerun, and history-independence
pins in tests/test_shards.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from radares_spark.io.fs import COMPACTED_EPOCH, append_epoch
from radares_spark.io.fs import delete as fs_delete
from radares_spark.io.fs import list_names
from radares_spark.operators.bpe import (
    _apply_merges_udf,
    _initial_symbols,
    normalize_text,
)
from radares_spark.operators.dedup import NORM_SQL, _md5
from radares_spark.pipeline.corpus import N_BUDGET_BUCKETS
from radares_spark.registry import QuerySpec

# the oracle's normalize_text mirror over the documents table
_NORM_SQL_DOC = NORM_SQL.format(c="coalesce(text, '')")

SHARD_CTX = 256
UNK_ID = 0  # reserved: symbols outside the trained vocabulary


def token_vocab(
    word_syms: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """(sym, tok_id) — deterministic integer id per trained symbol,
    lexicographic from 1 (0 is UNK). The symbol set is the union of
    every symbol in the trained word table and, when ``merges`` is
    given, every merge's inputs and output — a merge created at round
    k and consumed by round k' can vanish from every trained word's
    FINAL segmentation yet still be emitted by the OOV min-rank path,
    so the table alone under-covers.

    The ordering sort runs on one partition BY DESIGN: the symbol
    vocabulary is a training knob (|merges| + alphabet, ~32-100k),
    corpus-independent — same sanction as the <= 1025-row offsets
    window in the prefix sums."""
    syms = word_syms.select(F.explode("syms").alias("sym"))
    if merges:
        spark = word_syms.sparkSession
        extra = {s for l, r in merges for s in (l, r, l + r)}
        syms = syms.unionByName(
            spark.createDataFrame([(s,) for s in sorted(extra)], ["sym"])
        )
    return syms.distinct().select(
        "sym", F.row_number().over(W.orderBy("sym")).cast("int").alias("tok_id")
    )


def vocab_fingerprint(vocab: DataFrame) -> str:
    """md5 over the (tok_id, sym) pairs in id order — the tokenizer
    identity a shard store is sealed under. Kilobyte collect (the
    vocabulary, never the corpus); symbols are [a-z0-9_] so the \\x00
    / \\x01 slot separators cannot be imitated."""
    rows = vocab.select("tok_id", "sym").orderBy("tok_id").collect()
    blob = "\x00".join(f"{r['tok_id']}\x01{r['sym']}" for r in rows)
    return hashlib.md5(blob.encode()).hexdigest()


def encode_ids(
    docs: DataFrame,
    word_syms: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, input_ids array<int>, n_tokens) — ``bpe_encode``'s
    exact tokenization contract (dictionary join for in-vocabulary
    words, trained-merge application over the DISTINCT OOV vocabulary
    when ``merges`` is given, char fallback otherwise, doc spine
    preserved as (doc_id, [], 0)) with the sym -> integer-id mapping
    composed in at the WORD level: each distinct word's symbol array
    becomes an id array ONCE (vocabulary-sized explode + join +
    positional regroup), and the corpus-level join then carries ids
    directly — zero per-token map probes, zero Python on the corpus
    token stream."""
    if vocab is None:
        vocab = token_vocab(word_syms, merges)
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    toks = docs.select(
        "doc_id", F.posexplode(F.split(norm, " ")).alias("pos", "word")
    ).filter(F.col("word") != "")
    wtab = word_syms.select("word", "syms")
    dwords = toks.select("word").distinct()
    # word -> ids, resolved once per distinct word the INPUT actually
    # uses, in a SINGLE pass over the input vocabulary: one left join
    # against the trained table (in-vocabulary words keep their trained
    # syms; unmatched rows fall back). The previous semi-join + anti-
    # join + union consumed ``dwords`` TWICE, and its upstream is the
    # corpus-wide distinct explode — re-evaluated per consumer, the
    # single biggest term in the encode wall (measured 1.7 -> 0.9 s at
    # sf0.1, rows identical). The r9 micro-batch property is preserved:
    # a 10-doc batch still resolves a handful of words, because the
    # join is keyed on the input's vocabulary, not the trained table's.
    # No broadcast hint: the word table is vocabulary-sized, AQE
    # decides — bpe_encode's contract.
    #
    # The OOV fallback is null-guarded so the merge UDF's Python loop
    # runs only for unmatched words: in-vocabulary rows ship a NULL
    # (the Arrow batch carries them as nulls; enc returns None for
    # them in a vectorized check) and coalesce keeps the trained syms.
    if merges is not None:
        fallback = _apply_merges_udf(merges)(
            F.when(F.col("syms").isNull(), F.col("word"))
        )
    else:
        fallback = _initial_symbols(F.col("word"))
    wids = (
        dwords.join(wtab, "word", "left")
        .select("word", F.coalesce(F.col("syms"), fallback).alias("syms"))
        .select("word", F.posexplode("syms").alias("sp", "sym"))
        .join(vocab, "sym", "left")
        .groupBy("word")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "sp",
                            F.coalesce(
                                F.col("tok_id"), F.lit(UNK_ID)
                            ).alias("tid"),
                        )
                    )
                ),
                lambda s: s["tid"],
            ).alias("wids")
        )
    )
    # NOTE (r15 A/B, plans/r15/ab_encode.py): two regroup restructures
    # measured and rejected — (a) repartition(doc_id)+sortWithin+
    # order-preserving collect_list is NOT row-identical (hash agg does
    # not guarantee intra-group arrival order; diff=64 rows at sf0.1),
    # (b) a mapInPandas assembly with cross-batch carry is identical
    # but ~27% slower. This collect_list+array_sort+flatten form is
    # the measured floor for the shape.
    agg = (
        toks.join(wids, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "wids"))),
                    lambda s: s["wids"],
                )
            ).alias("input_ids")
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("input_ids"), F.expr("cast(array() as array<int>)")
            ).alias("input_ids"),
        )
        .select(
            "doc_id", "input_ids", F.size("input_ids").cast("long").alias("n_tokens")
        )
    )


def _placed(encoded: DataFrame, token_start: int) -> DataFrame:
    """(doc_id, input_ids, n, off) — global token offsets in the
    deterministic (hash-bucket, doc_id) corpus order starting at
    ``token_start``; the two-phase distributed prefix sum of
    ``corpus.emit_sequences`` (per-bucket parallel sums; the only
    single-partition window covers the 1024 bucket totals).

    Unlike ``emit_sequences`` (whose upstream is one cheap
    projection), the upstream here is the FULL encode — two joins and
    two regroups — so the per-bucket totals are derived from the
    in-bucket running sum's OUTPUT (``max`` of a running total is the
    bucket total) instead of a separate ``groupBy`` on the input:
    both consumers then share the identical Exchange(__bucket) child,
    so the encode subtree runs ONCE (a direct groupBy puts its partial
    aggregate BELOW its own exchange, defeating reuse and re-running
    the encode). Interleaved A/B at sf0.1: consistently faster but
    only ~5-8% — packing is stage-latency-bound there, the arrays are
    MBs; the reuse matters at corpus scale where a second encode pass
    is a second full-corpus tokenize+join."""
    bucketed = encoded.select(
        "doc_id",
        "input_ids",
        F.col("n_tokens").alias("n"),
        (
            F.conv(F.substring(_md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % N_BUDGET_BUCKETS
        ).alias("__bucket"),
    )
    in_w = (
        W.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    win = bucketed.withColumn("__cum", F.sum("n").over(in_w))
    per_bucket = win.groupBy("__bucket").agg(F.max("__cum").alias("__btok"))
    off_w = W.orderBy("__bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = per_bucket.select(
        "__bucket",
        (F.sum("__btok").over(off_w) - F.col("__btok")).alias("__offset"),
    )
    return (
        win.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "off",
            F.lit(token_start) + F.col("__offset") + F.col("__cum") - F.col("n"),
        )
        .filter(F.col("n") > 0)
        .select("doc_id", "input_ids", "n", "off")
    )


def _sequences(placed: DataFrame, ctx_len: int) -> DataFrame:
    """Cut ``ctx_len`` windows over placed rows: one row per sequence
    the rows touch, with the piece manifest. Per-row arithmetic +
    one group-by on seq_id — no corpus sort."""
    spans = placed.select(
        "doc_id",
        "input_ids",
        "n",
        "off",
        F.explode(
            F.sequence(
                F.floor(F.col("off") / ctx_len),
                F.floor((F.col("off") + F.col("n") - 1) / ctx_len),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * ctx_len - F.col("off"), F.lit(0))
    hi = F.least((F.col("seq_id") + 1) * ctx_len - F.col("off"), F.col("n"))
    sliced = spans.select(
        "seq_id",
        (F.col("off") + lo - F.col("seq_id") * ctx_len)
        .cast("int")
        .alias("begin"),
        F.slice(F.col("input_ids"), (lo + 1).cast("int"), (hi - lo).cast("int"))
        .alias("piece"),
        "doc_id",
        (hi - lo).cast("int").alias("n_piece"),
    )
    return (
        sliced.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("begin", "piece"))),
                    lambda s: s["piece"],
                )
            ).alias("input_ids"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("begin", "doc_id", F.col("n_piece").alias("n"))
                    )
                ),
                lambda s: F.struct(
                    s["doc_id"].alias("doc_id"),
                    s["begin"].alias("begin"),
                    s["n"].alias("n"),
                ),
            ).alias("doc_spans"),
        )
    )


def pack_ids(encoded: DataFrame, ctx_len: int = SHARD_CTX) -> DataFrame:
    """The pure packing plan (no store I/O): encoded docs (doc_id,
    input_ids, n_tokens) -> sequence rows (seq_id, n_docs, input_ids,
    doc_spans), the last sequence possibly partial. ``append_shards``
    is this plus the frontier/epoch lifecycle; exposed so benchmarks
    and batch one-shot exports time/run packing alone."""
    return _sequences(_placed(encoded, 0), ctx_len)


def training_order(
    sealed: DataFrame, seed: int | str, n_shards: int = 1024
) -> DataFrame:
    """A deterministic per-epoch GLOBAL shuffle of sealed sequences
    without a corpus-wide sort: adds (shard, pos) columns whose
    lexicographic order (shard asc, pos asc) is the training order —
    a pure function of (seed, seq_id set), independent of input
    partitioning, different per seed.

    Scale shape: shard = md5(seed:seq_id) bucket, pos = rank within
    the shard by the same hash — ONE hash-partition shuffle plus a
    shard-local window. A range sort (orderBy(rand)) would pay a
    sampling pass + range exchange over the corpus and tie the order
    to the partitioning; here every shard's window is ~|corpus|/
    n_shards rows, embarrassingly parallel. A trainer lands this
    ``partitionBy("shard")`` and streams shard files in pos order —
    sequential reads, shuffled data."""
    key = _md5(
        F.concat_ws(":", F.lit(str(seed)), F.col("seq_id").cast("string"))
    )
    return (
        sealed.withColumn("__okey", key)
        .withColumn(
            "shard",
            (
                F.conv(F.substring("__okey", 1, 8), 16, 10).cast("long")
                % n_shards
            ).cast("int"),
        )
        .withColumn(
            "pos",
            F.row_number()
            .over(W.partitionBy("shard").orderBy("__okey", "seq_id"))
            .cast("int"),
        )
        .drop("__okey")
    )


def export_training_shards(
    spark: SparkSession,
    shards_dir: str,
    out_dir: str,
    seed: int | str,
    n_shards: int = 1024,
    max_tokens: int | None = None,
) -> dict[str, int]:
    """Materialize one training epoch: every sealed sequence, in the
    seed's :func:`training_order`, landed as ``out_dir/shard=S/`` with
    EXACTLY ONE file per shard whose row order is the training order —
    a trainer streams shard dirs in name order, rows in file order,
    and sees a deterministic global shuffle as pure sequential reads.

    The single-file-per-shard guarantee without a global sort:
    ``repartition(n, shard)`` co-locates each shard's rows in one
    task (shards may share a task), ``sortWithinPartitions(shard,
    pos)`` makes them contiguous and ordered inside it, and the
    partitionBy writer then splits per shard value — so each shard
    dir receives its rows from exactly one task, in order.

    ``max_tokens`` exports a BUDGETED epoch: the first
    ``ceil(max_tokens / ctx_len)`` sequences of the seed's training
    order — a deterministic shuffled SUBSAMPLE (train a 1B-token epoch
    from a 10B-token store; a different seed draws a different
    subsample). The global prefix is taken WITHOUT a corpus sort: the
    training order is (shard asc, pos asc), so per-shard counts
    (``n_shards`` rows) + the sanctioned tiny offsets window give each
    row its global rank as ``shard_offset + pos``, and the cut is a
    filter.

    A store with no sealed epoch yet exports cleanly as zeros (an
    empty partitioned write would otherwise read back as an opaque
    'unable to infer schema' AnalysisException)."""
    if not _has_epoch(spark, shards_dir):
        return {"n_sequences": 0, "n_shards_written": 0}
    sealed = read_shards(spark, shards_dir)
    ordered = training_order(sealed, seed, n_shards)
    if max_tokens is not None:
        ctx_len = int(_meta_row(spark, shards_dir)["ctx_len"])
        mt = max(0, int(max_tokens))
        n_keep = (mt + ctx_len - 1) // ctx_len
        if n_keep == 0:
            return {"n_sequences": 0, "n_shards_written": 0}
        per_shard = ordered.groupBy("shard").agg(
            F.count(F.lit(1)).alias("__n")
        )
        off_w = W.orderBy("shard").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        offsets = per_shard.select(
            "shard", (F.sum("__n").over(off_w) - F.col("__n")).alias("__off")
        )
        ordered = (
            ordered.join(F.broadcast(offsets), "shard")
            .filter(F.col("__off") + F.col("pos") <= n_keep)
            .drop("__off")
        )
    (
        ordered.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    return {
        "n_sequences": back.count(),
        "n_shards_written": back.select("shard").distinct().count(),
    }


def shards_health(spark: SparkSession, shards_dir: str) -> dict:
    """Operator-facing store report (the shard twin of
    ``corpus_health_report``): meta identity plus ONE aggregate over
    sealed sequences — epochs, sequences, tokens, docs-per-sequence
    spread, and the invariant flags a corrupted store would trip
    (every sealed row exactly ctx_len tokens; manifests tile)."""
    meta = _meta_row(spark, shards_dir)
    ctx_len = int(meta["ctx_len"])
    sealed = read_shards(spark, shards_dir)
    row = sealed.agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.countDistinct("epoch").alias("n_epochs"),
        F.coalesce(F.sum(F.size("input_ids")), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.max("n_docs"), F.lit(0)).alias("max_docs_per_seq"),
        F.coalesce(F.avg("n_docs"), F.lit(0.0)).alias("avg_docs_per_seq"),
        F.coalesce(
            F.sum(F.when(F.size("input_ids") != ctx_len, 1).otherwise(0)),
            F.lit(0),
        ).alias("n_bad_len"),
        F.coalesce(
            F.sum(
                F.when(
                    # the full tiling rule, not just the length sum —
                    # overlapping spans with a correct total must trip
                    # this flag too (review find; same fold the
                    # verifier uses, so the two can't diverge)
                    ~_spans_tiling_fold(
                        lambda acc: acc["ok"] & (acc["pos"] == ctx_len)
                    ),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_bad_manifest"),
    ).head()
    return {
        "ctx_len": ctx_len,
        "vocab_fp": meta["vocab_fp"],
        "next_epoch": int(meta["next_epoch"]),
        "next_token_offset": int(meta["next_token_offset"]),
        "n_sequences": row["n_sequences"],
        "n_epochs": row["n_epochs"],
        "n_sealed_tokens": row["n_tokens"],
        "max_docs_per_seq": row["max_docs_per_seq"],
        "avg_docs_per_seq": round(float(row["avg_docs_per_seq"]), 2),
        "n_bad_len": row["n_bad_len"],
        "n_bad_manifest": row["n_bad_manifest"],
    }


def _meta_row(spark: SparkSession, shards_dir: str):
    return spark.read.parquet(f"{shards_dir}/_meta").head()


def _write_meta(
    spark: SparkSession,
    shards_dir: str,
    ctx_len: int,
    vocab_fp: str,
    next_epoch: int,
    next_token_offset: int,
    last_night: str | None = None,
    nights: list[str] | None = None,
) -> None:
    # ``nights`` is the FULL set of completed night tags, not just the
    # latest: a completed night's re-run must no-op even when later
    # nights have run since (the last-tag-only form silently
    # double-appended any older completed night). One string per night
    # in a one-row meta — kilobytes for years of nightly tags.
    #
    # repartition(1), NEVER coalesce(1), on a createDataFrame local
    # relation: the relation parallelizes into leaf-parallelism (32)
    # Python slices, and CoalesceExec(1) evaluates them SEQUENTIALLY
    # inside one task — one Python-worker round-trip per slice, a
    # measured ~4 s of fixed cost on EVERY action (this one write was
    # half the shards_append epoch time). repartition(1) keeps the
    # single-file layout with the slices evaluated in parallel.
    spark.createDataFrame(
        [(ctx_len, vocab_fp, next_epoch, next_token_offset, last_night, nights or [])],
        "ctx_len int, vocab_fp string, next_epoch int, "
        "next_token_offset long, last_night string, nights array<string>",
    ).repartition(1).write.mode("overwrite").parquet(f"{shards_dir}/_meta")


def _completed_nights(meta) -> list[str]:
    """Completed night tags from a meta row (every append rewrites the
    meta with the complete tag set)."""
    return list(meta["nights"] or [])


def init_shards(
    spark: SparkSession,
    shards_dir: str,
    vocab: DataFrame,
    ctx_len: int = SHARD_CTX,
) -> None:
    """Night zero: an empty store sealed under ``vocab``'s
    fingerprint. All content arrives via :func:`append_shards`."""
    _write_meta(spark, shards_dir, ctx_len, vocab_fingerprint(vocab), 0, 0)


def append_shards(
    spark: SparkSession,
    shards_dir: str,
    delta_docs: DataFrame,
    word_syms: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    night: str | None = None,
    vocab: DataFrame | None = None,
) -> dict[str, int]:
    """One nightly append: encode ``delta_docs`` under the store's
    tokenizer, lay their tokens after the stored global offset,
    complete the carried frontier, seal every full sequence into this
    night's ``epoch=K`` partition, and persist the new partial tail.

    Write order is the crash-idempotency ladder (ledger-write-LAST,
    the crawl-nightly recipe): sealed epoch partition (dynamic
    overwrite of exactly ``epoch=K``) -> ``_frontier_K`` -> ``_meta``.
    A night that dies anywhere reruns byte-identically because every
    input it reads (meta, frontier K-1, the delta) is untouched until
    the final meta write.

    Fails fast when the tokenizer changed (vocab fingerprint mismatch
    — sealed history would silently mix id spaces; re-sharding is the
    remedy, exactly like an IVF retrain).

    ``night`` is the operator-level idempotency tag (the crawl-nightly
    completed-night discipline): the full SET of completed tags
    persists in ``_meta`` — which writes LAST — so re-running ANY
    completed night is a recognized no-op (``already_appended: 1``)
    instead of a double-append, even after later nights have run,
    while a night that crashed anywhere earlier never recorded its
    tag and reruns in full.

    ``vocab``: optionally the PINNED ``token_vocab(word_syms, merges)``
    frame — a caller appending many times under one tokenizer (the
    streaming twin: one append per micro-batch) derives it once per
    run instead of once per epoch; the fingerprint check still runs
    per append, so a mid-run tokenizer swap still fails fast."""
    meta = _meta_row(spark, shards_dir)
    ctx_len, epoch = int(meta["ctx_len"]), int(meta["next_epoch"])
    prior_total = int(meta["next_token_offset"])
    # the tokenizer gate runs BEFORE the completed-night no-op: a
    # re-run under a swapped tokenizer is a misconfiguration that must
    # surface even when the tag says "nothing to do" (a silent no-op
    # would let the operator believe the swap is compatible)
    if vocab is None:
        vocab = token_vocab(word_syms, merges).localCheckpoint()
    fp = vocab_fingerprint(vocab)
    if fp != meta["vocab_fp"]:
        raise ValueError(
            f"tokenizer changed (vocab fingerprint {fp} != sealed "
            f"{meta['vocab_fp']}): sealed shards would mix id spaces — "
            "re-shard under the new tokenizer instead"
        )
    done_nights = _completed_nights(meta)
    if night is not None and night in done_nights:
        # the meta records WHICH nights completed, not which epoch each
        # landed in — only the most recent no-op can name its epoch
        # honestly (review find: epoch-1 was wrong for older nights)
        return {
            "already_appended": 1,
            "epoch": (
                epoch - 1
                if meta.asDict().get("last_night") == night
                else None
            ),
            "n_delta_docs": 0,
            "n_delta_tokens": 0,
            "n_sealed": 0,
            "n_total_tokens": prior_total,
        }

    encoded = encode_ids(delta_docs, word_syms, merges, vocab)
    placed = _placed(encoded, prior_total).localCheckpoint()
    n_delta_tokens = placed.agg(F.coalesce(F.sum("n"), F.lit(0))).head()[0]
    n_delta_docs = placed.count()
    if epoch > 0:
        frontier = spark.read.parquet(f"{shards_dir}/_frontier_{epoch - 1}")
        placed_all = frontier.unionByName(placed)
    else:
        placed_all = placed

    total = prior_total + int(n_delta_tokens)
    sealed_hi = total // ctx_len
    seqs = _sequences(placed_all, ctx_len)
    sealed = seqs.filter(F.col("seq_id") < sealed_hi).localCheckpoint()
    n_sealed = sealed.count()
    if n_sealed:
        append_epoch(sealed, shards_dir, epoch)

    # the partial tail: unsealed suffixes of rows crossing the new
    # boundary, trimmed so the sidecar holds < ctx_len tokens total
    start = F.greatest(F.col("off"), F.lit(sealed_hi * ctx_len))
    frontier_new = placed_all.filter(
        F.col("off") + F.col("n") > sealed_hi * ctx_len
    ).select(
        "doc_id",
        F.slice(
            F.col("input_ids"),
            (start - F.col("off") + 1).cast("int"),
            (F.col("off") + F.col("n") - start).cast("int"),
        ).alias("input_ids"),
        (F.col("off") + F.col("n") - start).alias("n"),
        start.alias("off"),
    )
    frontier_new.coalesce(1).write.mode("overwrite").parquet(
        f"{shards_dir}/_frontier_{epoch}"
    )
    _write_meta(
        spark,
        shards_dir,
        ctx_len,
        fp,
        epoch + 1,
        total,
        night,
        done_nights + [night] if night is not None else done_nights,
    )
    if epoch > 0:
        # now superseded; rerun-safety no longer needs it
        fs_delete(spark, f"{shards_dir}/_frontier_{epoch - 1}")
    return {
        "epoch": epoch,
        "n_delta_docs": int(n_delta_docs),
        "n_delta_tokens": int(n_delta_tokens),
        "n_sealed": int(n_sealed),
        "n_total_tokens": total,
    }


def reshard_shards(
    spark: SparkSession,
    shards_dir: str,
    out_dir: str,
    docs: DataFrame,
    word_syms: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    night: str | None = None,
) -> dict:
    """The remedy for a tokenizer bump — the ONE lifecycle event
    ``append_shards``'s vocab-fingerprint fail-fast defends against
    but (before r9) had no implementation: rebuild the shard store
    from the kept corpus under the NEW tokenizer, into a NEW directory
    (write-new-then-swap — the old store keeps serving, byte-untouched,
    until the caller flips the path; the IVF retrain's contract).

    Sealed token ids are a pure function of (corpus, tokenizer), so a
    re-shard is exactly from-scratch packing: init under the new
    vocab's fingerprint + one append of the full kept corpus — one
    encode pass + one packing shuffle, the same cost as the original
    night-zero, scheduled off the tokenizer release, never nightly.
    The sequence length is the old store's (a training contract that
    survives a vocab bump); ``night`` adds the
    rebuild's own tag. The old store's completed-night tags are
    CARRIED into the new meta: the resharded store contains those
    nights' docs (they are the kept corpus), so a replay of any of
    them after the swap must stay a recognized no-op (review find —
    seeding only the rebuild tag made old-night replays double-append).
    Corollary: re-shard from a QUIESCED kept corpus whose completed
    nights are all logged — a night that crashed before recording its
    tag but after reaching the kept corpus is indistinguishable from
    new data."""
    if out_dir.rstrip("/") == shards_dir.rstrip("/"):
        raise ValueError(
            "re-shard writes a NEW store (write-new-then-swap); out_dir "
            "must differ from the serving store"
        )
    old_meta = _meta_row(spark, shards_dir)
    ctx_len = int(old_meta["ctx_len"])
    # pinned once and threaded through: init and append would each
    # rebuild + re-fingerprint the vocabulary otherwise (~0.5 s each)
    vocab = token_vocab(word_syms, merges).localCheckpoint()
    fp = vocab_fingerprint(vocab)
    init_shards(spark, out_dir, vocab, ctx_len=ctx_len)
    stats = append_shards(
        spark,
        out_dir,
        docs,
        word_syms,
        merges,
        night=night,
        vocab=vocab,
    )
    # carry the OLD store's completed-night tags (docstring): merge
    # them under the new meta, preserving the append's epoch/offset
    old_nights = _completed_nights(old_meta)
    new_meta = _meta_row(spark, out_dir)
    merged = old_nights + [
        n for n in _completed_nights(new_meta) if n not in old_nights
    ]
    _write_meta(
        spark,
        out_dir,
        ctx_len,
        fp,
        int(new_meta["next_epoch"]),
        int(new_meta["next_token_offset"]),
        new_meta.asDict().get("last_night"),
        merged,
    )
    return {
        **stats,
        "old_vocab_fp": old_meta["vocab_fp"],
        "new_vocab_fp": fp,
        "tokenizer_changed": int(fp != old_meta["vocab_fp"]),
    }


# target ~32M ids (~128 MiB of int32) per compacted parquet file
_COMPACT_TOKENS_PER_FILE = 32 << 20


def compact_shards(
    spark: SparkSession, shards_dir: str, out_dir: str
) -> dict:
    """Fold a sealed store's one-epoch-per-night partitions into a
    single ``epoch=-1`` partition in a NEW store (write-new-then-swap:
    the serving store is byte-untouched until the caller flips the
    pointer — ``corpus-maintain --compact-shards`` does both).

    The remedy for the OTHER small-files tail of years of nightly
    appends: the admission ledgers compact via the streaming core, and
    the shard store compacts here — content-identically. Same sealed
    rows (re-chunked to ~128 MiB files, seq_id-sorted), same meta
    (epoch NUMBERING continues where it left off — appends never write
    -1, the ledger-compaction convention), same carried frontier
    sidecar and completed-night tag set; so ``shards_verify``'s
    invariants, epoch exports, the next ``append_shards`` and
    old-night replay no-ops are all unchanged. Unlike ``reshard``
    (which re-encodes the corpus under a new tokenizer), compaction
    only rewrites the sealed parquet — one scan, one write."""
    if out_dir.rstrip("/") == shards_dir.rstrip("/"):
        raise ValueError(
            "compaction writes a NEW store (write-new-then-swap); "
            "out_dir must differ from the serving store"
        )
    meta = _meta_row(spark, shards_dir)
    ctx_len, next_epoch = int(meta["ctx_len"]), int(meta["next_epoch"])
    n_epoch_dirs = sum(
        1 for nme in list_names(spark, shards_dir) if nme.startswith("epoch=")
    )
    sealed = read_shards(spark, shards_dir).drop("epoch").withColumn(
        "epoch", F.lit(COMPACTED_EPOCH)
    )
    n = sealed.count()
    per_file = max(1, _COMPACT_TOKENS_PER_FILE // max(ctx_len, 1))
    n_files = max(1, -(-n // per_file))
    if n:
        # range-partition on seq_id (r10 advice): round-robin
        # repartition made every file an internally-sorted RANDOM
        # sample, so a sequential training read hopped files; range
        # partitioning gives contiguous non-overlapping seq_id spans
        # per file for free (one range-exchange instead of one
        # round-robin exchange — same shuffle count)
        (
            sealed.repartitionByRange(n_files, "seq_id")
            .sortWithinPartitions("seq_id")
            .write.mode("overwrite")
            .partitionBy("epoch")
            .parquet(out_dir)
        )
    if next_epoch > 0:
        # the carried frontier rides along so the next append resumes
        # exactly where the old store left off
        spark.read.parquet(f"{shards_dir}/_frontier_{next_epoch - 1}").repartition(
            1
        ).write.mode("overwrite").parquet(f"{out_dir}/_frontier_{next_epoch - 1}")
    _write_meta(
        spark,
        out_dir,
        ctx_len,
        meta["vocab_fp"],
        next_epoch,
        int(meta["next_token_offset"]),
        meta.asDict().get("last_night"),
        _completed_nights(meta),
    )
    return {
        "n_sealed": int(n),
        "n_epochs_folded": n_epoch_dirs,
        "n_files": int(n_files),
    }


def _spans_tiling_fold(finish):
    """(pos, ok) fold over ``doc_spans``: each span's ``begin`` must
    equal the running sum of prior span lengths. ``finish`` maps the
    final accumulator to the reported value — shared by the store
    verifier and the driver-window manifest audit so the tiling rule
    can never silently diverge between them."""
    return F.aggregate(
        "doc_spans",
        F.struct(F.lit(0).alias("pos"), F.lit(True).alias("ok")),
        lambda acc, s: F.struct(
            (acc["pos"] + s["n"]).alias("pos"),
            (acc["ok"] & (s["begin"] == acc["pos"])).alias("ok"),
        ),
        finish,
    )


def shards_verify(
    spark: SparkSession, shards_dir: str, tok_dir: str | None = None
) -> dict:
    """Read-side validation a trainer gates on BEFORE an epoch export
    (``shards-export`` trusts the store; this recomputes its invariants
    from the parquet itself):

    - ``sealed_ok`` — sequence ids are exactly ``0..n-1`` with no gap
      or duplicate, and ``n`` equals what the meta's global token
      offset implies (``next_token_offset // ctx_len``);
    - ``len_ok`` — every sealed row holds exactly ``ctx_len`` ids;
    - ``manifest_ok`` — every sealed row's doc_spans tile the sequence
      contiguously (begin = running sum of prior spans) to exactly
      ``ctx_len`` AND to the actual id-array length (a manifest that
      tiles its claimed length over a truncated array is still
      corrupt);
    - ``frontier_ok`` — the carried tail holds exactly the tokens
      between the last sealed boundary and the global offset, offsets
      contiguous (the tail is < ctx_len tokens — checked driver-side,
      it is kilobytes by construction);
    - ``vocab_ok`` — with ``tok_dir``, the tokenizer artifact's vocab
      fingerprint matches the store's seal (None when not checked).

    One aggregate over the sealed store plus kilobyte sidecar reads;
    ``ok`` is the conjunction — the exit code of the CLI face."""
    from radares_spark.operators.bpe import load_tokenizer

    meta = _meta_row(spark, shards_dir)
    ctx_len, next_epoch = int(meta["ctx_len"]), int(meta["next_epoch"])
    next_off = int(meta["next_token_offset"])
    sealed_hi = next_off // ctx_len
    sealed = read_shards(spark, shards_dir)
    tiled_ok = _spans_tiling_fold(
        lambda acc: acc["ok"]
        & (acc["pos"] == ctx_len)
        & (acc["pos"] == F.size("input_ids"))
    )
    row = sealed.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("seq_id").alias("nd"),
        F.coalesce(F.min("seq_id"), F.lit(0)).alias("lo"),
        F.coalesce(F.max("seq_id"), F.lit(-1)).alias("hi"),
        F.coalesce(
            F.sum(F.when(F.size("input_ids") != ctx_len, 1).otherwise(0)),
            F.lit(0),
        ).alias("bad_len"),
        F.coalesce(F.sum(F.when(~tiled_ok, 1).otherwise(0)), F.lit(0)).alias(
            "bad_manifest"
        ),
    ).head()
    n = row["n"]
    sealed_ok = (
        n == sealed_hi
        and row["nd"] == n
        and (n == 0 or (row["lo"] == 0 and row["hi"] == n - 1))
    )

    frontier_ok = True
    if next_epoch > 0:
        fr_path = f"{shards_dir}/_frontier_{next_epoch - 1}"
        if not list_names(spark, fr_path):
            # a missing sidecar IS the corruption being detected —
            # report it, don't crash on the read
            frontier_ok = False
        else:
            fr = sorted(
                spark.read.parquet(fr_path).select("n", "off").collect(),
                key=lambda r: r["off"],
            )
            pos = sealed_hi * ctx_len
            for r in fr:
                frontier_ok = frontier_ok and r["off"] == pos
                pos += r["n"]
            frontier_ok = frontier_ok and pos == next_off
    else:
        frontier_ok = next_off == 0

    vocab_ok = None
    if tok_dir is not None:
        word_syms, merges = load_tokenizer(spark, tok_dir)
        vocab_ok = (
            vocab_fingerprint(token_vocab(word_syms, merges))
            == meta["vocab_fp"]
        )
    checks = {
        "n_sequences": int(n),
        "sealed_ok": bool(sealed_ok),
        "len_ok": row["bad_len"] == 0,
        "manifest_ok": row["bad_manifest"] == 0,
        "frontier_ok": bool(frontier_ok),
        "vocab_ok": vocab_ok,
    }
    checks["ok"] = all(
        v for k, v in checks.items() if k.endswith("_ok") and v is not None
    )
    return checks


# --- driver-window audit (r9): the terminal tier under the oracle ----
#
# Token IDS are not SQL-expressible (they depend on the trained BPE
# table), but the packing MANIFEST is: under a char-level tokenizer
# (every corpus word -> its _initial_symbols, no merges) a doc's token
# count is exactly its normalized non-space character count, which
# DuckDB computes independently — so every manifest invariant of a
# packed sequence (length, span coverage, doc membership, span tiling)
# becomes a value-verified driver row instead of a replica-only claim.
# The Spark side runs the REAL encode_ids -> pack_ids path; the oracle
# never sees a token id, only arithmetic over documents.

SHARDS_AUDIT_SQL = """
    WITH toks AS (
        SELECT doc_id,
               {norm} AS norm,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                   % {buckets} AS bucket
        FROM documents
    ),
    sized AS (
        SELECT doc_id, bucket,
               CASE WHEN norm = '' THEN 0
                    ELSE len(replace(norm, ' ', '')) END AS n
        FROM toks
    ),
    placed AS (
        SELECT doc_id, n,
               (sum(n) OVER (ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n)::BIGINT AS off
        FROM sized
    ),
    pieces AS (
        SELECT doc_id, s AS seq_id,
               (off + greatest(s * {ctx} - off, 0) - s * {ctx})::INT AS begin,
               (least((s + 1) * {ctx} - off, n)
                - greatest(s * {ctx} - off, 0))::INT AS pn
        FROM placed,
             LATERAL unnest(generate_series(off // {ctx},
                                            (off + n - 1) // {ctx})) AS t(s)
        WHERE n > 0
    ),
    tiled AS (
        SELECT seq_id, doc_id, begin, pn,
               coalesce(sum(pn) OVER (PARTITION BY seq_id ORDER BY begin
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0) AS want_begin
        FROM pieces
    )
    SELECT seq_id,
           count(*)::INT AS n_docs,
           sum(pn)::BIGINT AS seq_len,
           sum(pn)::BIGINT AS span_sum,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc,
           bool_and(begin = want_begin) AS spans_tiled
    FROM tiled
    GROUP BY seq_id
"""


def shards_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per packed sequence over the documents table, via the
    production :func:`encode_ids` -> :func:`pack_ids` path under a
    char-level tokenizer: (seq_id, n_docs, seq_len, span_sum, min_doc,
    max_doc, spans_tiled). ``seq_len`` comes from the ACTUAL id arrays
    and ``span_sum``/``spans_tiled`` from the doc_spans manifest, so
    the oracle's independent character arithmetic cross-checks both
    the token stream length and the manifest geometry."""
    from radares_spark.io.tables import spread

    # spread(): one split at small SF single-threads the char-level
    # explode + encode front (no-op once the scan is parallel;
    # interleaved A/B at sf0.1: 2.05 -> 1.93 s, rows identical)
    docs = spread(spark, sf_dir, "documents").select("doc_id", "text")
    norm = normalize_text(F.coalesce(F.col("text"), F.lit("")))
    # vocabulary-sized: the distinct-word table with char symbols (the
    # zero-merge tokenizer); the corpus token stream still resolves ids
    # through encode_ids' dictionary join, never a per-token probe.
    # PINNED (the reshard vocab-pin precedent): encode_ids consumes
    # word_syms three times (token_vocab, the in-vocab join, the OOV
    # anti-join) and its upstream is a corpus-wide distinct explode —
    # lazy form re-ran that scan per consumer (measured at sf0.1:
    # warm 4.5 -> 3.9 s, cold 12.7 -> 11.4 s with the pin).
    word_syms = (
        docs.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .select("word", _initial_symbols(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    seqs = pack_ids(encode_ids(docs, word_syms), ctx_len=SHARD_CTX)
    tiled = _spans_tiling_fold(lambda acc: acc["ok"])
    return seqs.select(
        "seq_id",
        "n_docs",
        F.size("input_ids").cast("long").alias("seq_len"),
        F.aggregate(
            "doc_spans", F.lit(0).cast("long"), lambda a, s: a + s["n"]
        ).alias("span_sum"),
        F.array_min(F.transform("doc_spans", lambda s: s["doc_id"])).alias(
            "min_doc"
        ),
        F.array_max(F.transform("doc_spans", lambda s: s["doc_id"])).alias(
            "max_doc"
        ),
        tiled.alias("spans_tiled"),
    )


DRIVER_SPECS: dict[str, QuerySpec] = {
    "shards_manifest_audit": QuerySpec(
        name="shards_manifest_audit",
        fn=shards_manifest_audit,
        oracle=SHARDS_AUDIT_SQL.format(
            norm=_NORM_SQL_DOC, ctx=SHARD_CTX, buckets=N_BUDGET_BUCKETS
        ),
        survey="LLM-pipeline (train-ready shard store: packed-sequence "
        "manifest audit — the terminal tier under the driver oracle)",
        doc=f"Sequence-level invariants of the {SHARD_CTX}-token id "
        "packing (encode_ids -> pack_ids under a char-level tokenizer): "
        "actual id-array length, doc_spans coverage and tiling, doc "
        "membership — all value-checked against DuckDB's independent "
        "character arithmetic. Same two-phase prefix-sum shape as the "
        "production shard store.",
    ),
}


def read_shards(spark: SparkSession, shards_dir: str) -> DataFrame:
    """Every sealed sequence across all epochs (sidecars are
    ``_``-prefixed and invisible to the partitioned read). Returns an
    empty, correctly-typed frame for a store with no sealed epoch
    yet."""
    if not _has_epoch(spark, shards_dir):
        return spark.createDataFrame(
            [],
            "seq_id long, n_docs int, input_ids array<int>, "
            "doc_spans array<struct<doc_id:long,begin:int,n:int>>, epoch int",
        )
    return spark.read.parquet(shards_dir)


def _has_epoch(spark: SparkSession, shards_dir: str) -> bool:
    return any(n.startswith("epoch=") for n in list_names(spark, shards_dir))
