"""BPE tokenizer training/encoding (operators/bpe.py): distributed
trainer == an independent pure-Python replica of Sennrich et al.'s
reference algorithm (merge tables AND final symbol arrays identical),
greedy-fold semantics on adversarial chains, deterministic ties,
encode round-trip incl. OOV fallback. Iterative training has no SQL
oracle — replica parity is the verification tier, the same as the
k-means trainer."""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
import pytest

# Whole-module slow tier (r15): multi-second Spark e2e tests dominate
# this module's wall; deselected by default so the driver's verify
# window fits — run with -m slow (see COVERAGE.md).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from radares_spark.operators.bpe import (
    EOW,
    bpe_encode,
    train_bpe,
    train_bpe_batched,
    word_counts,
)

# --- independent reference implementation (Sennrich 2016, Algorithm 1)


def _ref_normalize(text: str) -> str:
    x = re.sub(r"[^\x00-\x7F]", " ", text or "")
    x = x.lower()
    x = re.sub(r"[^a-z0-9 ]", " ", x)
    x = re.sub(r" +", " ", x)
    return x.strip()


def _ref_word_counts(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        n = _ref_normalize(t)
        if n:
            c.update(n.split(" "))
    return c


def _ref_syms(word: str) -> tuple[str, ...]:
    chars = list(word)
    chars[-1] = chars[-1] + EOW
    return tuple(chars)


def _ref_apply(syms: tuple[str, ...], l: str, r: str) -> tuple[str, ...]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == l and s == r:
            out[-1] = l + r
        else:
            out.append(s)
    return tuple(out)


def _ref_train(wc: Counter, n_merges: int, min_freq: int = 2):
    table = {w: _ref_syms(w) for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in table.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wc[w]
        if not pairs:
            break
        # count desc, then (l, r) lexicographic asc — the trainer's tie rule
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_freq:
            break
        merges.append((l, r))
        table = {w: _ref_apply(s, l, r) for w, s in table.items()}
    return merges, table


def _ref_train_batched(
    wc: Counter,
    n_merges: int,
    min_freq: int = 2,
    batch_size: int = 16,
    candidate_factor: int = 4,
):
    """Pure-Python replica of train_bpe_batched's EXACT selection rule:
    stale counts, rank (cnt desc, (l, r) asc), top batch*factor
    candidate window, symbol-disjoint greedy pick, rank-order apply."""
    table = {w: _ref_syms(w) for w in wc}
    merges: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        k = min(batch_size, n_merges - len(merges))
        pairs: Counter = Counter()
        for w, syms in table.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wc[w]
        cands = sorted(
            ((p, c) for p, c in pairs.items() if c >= min_freq),
            key=lambda kv: (-kv[1], kv[0]),
        )[: k * candidate_factor]
        used: set[str] = set()
        picked: list[tuple[str, str]] = []
        for (l, r), _ in cands:
            if len(picked) >= k:
                break
            if l in used or r in used:
                continue
            picked.append((l, r))
            used.update((l, r, l + r))  # created symbol blocks too
        if not picked:
            break
        for l, r in picked:
            table = {w: _ref_apply(s, l, r) for w, s in table.items()}
        merges.extend(picked)
    return merges, table, rounds


CORPUS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "the new low price the low price",
    "wider wide widest wider",
    None,
    "",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(CORPUS)), "text": CORPUS})
    )


def test_train_matches_reference_replica(spark, docs):
    wc = word_counts(docs)
    got_wc = {r["word"]: r["n"] for r in wc.collect()}
    ref_wc = _ref_word_counts(CORPUS)
    assert got_wc == dict(ref_wc)

    merges, table = train_bpe(wc, n_merges=12)
    ref_merges, ref_table = _ref_train(ref_wc, 12)
    assert merges == ref_merges
    got_table = {r["word"]: tuple(r["syms"]) for r in table.collect()}
    assert got_table == ref_table
    # the merges did real work: some word fully collapsed
    assert any(len(s) == 1 for s in got_table.values())


def test_train_matches_replica_on_testdata_sample(spark):
    """Replica parity on real corpus text (first 40 documents) — the
    planted corpus above can't hit every interaction; this does the
    same end-to-end check on organic data."""
    from radares_spark.io.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    texts = [r["text"] for r in docs.collect()]
    wc = word_counts(docs)
    merges, table = train_bpe(wc, n_merges=10)
    ref_merges, ref_table = _ref_train(_ref_word_counts(texts), 10)
    assert merges == ref_merges
    got_table = {r["word"]: tuple(r["syms"]) for r in table.collect()}
    assert got_table == ref_table


def test_greedy_fold_on_adversarial_chain(spark):
    """'aaaa' under merge (a,a): greedy left-to-right gives (aa, aa) —
    the just-created symbol must NOT chain into (aaa, a) within the
    round. The fold and the replica agree by construction; pin both
    against the hand-computed truth."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["aaaa aaaa aaaa"]})
    )
    wc = word_counts(docs)
    merges, table = train_bpe(wc, n_merges=1, min_freq=1)
    assert merges == [("a", "a")]
    syms = tuple(table.collect()[0]["syms"])
    # hand truth: [a, a, a, a_] under (a,a) — positions 1-2 merge; the
    # new 'aa' does not chain; position 4 is EOW-marked 'a_' != 'a'
    assert syms == ("aa", "a", "a" + EOW)
    assert syms == _ref_apply(_ref_syms("aaaa"), "a", "a")


def test_min_freq_stops_training(spark, docs):
    wc = word_counts(docs)
    merges, _ = train_bpe(wc, n_merges=500, min_freq=8)
    ref_merges, _ = _ref_train(_ref_word_counts(CORPUS), 500, min_freq=8)
    assert merges == ref_merges
    assert len(merges) < 500  # the floor actually stopped it


def test_encode_roundtrip_and_oov_fallback(spark, docs):
    wc = word_counts(docs)
    merges, table = train_bpe(wc, n_merges=12)
    new_docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": ["low price", "zzqx low"],  # zzqx is OOV
            }
        )
    )
    enc = {r["doc_id"]: r for r in bpe_encode(new_docs, table).collect()}
    got_table = {r["word"]: list(r["syms"]) for r in table.collect()}
    assert enc[100]["tokens"] == got_table["low"] + got_table["price"]
    # OOV falls back to character symbols with the EOW marker
    assert enc[101]["tokens"] == ["z", "z", "q", "x" + EOW] + got_table["low"]
    assert enc[101]["n_tokens"] == 4 + len(got_table["low"])
    # concatenating tokens (EOW -> space) reconstructs the normalized text
    flat = "".join(enc[100]["tokens"]).replace(EOW, " ").strip()
    assert flat == "low price"


def test_batched_equals_sequential_when_picks_are_disjoint(spark):
    """Non-interacting corpus (disjoint two-letter words, separated
    frequencies): batched and sequential training produce IDENTICAL
    merge tables and word tables, in fewer rounds — one pair-aggregate
    job instead of four."""
    text = " ".join(
        ["ab"] * 10 + ["cd"] * 8 + ["ef"] * 6 + ["gh"] * 4
    )
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    wc = word_counts(docs)
    seq_merges, seq_table = train_bpe(wc, n_merges=4)
    bat_merges, bat_table, rounds = train_bpe_batched(wc, n_merges=4, batch_size=4)
    assert bat_merges == seq_merges == [
        ("a", "b" + EOW),
        ("c", "d" + EOW),
        ("e", "f" + EOW),
        ("g", "h" + EOW),
    ]
    assert {r["word"]: tuple(r["syms"]) for r in bat_table.collect()} == {
        r["word"]: tuple(r["syms"]) for r in seq_table.collect()
    }
    assert rounds == 1  # measured reduction: 4 sequential jobs -> 1


def test_batched_matches_replica_on_planted_interacting_case(spark):
    """Planted interaction: sequential recounts after merging (a,b_)
    and promotes the newly created (x,ab_)=7 over (c,d_)=6; batched
    sees only stale counts, blocks (x,a) as non-disjoint, and picks
    (c,d_) instead. The divergence is EXACTLY the documented
    stale-count semantics — pinned here against the replica, with the
    sequential trainer as the exact oracle for its own list."""
    text = " ".join(["xab"] * 7 + ["ab"] * 3 + ["cd"] * 6)
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    wc = word_counts(docs)
    ref_wc = _ref_word_counts([text])

    seq_merges, _ = train_bpe(wc, n_merges=2)
    assert seq_merges == [("a", "b" + EOW), ("x", "ab" + EOW)]

    bat_merges, bat_table, rounds = train_bpe_batched(wc, n_merges=2, batch_size=2)
    ref_merges, ref_table, ref_rounds = _ref_train_batched(
        ref_wc, n_merges=2, batch_size=2
    )
    assert bat_merges == ref_merges == [("a", "b" + EOW), ("c", "d" + EOW)]
    assert {r["word"]: tuple(r["syms"]) for r in bat_table.collect()} == ref_table
    assert rounds == ref_rounds == 1


def test_batched_matches_replica_on_testdata_sample(spark):
    """Replica parity on organic corpus text, plus the measured
    round-count reduction the batched trainer exists for."""
    from radares_spark.io.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    texts = [r["text"] for r in docs.collect()]
    wc = word_counts(docs)
    merges, table, rounds = train_bpe_batched(wc, n_merges=24, batch_size=8)
    ref_merges, ref_table, ref_rounds = _ref_train_batched(
        _ref_word_counts(texts), n_merges=24, batch_size=8
    )
    assert merges == ref_merges
    assert {r["word"]: tuple(r["syms"]) for r in table.collect()} == ref_table
    assert rounds == ref_rounds
    assert rounds <= 6  # >= 4x fewer pair-aggregate jobs than sequential's 24


def _ref_apply_bpe(word: str, merges: list) -> list:
    """Independent replica of Sennrich apply_bpe: merge the
    lowest-rank adjacent pair present (all occurrences, left-to-right),
    repeat until none remains."""
    ranks = {p: i for i, p in enumerate(merges)}
    syms = list(word)
    syms[-1] = syms[-1] + EOW
    while len(syms) > 1:
        cands = [
            (ranks[p], i)
            for i, p in enumerate(zip(syms, syms[1:]))
            if p in ranks
        ]
        if not cands:
            break
        l, r = merges[min(cands)[0]]
        syms = list(_ref_apply(tuple(syms), l, r))
    return syms


def test_oov_encode_applies_trained_merges(spark, docs):
    """With the merge list passed, an unseen word is encoded by
    applying the trained merges (apply_bpe), not by degrading to raw
    characters — 'lowest' segments with the 'low'/'est_' units the
    corpus taught, and every OOV word matches the replica."""
    wc = word_counts(docs)
    merges, table = train_bpe(wc, n_merges=12)
    trained_words = {r["word"] for r in table.select("word").collect()}
    new_docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                # 'lows' and 'newly' are OOV; 'low' and 'new' in-vocab
                "text": ["lows low", "newly new zzqx"],
            }
        )
    )
    for w in ("lows", "newly", "zzqx"):
        assert w not in trained_words
    char_enc = {r["doc_id"]: r for r in bpe_encode(new_docs, table).collect()}
    bpe_enc = {
        r["doc_id"]: r for r in bpe_encode(new_docs, table, merges=merges).collect()
    }
    got_table = {r["word"]: list(r["syms"]) for r in table.collect()}

    # in-vocab words resolve identically through both paths
    assert bpe_enc[0]["tokens"][-len(got_table["low"]):] == got_table["low"]
    # OOV words match the independent apply_bpe replica
    assert bpe_enc[0]["tokens"][: -len(got_table["low"])] == _ref_apply_bpe(
        "lows", merges
    )
    assert bpe_enc[1]["tokens"][: len(_ref_apply_bpe("newly", merges))] == (
        _ref_apply_bpe("newly", merges)
    )
    # merge application really compresses vs the char fallback
    assert bpe_enc[0]["n_tokens"] < char_enc[0]["n_tokens"]
    # a word sharing no trained pair still degrades to characters
    assert bpe_enc[1]["tokens"][-4:] == ["z", "z", "q", "x" + EOW]
    # concatenation still reconstructs the normalized text
    flat = "".join(bpe_enc[1]["tokens"]).replace(EOW, " ").strip()
    assert flat == "newly new zzqx"


def test_oov_encode_consistent_with_trained_table_on_corpus(spark, docs):
    """Encoding the TRAINING corpus's own words through the OOV merge
    path reproduces the trained word table exactly on this corpus —
    the apply_bpe/train consistency check (the documented corner where
    they can diverge needs a later merge re-creating an earlier pair,
    which organic corpora rarely exercise and this one does not)."""
    wc = word_counts(docs)
    merges, table = train_bpe(wc, n_merges=12)
    trained = {r["word"]: list(r["syms"]) for r in table.collect()}
    for w, syms in trained.items():
        assert _ref_apply_bpe(w, merges) == syms, w
    # and through Spark: encode with an EMPTY dictionary, merges only
    empty_vocab = table.filter(F.lit(False))
    docs_words = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(trained)), "text": list(trained)})
    )
    enc = {
        r["doc_id"]: r["tokens"]
        for r in bpe_encode(docs_words, empty_vocab, merges=merges).collect()
    }
    for i, w in enumerate(trained):
        assert enc[i] == trained[w], w


def test_batched_matches_replica_at_sf01_production_shape(spark):
    """The batched trainer at a production-ish shape: the full sf0.1
    document corpus (5000 docs), 64 merges, batch_size=16 — replica
    parity on merge list AND word table, with the round count pinned
    well under the sequential trainer's 64 jobs. This is the scale
    test for the path train_bpe's docstring routes 32k-vocab training
    through."""
    from radares_spark.io.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    texts = [r["text"] for r in docs.collect()]
    wc = word_counts(docs)
    merges, table, rounds = train_bpe_batched(wc, n_merges=64, batch_size=16)
    ref_merges, ref_table, ref_rounds = _ref_train_batched(
        _ref_word_counts(texts), n_merges=64, batch_size=16
    )
    assert merges == ref_merges
    assert rounds == ref_rounds
    assert rounds <= 12, rounds  # >= 5x fewer pair-aggregate jobs than 64
    got = {r["word"]: tuple(r["syms"]) for r in table.collect()}
    assert got == ref_table


def test_encode_preserves_doc_spine_for_tokenless_docs(spark, docs):
    """r6 ADVICE: NULL / empty / whitespace-only docs must yield
    (doc_id, [], 0) rather than vanishing — downstream consumers join
    encode output back on doc_id and must not lose the spine."""
    wc = word_counts(docs)
    _, table = train_bpe(wc, n_merges=3)
    new_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["low", None, "", "   "]})
    )
    enc = {r["doc_id"]: r for r in bpe_encode(new_docs, table).collect()}
    assert set(enc) == {1, 2, 3, 4}  # every input doc_id present
    for d in (2, 3, 4):
        assert enc[d]["tokens"] == [] and enc[d]["n_tokens"] == 0
    assert enc[1]["n_tokens"] > 0


def test_merge_fold_matches_replica_on_random_chains(spark):
    """200 seeded random words over the alphabet {a, b} (worst case
    for overlapping-pair ambiguity) x 3 merge rules: the codegen'd
    fold must equal the reference greedy application on every one —
    one DataFrame pass per rule, not 600 jobs."""
    import numpy as np

    from radares_spark.operators.bpe import _initial_symbols, _merge_fold

    rng = np.random.default_rng(42)
    words = [
        "".join(rng.choice(list("ab"), size=n))
        for n in rng.integers(1, 12, size=200)
    ]
    pdf = pd.DataFrame({"word": words})
    base = spark.createDataFrame(pdf).select(
        "word", _initial_symbols(F.col("word")).alias("syms")
    )
    for l, r in [("a", "a"), ("a", "b"), ("b", "a" + EOW)]:
        got = {
            row["word"]: tuple(row["out"])
            for row in base.select(
                "word", _merge_fold(l, r).alias("out")
            ).collect()
        }
        for w in words:
            assert got[w] == _ref_apply(_ref_syms(w), l, r), (w, l, r)
