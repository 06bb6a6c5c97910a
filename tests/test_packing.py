"""Sequence packing (pipeline/corpus.py::emit_sequences): the packing
invariants (full windows, gapless ids, corpus order reconstructed),
plus retrieval-side chunking. DuckDB parity for both runs in the
library sweep (corpus_pack_emit, corpus_chunks)."""

from __future__ import annotations

from radares_spark.io.tables import load_table
from tests.conftest import SF_ORACLE

# ---- sequence EMISSION (materialized training windows) ----


def test_emit_sequences_invariants(spark):
    """Every sequence but the last is exactly ctx tokens, and the
    concatenation of all sequences in seq_id order reconstructs the
    corpus in its deterministic (hash-bucket, doc_id) order — nothing
    lost, nothing duplicated, nothing reordered."""
    from pyspark.sql import functions as F

    from radares_spark.operators.dedup import normalize_text
    from radares_spark.pipeline.corpus import emit_sequences

    docs = (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    ctx = 64
    seqs = sorted(
        (r["seq_id"], r["n_seq_tokens"], r["seq_text"])
        for r in emit_sequences(docs, ctx).collect()
    )
    last = max(s for s, _, _ in seqs)
    assert all(n == ctx for s, n, _ in seqs if s != last)
    assert 0 < dict((s, n) for s, n, _ in seqs)[last] <= ctx
    # gapless sequence ids
    assert [s for s, _, _ in seqs] == list(range(last + 1))

    # corpus order reconstruction
    order = (
        docs.select(
            "doc_id",
            normalize_text(F.coalesce(F.col("text"), F.lit(""))).alias("t"),
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
                ).cast("long")
                % 1024
            ).alias("b"),
        )
        .filter(F.col("t") != "")
        .orderBy("b", "doc_id")
        .collect()
    )
    want = " ".join(r["t"] for r in order)
    got = " ".join(t for _, _, t in seqs)
    assert got == want


# ---- retrieval-side overlapping chunking ----


def test_chunk_documents_overlap_semantics(spark):
    """Chunks tile the doc with the configured overlap; last chunk may
    be short; short docs yield one chunk; empty docs none (DuckDB
    parity runs in the library sweep)."""
    import pandas as pd
    import pytest
    from radares_spark.pipeline.corpus import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": [words, "a b c", None]}
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(spark.createDataFrame(pdf), 10, 2).collect()
    )
    d0 = [r for r in rows if r[0] == 0]
    # 25 tokens, chunk 10, stride 8 -> starts at 0,8,16 (start 24 < 25 would
    # need (25-2-1)//8 = 2 -> chunk ids 0..2)
    assert [r[1] for r in d0] == [0, 1, 2]
    assert [r[2] for r in d0] == [10, 10, 9]
    # overlap: chunk 1 begins with the last 2 tokens of chunk 0
    assert d0[1][3].split()[:2] == d0[0][3].split()[-2:]
    # reconstruction: stride-deduped concatenation equals the doc
    recon = d0[0][3].split() + [
        w for r in d0[1:] for w in r[3].split()[2:]
    ]
    assert recon == words.split()
    d1 = [r for r in rows if r[0] == 1]
    assert len(d1) == 1 and d1[0][2] == 3 and d1[0][3] == "a b c"
    assert not [r for r in rows if r[0] == 2]

    with pytest.raises(ValueError):
        chunk_documents(spark.createDataFrame(pdf), 10, 10)
