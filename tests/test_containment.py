"""Asymmetric n-gram containment (operators/dedup.py::
ngram_containment_pairs): the quote-inclusion case Jaccard misses.
DuckDB parity runs in the consolidated library sweep."""

from __future__ import annotations

import pandas as pd


def test_containment_flags_quote_inclusion_jaccard_misses(spark, tmp_path):
    from radares_spark.operators.dedup import dedup_ngram_jaccard, ngram_containment_pairs

    quote = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"filler{i} word{i} more{i}" for i in range(120))
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            # doc 1 (adjacent id) contains doc 0 wholesale; doc 2
            # shares no 3-gram with doc 1, so (1, 2) is no pair at all
            "text": [quote, f"{filler} {quote} {filler}", "zzz qqq xxx"],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = ngram_containment_pairs(spark.createDataFrame(pdf)).collect()
    jac = dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    for found in (rows, jac):
        assert [(r["doc_a"], r["doc_b"]) for r in found] == [(0, 1)]
    assert rows[0]["containment"] == 1.0  # every gram of the quote is in doc 1
    assert jac[0]["jaccard"] < 0.2  # far below any near-dup threshold


def test_vocab_top_ngrams_planted(spark):
    from radares_spark.operators.text_ext import vocab_top_ngrams

    pdf = pd.DataFrame(
        {
            "doc_id": range(20),
            "text": ["hot pair unique%d word" % i for i in range(20)],
        }
    )
    rows = vocab_top_ngrams(spark.createDataFrame(pdf), n=2, top_k=3).collect()
    by_rank = {r["key_rank"]: r for r in rows}
    assert by_rank[1]["shingle"] == "hot pair" and by_rank[1]["n_rows"] == 20
    # 20 docs x 3 bigrams each = 60 grams; the hot one holds 1/3 of mass
    assert abs(by_rank[1]["share"] - 20 / 60) < 1e-6
