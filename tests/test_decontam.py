"""Decontamination (operators/decontam.py): oracle parity, the
clean-corpus invariant (zero shared grams with the eval set), and the
broadcast/no-corpus-shuffle plan contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.operators.decontam import (
    DECON_N,
    EVAL_SOURCE,
    contamination_audit,
    contaminated_ids,
    corpus_decontaminate,
    eval_gram_set,
)
from radares_spark.plans import REGISTRY
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare_query


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")


def test_oracle_parity(spark):
    ok, msg = compare_query(
        spark, SF_ORACLE, "corpus_decontaminate", REGISTRY["corpus_decontaminate"]
    )
    assert ok, msg


def test_eval_docs_flag_themselves_and_near_dups_are_caught(spark):
    docs = _docs(spark, SF_SMOKE)
    eval_docs = docs.filter(F.col("source") == EVAL_SOURCE)
    audit = contamination_audit(docs, eval_docs).cache()

    # every doc of the eval slice shares all of its own grams
    eval_ids = {r["doc_id"] for r in eval_docs.select("doc_id").collect()}
    flagged = {
        r["doc_id"] for r in audit.filter(F.col("contaminated")).collect()
    }
    assert eval_ids <= flagged
    # the corpus plants near-duplicate pairs across sources: at least
    # one NON-eval doc must be caught through gram overlap
    assert flagged - eval_ids, "no cross-source contamination caught"
    # audit covers every doc exactly once
    assert audit.count() == docs.count()
    audit.unpersist()


def test_clean_corpus_shares_no_gram_with_eval(spark):
    docs = _docs(spark, SF_SMOKE)
    eval_docs = docs.filter(F.col("source") == EVAL_SOURCE)
    # the form the crawl night runs: anti-join on the contaminated ids
    clean = docs.join(contaminated_ids(docs, eval_docs), "doc_id", "left_anti")
    overlap = (
        eval_gram_set(clean, DECON_N)
        .join(eval_gram_set(eval_docs, DECON_N), "g")
        .count()
    )
    assert overlap == 0
    # and nothing was dropped beyond the audit's contaminated set
    n_flagged = (
        contamination_audit(docs, eval_docs).filter(F.col("contaminated")).count()
    )
    assert clean.count() == docs.count() - n_flagged


def test_corpus_gram_stream_never_shuffles_before_the_join(spark):
    """The 100 TB contract: eval grams broadcast; the only hash
    exchanges carry post-join hit rows (the count-distinct aggregate),
    never the raw corpus gram stream."""
    df = corpus_decontaminate(spark, SF_SMOKE)
    df.collect()
    # executed plan prints "== Final Plan ==" then "== Initial Plan ==";
    # count nodes in the final section only
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # the only hash exchanges: eval-side gram distinct (tiny by
    # construction) + the two-phase count-distinct over post-join hit
    # rows — never the raw corpus gram stream (its Generate feeds the
    # BroadcastHashJoin directly, verified above by join strategy)
    assert plan.count("Exchange hashpartitioning") <= 3
