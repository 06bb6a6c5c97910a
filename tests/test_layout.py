"""Storage layout (io/layout.py): partition pruning must be
metadata-only (PartitionFilters, not PushedFilters), rows must be
clustered on the sort column inside each file, and hot partitions
must roll into multiple bounded files."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from radares_spark.io.layout import write_layout
from radares_spark.io.tables import load_table
from radares_spark.operators.dedup import normalize_text
from radares_spark.operators.text import LANG_MARKERS, stopword_hits

SF = "/root/testdata/sf0.001"


def _pred_lang(text):
    """Marker-voting language id as a per-row projection (fixed
    en>es>fr>de tie order, zero hits -> 'und') — a skewed, low-
    cardinality partition column."""
    norm = normalize_text(F.coalesce(text, F.lit("")))
    hits = {lang: stopword_hits(norm, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    pick = F.when(best == F.lit(0), "und")
    for lang in LANG_MARKERS:
        pick = pick.when(hits[lang] == best, lang)
    return pick


def _write_docs_layout(spark, path: str, max_records_per_file: int = 1_000_000):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    feats = docs.select("doc_id", "text", _pred_lang(F.col("text")).alias("pred_lang"))
    write_layout(
        feats, path, partition_col="pred_lang", sort_col="doc_id",
        max_records_per_file=max_records_per_file,
    )
    return feats


def test_partition_pruning_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "corpus")
    feats = _write_docs_layout(spark, path)

    pruned = spark.read.parquet(path).filter(F.col("pred_lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(pred_lang" in plan
    assert "(pred_lang" in plan.split("PartitionFilters:")[1].split("]")[0]
    # the predicate must NOT degrade to a data filter over all files
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "pred_lang" not in pushed

    # and it reads exactly the partition's rows
    want = feats.filter(F.col("pred_lang") == "en").count()
    assert pruned.count() == want > 0

    # round trip: nothing lost across partitions
    assert spark.read.parquet(path).count() == feats.count()


def test_sort_clustering_within_files(spark, tmp_path):
    path = str(tmp_path / "corpus")
    _write_docs_layout(spark, path)
    files = glob.glob(f"{path}/pred_lang=*/*.parquet")
    assert files
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), f"{f}: rows not clustered on doc_id"


def test_hot_partition_rolls_files(spark, tmp_path):
    path = str(tmp_path / "corpus_rolled")
    feats = _write_docs_layout(spark, path, max_records_per_file=100)
    hot = (
        feats.groupBy("pred_lang").count().orderBy(F.desc("count")).first()
    )
    hot_files = glob.glob(f"{path}/pred_lang={hot['pred_lang']}/*.parquet")
    assert len(hot_files) >= 2, "hot partition should roll into multiple files"
    for f in hot_files:
        assert pq.read_metadata(f).num_rows <= 100
