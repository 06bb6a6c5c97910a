"""A/B: RocksDB state-store provider on the three streaming twins
(r15 item 5, guide §5 config exploration — deferred from r14).

Expectation stated up front: all three benchmarked streams
(admission / url_admission / shards_append) are ``foreachBatch``
pipelines with NO stateful operator (no streaming aggregation,
dropDuplicates, or *WithState) — the only checkpoint state is the
file-source/commit log, which the state-store provider does not
touch. The A/B exists to put NUMBERS on that adjudication instead of
an argument. Two interleaved passes per provider; wall per stream.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from radares_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
DEFAULT = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def run_once(spark, sf_dir, provider: str) -> dict:
    from functools import partial

    from radares_spark.streaming.admission_stream import run_admission_stream
    from radares_spark.operators.bpe import (
        save_tokenizer,
        train_bpe_batched,
        word_counts,
    )
    from radares_spark.pipeline.shards import init_shards, token_vocab
    from radares_spark.streaming.shards_stream import run_shards_stream

    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    out: dict = {}
    root = tempfile.mkdtemp(prefix="radares_ab_stream_")
    try:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        d = docs.select("doc_id", "text")

        def one(key, frame, runner):
            landing = os.path.join(root, f"{key}_landing")
            frame.repartition(4, "doc_id").write.parquet(landing)
            t0 = time.perf_counter()
            runner(
                spark,
                landing,
                os.path.join(root, f"{key}_ledger"),
                os.path.join(root, f"{key}_audit"),
                os.path.join(root, f"{key}_ckpt"),
                max_files_per_trigger=1,
            )
            out[key] = round(time.perf_counter() - t0, 3)

        one("admission", d, run_admission_stream)
        one(
            "url",
            docs.select(
                "doc_id",
                F.concat(
                    F.lit("http://example.com/"),
                    F.col("source"),
                    F.lit("/p"),
                    (F.col("doc_id") % F.lit(2048)).cast("string"),
                ).alias("url"),
            ),
            partial(run_admission_stream, admission="urls"),
        )

        merges, word_syms, _ = train_bpe_batched(
            word_counts(d), n_merges=64, batch_size=16
        )
        tok = os.path.join(root, "tok")
        save_tokenizer(spark, tok, word_syms, merges)
        store = os.path.join(root, "store")
        init_shards(spark, store, token_vocab(word_syms, merges))
        landing = os.path.join(root, "sh_landing")
        d.repartition(4, "doc_id").write.parquet(landing)
        t0 = time.perf_counter()
        run_shards_stream(
            spark, landing, tok, store, os.path.join(root, "sh_ckpt"),
            max_files_per_trigger=1,
        )
        out["shards"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("radares-ab-rocksdb")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    # interleaved: default, rocksdb, default, rocksdb
    for i in range(2):
        for tag, prov in (("hdfs", DEFAULT), ("rocksdb", ROCKSDB)):
            res = run_once(spark, sf_dir, prov)
            print(f"pass{i} {tag}: {res}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
