"""Bucketed (co-located) table layout — the shuffle-elimination lever
for repeated fact-fact joins at 100 TB.

A sort-merge join between two tables bucketed AND sorted on the join
key needs neither an Exchange nor a Sort on either side: each task
merge-joins bucket i of A with bucket i of B in place. For a fact
table joined on the same key daily (flows x ledger on the natural key,
lineitem x orders on orderkey), paying one bucketed write amortizes a
full shuffle of the big side on EVERY subsequent join.

Rules that make it work (enforced here):
- both sides bucketed on the join key with the SAME bucket count
  (mismatched counts fall back to a shuffle);
- ``sortBy`` the key too, so the merge needs no per-task sort (Spark
  trusts on-disk order only with one file per bucket AND
  ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``,
  SPARK-28595 — without the flag you still save the shuffle, just not
  the cheap per-task sort);
- bucket count sized like shuffle partitions: ~target bytes/bucket at
  the expected table size, NOT a magic constant.

Spark only honors bucketing through the table catalog, so these are
``saveAsTable`` writes with an explicit ``path`` (external tables) —
plain ``.parquet()`` writes silently drop bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    keys: list[str],
    n_buckets: int,
) -> None:
    """External bucketed+sorted table at ``path``, registered as
    ``table`` (overwrites an existing registration).

    The pre-write ``repartition`` on the bucket keys makes each writer
    task own exactly one bucket => ONE file per bucket. That matters
    twice: without it every input task writes a sliver of every bucket
    (n_tasks x n_buckets small files), and Spark only trusts the
    ``sortBy`` order — eliminating the merge-join Sort — when a bucket
    is a single file."""
    (
        df.repartition(n_buckets, *keys)
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )

