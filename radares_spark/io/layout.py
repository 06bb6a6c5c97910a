"""Partitioned + sorted storage layout — the scan-elimination lever
for a 100 TB corpus (bucketing, ``io/bucketing.py``, is the JOIN
lever; this is the FILTER lever).

Three effects, each worth orders of magnitude at scale:

1. **Partition pruning.** Hive-style ``partitionBy(col)`` directories
   mean a query filtering on the column never LISTS — let alone
   reads — the other partitions. An equality filter on the column
   lands in ``PartitionFilters`` (metadata-only), not
   ``PushedFilters`` (still opens every file); tests/test_layout.py
   asserts it on the plan.
2. **Row-group skipping.** ``sortWithinPartitions(sort_col)``
   clusters values so each parquet row group covers a narrow
   min/max range; a range predicate then skips whole row groups on
   footer stats alone. Unsorted data makes every row group's range
   ~the full domain and stats prune nothing.
3. **Bounded file sizes.** One writer task per partition value would
   emit one giant file for a hot partition (a 100 TB corpus is never
   uniform across languages/sources); ``maxRecordsPerFile`` rolls
   files at a target row count so downstream splits stay balanced,
   while ``repartition(col)`` keeps it to ONE WRITER's files per
   partition instead of n_tasks x n_partitions slivers.

Choose the partition column like a DBA, not a formula: low
cardinality (≤ ~10^3 directories), aligned with the dominant filter
(language / source / ingest date for a corpus; pubdate already
partitions the radar warehouse in ``pipeline/ledger.py``). High-
cardinality columns belong in the sort, not the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_layout(
    df: DataFrame,
    path: str,
    partition_col: str,
    sort_col: str,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write ``df`` as a pruning-friendly parquet layout: hive
    directories on ``partition_col``, rows inside each partition
    clustered on ``sort_col``, files rolled at
    ``max_records_per_file`` rows."""
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(partition_col)
        .parquet(path)
    )

