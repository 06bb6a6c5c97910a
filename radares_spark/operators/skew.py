"""Skew diagnostics: the heavy-hitter report.

AQE's skew-join splitting (on in session.py) fixes skewed JOINS at
runtime, but a skewed AGGREGATION key still lands every row of the hot
key in one reducer — at 100 TB one task runs for hours while the rest
idle. :func:`skew_report` names the hot keys and their share of the
table before such a job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, keys: list[str], top_n: int = 20) -> DataFrame:
    """Heavy-hitter diagnostic: the ``top_n`` hottest keys by row
    count, with each key's share of the table — the report you run
    BEFORE a 100 TB join/agg to decide whether salting, AQE skew
    splitting, or a broadcast cap is needed (and the engine's own
    hot-bucket cap feeds on exactly this shape:
    ``dedup.lsh_pairs_capped``).

    Returns (*keys, n_rows, share, key_rank), rank 1 = hottest;
    ties broken by key ascending so the report is deterministic.

    Scale shape: per-key counts are one map-side-combined aggregate.
    "Top-N by count" is a global top-k — never a corpus-wide sort
    here: keys bin by floor(log2(count)) (<= 64 occupied bins for
    bigint counts, bin order = count order), the only single-partition
    window is the bin-offset prefix over those bins, and the within-bin
    rank<=N filter compiles to WindowGroupLimit so each upstream
    partition forwards at most N rows per bin. The total-row scalar
    rides in as a single-row broadcast."""
    from pyspark.sql import Window as W

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    binned = counts.withColumn("__bin", -F.floor(F.log2("n_rows")))
    per_bin = binned.groupBy("__bin").agg(F.count(F.lit(1)).alias("__n"))
    off_w = W.orderBy("__bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = per_bin.select(
        "__bin", (F.sum("__n").over(off_w) - F.col("__n")).alias("__offset")
    )
    # asc_nulls_last on the key tie-break: Spark's asc floats a NULL
    # group key first, DuckDB's ASC sinks it — pin the DuckDB rule
    # (counts are never NULL, only group keys can be)
    in_w = W.partitionBy("__bin").orderBy(
        F.desc("n_rows"), *[F.asc_nulls_last(k) for k in keys]
    )
    return (
        binned.join(F.broadcast(offsets), "__bin")
        .withColumn("__rn", F.row_number().over(in_w))
        # rank<=N on the bare row_number FIRST: this is the filter shape
        # the WindowGroupLimit rewrite recognizes (offset >= 0 makes it
        # implied by the final cut, so it drops no needed row)
        .filter(F.col("__rn") <= top_n)
        .withColumn("key_rank", F.col("__offset") + F.col("__rn"))
        .filter(F.col("key_rank") <= top_n)
        .crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total").cast("double"), 6).alias(
                "share"
            ),
            "key_rank",
        )
    )


SKEW_TOP_N = 20

SKEW_REPORT_SQL = f"""
    WITH c AS (
        SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1
    ),
    t AS (SELECT sum(n_rows) AS total FROM c)
    SELECT l_suppkey, n_rows,
           round(n_rows / total::DOUBLE, 6) AS share,
           row_number() OVER (ORDER BY n_rows DESC, l_suppkey) AS key_rank
    FROM c, t
    QUALIFY key_rank <= {SKEW_TOP_N}
"""


def _skew_report_query(spark, sf_dir: str) -> DataFrame:
    from radares_spark.io.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    return skew_report(li, ["l_suppkey"], SKEW_TOP_N)


def _specs():
    from radares_spark.registry import QuerySpec

    return {
        "skew_hot_keys_report": QuerySpec(
            name="skew_hot_keys_report",
            fn=_skew_report_query,
            oracle=SKEW_REPORT_SQL,
            survey="ops diagnostic (heavy-hitter report feeding the "
            "salting / hot-bucket-cap decisions)",
            doc=f"Top-{SKEW_TOP_N} lineitem supplier keys by row count "
            "with share-of-table; log2-count bins + WindowGroupLimit "
            "rank, never a global sort.",
        )
    }


LIBRARY_SPECS = _specs()
