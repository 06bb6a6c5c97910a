"""Loaders for the driver TESTDATA tables (one parquet per table).

Reads are plain ``spark.read.parquet`` — Catalyst handles column
pruning and predicate pushdown into the scan, so callers just express
their query and the scan narrows itself (verify with
``df.explain('formatted')``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Genuine dimensions: always small, always broadcast-joinable.
DIM_TABLES = frozenset({"region", "nation", "supplier"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin UTC once, at the single load chokepoint: timestamp semantics
    # must match the (TZ-naive, UTC) DuckDB oracle regardless of how the
    # calling session was built (the driver supplies its own session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Post-load invariant: ``ts`` is ALWAYS TimestampType (LTZ, UTC
        # semantics — session TZ pinned above), whatever the parquet
        # physical type. Three generations exist in the wild:
        #   - TIMESTAMP(NANOS): the Spark reader rejects it, so read
        #     with nanosAsLong and truncate to micros exactly as
        #     DuckDB/Arrow narrow;
        #   - plain micros without isAdjustedToUTC: Spark 4 infers
        #     TIMESTAMP_NTZ — cast to TimestampType (byte-identical
        #     under the pinned UTC session TZ, and required by
        #     withWatermark / event-time consumers);
        #   - micros with isAdjustedToUTC: already TimestampType.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g')."""
    v = v.strip().lower()
    if v.endswith("b"):
        v = v[:-1]
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suf):
            v = v[:-1]
            mult = m
            break
    return int(v) * mult


def spread(
    spark: SparkSession, sf_dir: str, name: str, floor: int | None = None
) -> DataFrame:
    """Load ``name`` repartitioned for CPU-heavy per-row work.

    A small parquet arrives as one split and would single-thread the
    whole pipeline (hashing/shingling/vector math are CPU-bound per
    byte, unlike scans). Partition count is sized to the INPUT BYTES
    (~4 MiB per partition, floor for minimum parallelism, capped at
    ``spark.sql.shuffle.partitions``) — NOT a fixed count: a fixed 32
    costs 32 fixed task overheads on kilobytes of data, while at real
    scale the cap keeps this identical to the session's shuffle width.
    On object stores where the local stat fails, fall back to the cap
    (at that scale the scan has thousands of splits anyway and the
    repartition is a cheap rebalance).

    The default ``floor`` is CORE-AWARE (r15, guide §2.2): the r14
    constant 4 under-fanned wide sessions — two fresh-session
    interleaved A/Bs at local[32] measured floor 8 faster on the heavy
    spread consumers (dedup_ngram_jaccard −30% min-wall,
    text_hash_embed_4k −11%, text_dup_spans −9%) with only
    noise-level movement on sub-second rows. ``defaultParallelism/4``
    clamped to [4, 8]: a narrow session (≤16 cores, incl. the
    driver's c8 scaling run) keeps the r14 floor, a wide one fans the
    CPU-dense front to 8 — and for corpus-sized inputs the
    bytes-derived count or the skip branch below still win, so the
    floor never touches the at-scale plan.
    """
    df = load_table(spark, sf_dir, name)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if floor is None:
        floor = min(8, max(4, spark.sparkContext.defaultParallelism // 4))
    try:
        size = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
        n = max(floor, min(cap, size // (4 << 20) + 1))
    except OSError:
        return df.repartition(cap)
    # When the scan itself already yields >= n splits (large inputs:
    # size/maxPartitionBytes bounds the split count from below), the
    # rebalance buys no parallelism — skip it so a corpus-sized table
    # never pays a payload shuffle just to be "spread". Only small
    # single-split inputs (where the repartition moves kilobytes) pay.
    max_split = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    if size // max(max_split, 1) + 1 >= n:
        return df
    return df.repartition(n)


def jdbc_reader_options(
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Assemble the JDBC reader option map — pure, so the contract is
    unit-testable WITHOUT a live database or vendor jar
    (tests/test_jdbc_options.py pins it offline).

    ``table`` may be a table name or a parenthesized subquery
    ``(SELECT ...) t`` — bind-param lookups become WHERE clauses in
    the subquery and execute remotely, mirroring the reference's
    parameterized ``pd.read_sql`` (clean_data.py:175,193). The four
    partitioning options must travel together: Spark fans the read out
    into ``num_partitions`` parallel range-bounded queries on
    ``partition_column``.
    """
    if partition_column is not None and None in (lower_bound, upper_bound, num_partitions):
        raise ValueError(
            "partition_column requires lower_bound, upper_bound and num_partitions"
        )
    opts: dict[str, str] = {"url": url, "dbtable": table}
    opts.update(properties or {})
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def load_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source (SURVEY §2.1 S6 — reference ``pd.read_sql`` at
    clean_data.py:175,193, backload_scrape.py:79). Options assembled by
    :func:`jdbc_reader_options`; requires the vendor JDBC jar on the
    classpath (not bundled here; engine-native parquet is the default
    store — io/tables.load_table).
    """
    opts = jdbc_reader_options(
        url, table, properties, partition_column, lower_bound, upper_bound, num_partitions
    )
    return spark.read.format("jdbc").options(**opts).load()

