"""Radar-domain semantics expressed over the TESTDATA tables.

The reference's domain is a 15-minute grid of speed-histogram vectors
(database/schema.sql:52-71) cleaned out of positional spreadsheets
(src/clean_data.py). The real parser/ingest pipeline lives in
``radares_spark.io.ingest`` and is exercised by tests on synthetic
xlsx fixtures; THESE queries re-express the same semantics over the
driver's TESTDATA tables so the DuckDB oracle can check them:

- a wide histogram is built from ``lineitem`` (quantity bins stand in
  for speed bins — same shape: fixed bins, integer counts, row total);
- the histogram analytics (weighted mean / p85 / speeding ratio /
  wide->long) come from ``radares_spark.functions.histogram`` — the
  exact library the radar fact table uses;
- the direction / time_range cleaning column expressions from
  ``radares_spark.functions.cleaning`` are applied to strings
  synthesized deterministically from testdata (same expressions the
  xlsx ingest applies to parsed report rows).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radares_spark.functions.cleaning import clean_direction, split_time_range
from radares_spark.functions.histogram import (
    bins_long,
    percentile_col,
    speeding_ratio,
    weighted_mean_speed,
)
from radares_spark.io.tables import load_table
from radares_spark.registry import QuerySpec, register

# Quantity histogram: 10 fixed bins of width 5 over l_quantity in [1, 50]
# — structurally identical to the 11 speed bins of the radar schema.
QTY_BINS: list[tuple[str, int, int]] = [
    (f"qty_{lo:02d}_{lo + 4:02d}", lo, lo + 4) for lo in range(1, 50, 5)
]

_HIST_SQL_BINS = ",\n".join(
    f"           count(*) FILTER (WHERE l_quantity BETWEEN {lo} AND {hi}) AS {c}"
    for c, lo, hi in QTY_BINS
)

HIST_SQL = f"""
    SELECT l_returnflag AS equipment,
           date_trunc('month', l_shipdate)::DATE AS pubmonth,
{_HIST_SQL_BINS},
           count(*) AS total
    FROM lineitem
    GROUP BY 1, 2
"""


def _qty_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide histogram from lineitem: one row per (returnflag, ship-month),
    10 integer bin counts + total. Single shuffle (one groupBy); the bin
    counts are conditional aggregates, computed map-side first."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.sum(F.when(F.col("l_quantity").between(lo, hi), 1).otherwise(0)).alias(c)
        for c, lo, hi in QTY_BINS
    ]
    return (
        li.groupBy(
            F.col("l_returnflag").alias("equipment"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("pubmonth"),
        )
        .agg(*aggs, F.count(F.lit(1)).alias("total"))
    )


def radar_histogram_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the wide fixed-bin histogram fact row (the radar flows
    table shape, schema.sql:59-70) from raw facts in one shuffle.

    Library tier (not in the driver's 50-entry window): the registered
    ``radar_bins_long`` is this exact plan plus a map-side unpivot, so
    its driver hash transitively value-checks this build; parity here
    is ALSO pinned directly by tests/test_oracle_parity.py over
    ``LIBRARY_SPECS``, and bench.py keeps it as a frozen headline."""
    return _qty_hist(spark, sf_dir)


@register(
    "radar_bins_long",
    oracle=f"""
    WITH hist AS ({HIST_SQL})
    SELECT equipment, pubmonth, b.bin_lo, b.bin_hi, b.cnt
    FROM hist, LATERAL (
        VALUES {", ".join(f"({lo}, {hi}, {c})" for c, lo, hi in QTY_BINS)}
    ) AS b(bin_lo, bin_hi, cnt)
    """,
    survey="R2 (wide->long unpivot)",
    doc="Histogram wide->long — map-side explode, no shuffle "
    "(functions/histogram.bins_long).",
)
def radar_bins_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bins_long(_qty_hist(spark, sf_dir), ["equipment", "pubmonth"], QTY_BINS)


@register(
    "radar_stats_suite",
    oracle=f"""
    WITH hist AS ({HIST_SQL})
    SELECT equipment, pubmonth,
           round(({" + ".join(f"{c} * {(lo + hi) / 2.0}" for c, lo, hi in QTY_BINS)})
                 / ({" + ".join(c for c, _, _ in QTY_BINS)}), 4) AS weighted_mean,
           CASE
{chr(10).join(f"             WHEN ({' + '.join(c for c, _, _ in QTY_BINS[: i + 1])}) >= 0.85 * ({' + '.join(c for c, _, _ in QTY_BINS)}) THEN {QTY_BINS[i][2]}" for i in range(len(QTY_BINS)))}
             ELSE {QTY_BINS[-1][2]}
           END AS p85_speed,
           round(({" + ".join(c for c, lo, _ in QTY_BINS if lo >= 31)})
                 / ({" + ".join(c for c, _, _ in QTY_BINS)})::DOUBLE, 6) AS speeding_ratio
    FROM hist
    """,
    survey="A3 (weighted mean + p85 percentile-from-histogram + "
    "share-above-limit, one pass)",
    doc="The radar analytics battery — weighted mean speed, 85th "
    "percentile from cumulative bin prefix sums, share above the limit — "
    "as ONE projection over the wide histogram row: one fact shuffle "
    "feeds all three statistics (three scans at 100 TB would be the "
    "reference's per-metric-loop shape). No window, no unpivot.",
)
def radar_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = _qty_hist(spark, sf_dir)
    return hist.select(
        "equipment",
        "pubmonth",
        F.round(weighted_mean_speed(QTY_BINS), 4).alias("weighted_mean"),
        percentile_col(QTY_BINS).alias("p85_speed"),
        F.round(speeding_ratio(31, QTY_BINS), 6).alias("speeding_ratio"),
    )


def radar_p85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p85-only projection — kept as a library entry point (and the
    bench's round-over-round comparable plan)."""
    hist = _qty_hist(spark, sf_dir)
    return hist.select(
        "equipment", "pubmonth", percentile_col(QTY_BINS).alias("p85_speed")
    )


DIRECTION_SQL = """
    WITH raw AS (
        SELECT c_custkey,
               concat('Rua ', c_mktsegment, '/',
                      CASE WHEN c_custkey % 17 = 0 THEN 'X'
                           ELSE substr('NSLO', (c_custkey % 4)::INT + 1, 1) END)
                   AS direction_raw
        FROM customer
    )
    SELECT CASE split_part(direction_raw, '/', 2)
             WHEN 'N' THEN 'Norte' WHEN 'S' THEN 'Sul'
             WHEN 'L' THEN 'Leste' WHEN 'O' THEN 'Oeste' END AS direction,
           count(*) AS n
    FROM raw GROUP BY 1
"""


def radar_direction_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's direction cleanup (clean_data.py:44-50) as one
    codegen'd CASE — applied to deterministically synthesized
    '<street>/<suffix>' strings; unmapped suffixes -> NULL bucket
    (quarantine, not crash). SURVEY P6/P7. Library tier since r4 —
    driver-checked via radar_clean_suite (same plan, tall shape)."""
    cust = load_table(spark, sf_dir, "customer")
    suffix = F.when(F.col("c_custkey") % 17 == 0, F.lit("X")).otherwise(
        F.substring(F.lit("NSLO"), (F.col("c_custkey") % 4 + 1).cast("int"), 1)
    )
    raw = cust.select(
        F.concat(F.lit("Rua "), F.col("c_mktsegment"), F.lit("/"), suffix).alias("direction_raw")
    )
    return (
        raw.select(clean_direction(F.col("direction_raw")).alias("direction"))
        .groupBy("direction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


TIME_SLICE_SQL = """
    WITH raw AS (
        SELECT event_id,
               concat(strftime(time_bucket(INTERVAL '15 minutes', ts), '%H:%M'),
                      ' as ',
                      strftime(time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes',
                               '%H:%M')) AS time_range
        FROM events
    )
    SELECT substr(time_range, 1, 5) AS initial_time,
           substr(time_range, 10, 5) AS end_time,
           count(*) AS n
    FROM raw GROUP BY 1, 2
"""


def radar_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'HH:MM as HH:MM' slot-string round-trip
    (clean_data.py:200-204): synthesize the reference's slot strings
    from event timestamps, slice them back, count per slot — 96
    groups. SURVEY P8/P9, §2.11 grid. Library tier since r4 —
    driver-checked via radar_clean_suite (same plan, tall shape)."""
    ev = load_table(spark, sf_dir, "events")
    slot = F.window("ts", "15 minutes")
    raw = ev.select(
        F.concat(
            F.date_format(slot.start, "HH:mm"), F.lit(" as "), F.date_format(slot.end, "HH:mm")
        ).alias("time_range")
    )
    sliced = split_time_range(raw)
    return sliced.groupBy("initial_time", "end_time").agg(F.count(F.lit(1)).alias("n"))


@register(
    "radar_clean_suite",
    oracle=f"""
    SELECT 'direction' AS kind, direction AS key1, NULL AS key2, n
    FROM ({DIRECTION_SQL})
    UNION ALL
    SELECT 'time_slice' AS kind, initial_time AS key1, end_time AS key2, n
    FROM ({TIME_SLICE_SQL})
    """,
    survey="P6/P7 (split + map direction cleaning), P8/P9 (time_range "
    "slicing), §2.11 grid",
    doc="r4 suite consolidation (VERDICT r3 ask #5): the direction "
    "cleanup and the 15-minute slot round-trip as ONE driver row in a "
    "tall (kind, key1, key2, n) shape — freeing a registry slot for "
    "corpus_stratified_sample without losing either value check. The "
    "two underlying plans are unchanged (radar_direction_clean / "
    "radar_time_slice above, still individually pinned as library "
    "specs); the union is map-side only — no extra shuffle.",
)
def radar_clean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = radar_direction_clean(spark, sf_dir).select(
        F.lit("direction").alias("kind"),
        F.col("direction").alias("key1"),
        F.lit(None).cast("string").alias("key2"),
        "n",
    )
    t = radar_time_slice(spark, sf_dir).select(
        F.lit("time_slice").alias("kind"),
        F.col("initial_time").alias("key1"),
        F.col("end_time").alias("key2"),
        "n",
    )
    return d.unionByName(t)


@register(
    "radar_total_validation",
    oracle=f"""
    WITH hist AS ({HIST_SQL})
    SELECT equipment,
           count(*) AS n_rows,
           count(*) FILTER (
               WHERE total <> ({" + ".join(c for c, _, _ in QTY_BINS)})
           ) AS n_bad_totals
    FROM hist GROUP BY equipment
    """,
    survey="A2 (row-wise horizontal sum validation)",
    doc="Data-quality check the reference never performs: total == Σ bins "
    "(SURVEY §2.7 A2), as a vectorized horizontal sum.",
)
def radar_total_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = _qty_hist(spark, sf_dir)
    row_sum = reduce(add, [F.col(c) for c, _, _ in QTY_BINS])
    return hist.groupBy("equipment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("total") != row_sum, 1).otherwise(0)).alias("n_bad_totals"),
    )


# Library tier — proven plans kept OUT of the driver's 50-entry window
# (pinned by tests/test_oracle_parity.py with the same strict compare).
LIBRARY_SPECS: dict[str, QuerySpec] = {
    "radar_histogram_build": QuerySpec(
        name="radar_histogram_build",
        fn=radar_histogram_build,
        oracle=HIST_SQL,
        survey="A2/A3 (histogram fact build), R2 inverse",
        doc="Wide histogram fact build; driver-checked transitively via "
        "radar_bins_long (same plan + unpivot).",
    ),
    "radar_direction_clean": QuerySpec(
        name="radar_direction_clean",
        fn=radar_direction_clean,
        oracle=DIRECTION_SQL,
        survey="P6/P7 (split + map direction cleaning)",
        doc="Individual pin of the direction-cleanup half of "
        "radar_clean_suite (registered r1-r3; suite-consolidated r4).",
    ),
    "radar_time_slice": QuerySpec(
        name="radar_time_slice",
        fn=radar_time_slice,
        oracle=TIME_SLICE_SQL,
        survey="P8/P9 (time_range slicing), §2.11 grid",
        doc="Individual pin of the slot round-trip half of "
        "radar_clean_suite (registered r1-r3; suite-consolidated r4).",
    ),
}
