"""Histogram analytics — the "querying and analysis" surface the
reference declares but never implements (README.md:3; SURVEY §2.7 A3).

The radar fact table stores an 11-bin speed histogram per 15-minute
slot (database/schema.sql:59-70). These helpers work on ANY wide
histogram layout: a list of (col, lo, hi) bins. All pure column
expressions / single-shuffle aggregations — no UDFs, no driver loops,
so they hold at 100 TB (the unpivot multiplies rows by n_bins but
stays map-side; the window for percentiles partitions on the group
key).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radares_spark.schemas import SPEED_BINS

Bins = list[tuple[str, int, int]]


def bins_long(df: DataFrame, group_cols: list[str], bins: Bins = SPEED_BINS) -> DataFrame:
    """Wide histogram -> long ``(group..., bin_lo, bin_hi, cnt)``.

    Map-side explode (no shuffle): each input row becomes n_bins rows.
    The inverse (long->wide) is ``groupBy(group).pivot('bin').sum('cnt')``.
    """
    entries = F.array(
        *[
            F.struct(F.lit(lo).alias("bin_lo"), F.lit(hi).alias("bin_hi"), F.col(c).alias("cnt"))
            for c, lo, hi in bins
        ]
    )
    return df.select(*group_cols, F.explode(entries).alias("b")).select(
        *group_cols, "b.bin_lo", "b.bin_hi", "b.cnt"
    )


def _total(bins: Bins) -> Column:
    return reduce(add, [F.col(c) for c, _, _ in bins])


def weighted_mean_speed(bins: Bins = SPEED_BINS) -> Column:
    """``Σ(bin_mid · cnt) / Σ cnt`` as one column expression."""
    num = reduce(add, [F.col(c) * F.lit((lo + hi) / 2.0) for c, lo, hi in bins])
    return num / _total(bins)


def speeding_ratio(limit: int, bins: Bins = SPEED_BINS) -> Column:
    """Fraction of vehicles in bins entirely above ``limit``."""
    above = [F.col(c) for c, lo, _ in bins if lo >= limit]
    num = reduce(add, above) if above else F.lit(0)
    return num / _total(bins)


def percentile_col(bins: Bins = SPEED_BINS) -> Column:
    """85th-percentile speed from a wide histogram row: the upper bound
    of the first bin whose cumulative count reaches ``0.85 * total`` — a
    pure column expression (prefix sums compared against the target;
    Catalyst folds it into the enclosing pass)."""
    total = _total(bins)
    prefix = []
    acc = None
    for c, _, _ in bins:
        acc = F.col(c) if acc is None else acc + F.col(c)
        prefix.append(acc)
    target = F.lit(0.85) * total
    expr = None
    for (c, lo, hi), cum in zip(bins, prefix):
        cond = cum >= target
        expr = F.when(cond, hi) if expr is None else expr.when(cond, hi)
    return expr.otherwise(F.lit(bins[-1][2]))

