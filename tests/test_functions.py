"""Unit tests for the cleaning + histogram function library."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from radares_spark.functions.cleaning import clean_direction, split_time_range, with_slot_start
from radares_spark.functions.histogram import (
    bins_long,
    percentile_col,
    speeding_ratio,
    weighted_mean_speed,
)

BINS = [("b0", 0, 10), ("b1", 11, 20), ("b2", 21, 30)]


def test_clean_direction(spark):
    df = spark.createDataFrame(
        [("Rua A/N",), ("Av. B/S",), ("R. C/L",), ("X/O",), ("weird/Q",), ("nosep",)],
        ["raw"],
    )
    got = [r[0] for r in df.select(clean_direction(F.col("raw"))).collect()]
    assert got == ["Norte", "Sul", "Leste", "Oeste", None, None]


def test_split_time_range_and_slot_start(spark):
    df = spark.createDataFrame(
        [("2024-03-15", "06:30 as 06:45")], ["pubdate", "time_range"]
    ).withColumn("pubdate", F.to_date("pubdate"))
    out = with_slot_start(split_time_range(df)).collect()[0]
    assert out["initial_time"] == "06:30"
    assert out["end_time"] == "06:45"
    assert out["slot_start"] == dt.datetime(2024, 3, 15, 6, 30)


def _hist_df(spark):
    # group g1: 10 @ bin0, 10 @ bin1, 80 @ bin2 -> p85 in last bin
    # group g2: 90 @ bin0, 10 @ bin1 -> p85 in first bin
    return spark.createDataFrame(
        [("g1", 10, 10, 80, 100), ("g2", 90, 10, 0, 100)],
        ["g", "b0", "b1", "b2", "total"],
    )


def test_bins_long(spark):
    rows = bins_long(_hist_df(spark), ["g"], BINS).collect()
    assert len(rows) == 6
    d = {(r["g"], r["bin_lo"]): r["cnt"] for r in rows}
    assert d[("g1", 21)] == 80 and d[("g2", 0)] == 90


def test_weighted_mean_and_ratio(spark):
    df = _hist_df(spark).select(
        "g",
        F.round(weighted_mean_speed(BINS), 4).alias("wm"),
        F.round(speeding_ratio(21, BINS), 4).alias("sr"),
    )
    d = {r["g"]: (r["wm"], r["sr"]) for r in df.collect()}
    # g1: (10*5 + 10*15.5 + 80*25.5) / 100 = 22.45
    assert d["g1"] == (22.45, 0.8)
    # g2: (90*5 + 10*15.5) / 100 = 6.05
    assert d["g2"] == (6.05, 0.0)


def test_percentile_from_bins(spark):
    rows = _hist_df(spark).select("g", percentile_col(BINS).alias("p85_speed")).collect()
    d = {r["g"]: r["p85_speed"] for r in rows}
    assert d["g1"] == 30  # cum: 10,20,100 -> first >= 85 is b2 (hi=30)
    assert d["g2"] == 10  # cum: 90 -> first >= 85 is b0 (hi=10)
