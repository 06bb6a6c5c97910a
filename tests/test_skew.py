"""Skew handling: AQE's runtime skew-join split, and the heavy-hitter
report (operators/skew.py::skew_report)."""

from __future__ import annotations

from pyspark.sql import functions as F


_AQE_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # shrink the detection thresholds so a few-MB local fixture is
    # "skewed"; at cluster scale the defaults (256 MB / factor 5) play
    # the same role
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
}


def test_aqe_splits_skewed_shuffle_join(spark):
    """The claim operators/asof.py and skew.py's docstrings rest on:
    AQE really does split a skewed SHUFFLE-JOIN partition at runtime
    (it does NOT apply to grouped-map aggregation — that is what
    asof_join_salted is for). 90% of the left side
    shares one key; after execution the final adaptive plan must show
    the skew-split merge join, and the result must be exact."""
    old = {k: spark.conf.get(k, None) for k in _AQE_CONFS}
    for k, v in _AQE_CONFS.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        )
        joined = left.join(right, "k")
        n = len(joined.collect())  # executes THIS plan; AQE finalizes it
        # exact expectation: 270k rows of key 0 match once; the 30k
        # distinct-key rows match iff k = 10i+9 < 2000 (200 of them)
        assert n == 270_000 + 200

        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead coalesced and skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---- heavy-hitter report ----


def test_skew_report_planted_hot_key(spark):
    import pandas as pd
    from radares_spark.operators.skew import skew_report

    pdf = pd.DataFrame({"k": ["hot"] * 800 + [f"cold{i}" for i in range(200)]})
    rows = skew_report(spark.createDataFrame(pdf), ["k"], 5).collect()
    by_rank = {r["key_rank"]: r for r in rows}
    assert len(rows) == 5
    assert by_rank[1]["k"] == "hot" and by_rank[1]["n_rows"] == 800
    assert by_rank[1]["share"] == 0.8
    # cold keys are all count-1: deterministic tie-break by key asc
    assert by_rank[2]["k"] == "cold0" and by_rank[2]["n_rows"] == 1


def test_skew_report_equals_naive_global_window(spark):
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from radares_spark.operators.skew import skew_report

    pdf = pd.DataFrame({"k": [f"k{i % 37}" for i in range(1000)]})
    docs = spark.createDataFrame(pdf)
    got = sorted(map(tuple, skew_report(docs, ["k"], 10).collect()))
    counts = docs.groupBy("k").agg(F.count(F.lit(1)).alias("n_rows"))
    naive = (
        counts.crossJoin(F.broadcast(counts.agg(F.sum("n_rows").alias("t"))))
        .withColumn(
            "key_rank", F.row_number().over(Window.orderBy(F.desc("n_rows"), "k"))
        )
        .filter(F.col("key_rank") <= 10)
        .select(
            "k",
            "n_rows",
            F.round(F.col("n_rows") / F.col("t").cast("double"), 6).alias("share"),
            "key_rank",
        )
    )
    want = sorted(map(tuple, naive.collect()))
    assert got == want


def test_skew_report_uses_window_group_limit(spark):
    import pandas as pd
    from radares_spark.operators.skew import skew_report

    pdf = pd.DataFrame({"k": [f"k{i % 37}" for i in range(1000)]})
    plan = (
        skew_report(spark.createDataFrame(pdf), ["k"], 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan
