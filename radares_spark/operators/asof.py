"""As-of join as a grouped-map operator, plus a time-salted variant
for genuinely hot keys.

Three tiers, by per-key cardinality:

- **window form** (plans/relational.asof_join_error_click): union both
  sides, ``last(value, ignorenulls)`` over an event-time window. One
  shuffle; per-key window state is row-at-a-time JVM code. Right when
  per-key event counts are sane.
- **grouped-map form** (:func:`asof_join`): same one-key-one-task
  layout, but the per-group work is C-speed ``pandas.merge_asof``
  (O(n log n) sort + linear merge, Arrow-batched) instead of
  row-at-a-time window state. Strictly faster per group — but the unit
  of work is still a WHOLE key: a user with 10^8 events serializes into
  one task. (AQE skew splitting does NOT help here: it applies to
  shuffle joins, not grouped-map aggregation — every row of a hot key
  must reach the same ``applyInPandas`` task.)
- **time-salted form** (:func:`asof_join_salted`): the skew-proof tier.
  Both sides are bucketed by a fixed time width, so the grouping key
  becomes (key, time_bucket) and a hot key fans out across as many
  tasks as it spans buckets. Correctness across bucket boundaries is
  restored by injecting, per (key, bucket), the latest right timestamp
  from any EARLIER bucket (a running max over the tiny per-key bucket
  grid — rows proportional to keys x buckets, never to events), so a
  left row whose preceding right event lives in an earlier bucket still
  matches it. Per-task work is bounded by rows per (key, bucket): pick
  the bucket width so that bound fits an executor, independent of how
  hot the key is.

Semantics (all tiers): for every left row, the latest right row with
``right.ts <= left.ts`` for the same ``by`` key (ties included —
pandas ``merge_asof`` default ``allow_exact_matches=True``, matching
the window form's click-sorts-before-error tie rule).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.registry import QuerySpec


def _kernel_schema(left: DataFrame, value: str) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields
    ) + f", {value} timestamp"


def _make_kernel(lcols: list[str], left_ts: str, value: str):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        lp = pdf[pdf["__side"] == 0][lcols].sort_values(left_ts, kind="mergesort")
        rp = (
            pdf[pdf["__side"] == 1][["__rts"]]
            .dropna()
            .sort_values("__rts", kind="mergesort")
        )
        if lp.empty:
            return lp.assign(**{value: pd.Series(dtype="datetime64[us]")})
        merged = pd.merge_asof(
            lp, rp, left_on=left_ts, right_on="__rts", direction="backward"
        )
        return merged.rename(columns={"__rts": value})

    return kernel


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    value: str = "value_ts",
) -> DataFrame:
    """Latest ``right`` at-or-before each ``left`` row per ``by`` key.

    Output: left columns + ``value`` (the matched right timestamp, null
    when no right row precedes the left row). Scope: bounded per-key
    cardinality — one task per key; for hot keys use
    :func:`asof_join_salted`.
    """
    lcols = left.columns
    l = left.withColumn("__side", F.lit(0))
    r = (
        right.select(F.col(by), F.col("ts").alias("__rts"))
        .withColumn("__side", F.lit(1))
    )
    both = l.unionByName(r, allowMissingColumns=True)
    return both.groupBy(by).applyInPandas(
        _make_kernel(lcols, "ts", value), schema=_kernel_schema(left, value)
    )


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    by: str,
    bucket_seconds: int,
    value: str = "value_ts",
) -> DataFrame:
    """Skew-proof as-of join: groups are (key, time bucket), so a hot
    key spreads over ``ceil(span / bucket_seconds)`` tasks and per-task
    work is bounded by rows per (key, bucket) — the knob is
    ``bucket_seconds``, not the key distribution.

    Boundary handling: a left row's preceding right event may live in
    an earlier bucket. For every (key, bucket) the latest right
    timestamp from all STRICTLY EARLIER buckets is computed on the
    per-key bucket grid (one running-max window over ~keys x buckets
    rows — metadata-sized, not event-sized) and injected into the group
    as one extra right row, restoring exact cross-bucket semantics.
    """
    lcols = left.columns
    # epoch seconds via cast-through-timestamp: legal for both LTZ and
    # NTZ timestamps (bare NTZ->BIGINT is an AnalysisException) and a
    # no-op extra cast when the input is already TimestampType.
    lsalt = F.floor(F.col("ts").cast("timestamp").cast("long") / bucket_seconds)

    l = left.withColumn("__side", F.lit(0)).withColumn("__salt", lsalt)
    r = (
        right.select(F.col(by), F.col("ts").alias("__rts"))
        .withColumn("__side", F.lit(1))
        .withColumn(
            "__salt",
            F.floor(F.col("__rts").cast("timestamp").cast("long") / bucket_seconds),
        )
    )

    # per-(key, bucket) latest right ts — the only state that crosses
    # bucket borders; grid size ~ keys x buckets, independent of events
    r_bucket_max = r.groupBy(by, "__salt").agg(F.max("__rts").alias("__bmax"))
    grid = (
        l.select(by, "__salt")
        .distinct()
        .unionByName(r_bucket_max.select(by, "__salt"))
        .distinct()
        .join(r_bucket_max, [by, "__salt"], "left")
    )
    w_prev = (
        W.partitionBy(by).orderBy("__salt").rowsBetween(W.unboundedPreceding, -1)
    )
    boundary = (
        grid.withColumn("__carry", F.max("__bmax").over(w_prev))
        .filter(F.col("__carry").isNotNull())
        .select(
            F.col(by),
            F.col("__carry").alias("__rts"),
            F.lit(1).alias("__side"),
            "__salt",
        )
    )

    both = l.unionByName(r, allowMissingColumns=True).unionByName(
        boundary, allowMissingColumns=True
    )
    return both.groupBy(by, "__salt").applyInPandas(
        _make_kernel(lcols, "ts", value), schema=_kernel_schema(left, value)
    )


# --- Library spec: the salted tier against DuckDB's native ASOF JOIN -------

SALT_BUCKET_S = 6 * 3600


def asof_salted_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered window-form as-of (asof_join_error_click) solved
    by the skew-proof SALTED tier instead — value-checked against
    DuckDB's native ASOF JOIN, so the boundary-carry machinery gets the
    same oracle-grade scrutiny as the driver rows (it was pytest-only
    before r4)."""
    from radares_spark.io.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join_salted(
        errors,
        clicks,
        by="user_id",
        bucket_seconds=SALT_BUCKET_S,
        value="last_click_ts",
    )


ASOF_SALTED_SQL = """
    WITH errors AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
        SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts, c.click_ts AS last_click_ts
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND c.click_ts <= e.ts
"""

LIBRARY_SPECS: dict[str, QuerySpec] = {
    "asof_salted_error_click": QuerySpec(
        name="asof_salted_error_click",
        fn=asof_salted_error_click,
        oracle=ASOF_SALTED_SQL,
        survey="§2.6 as-of join (time-salted skew-proof tier)",
        doc="Salted as-of vs DuckDB native ASOF JOIN: groups are "
        "(key, 6h bucket); cross-bucket correctness restored by the "
        "per-(key, bucket) boundary carry. Hash parity proves the "
        "carry injection exactly reproduces unsalted semantics.",
    ),
}
