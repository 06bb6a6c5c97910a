"""Relational query library over the TESTDATA star schema.

Covers the SURVEY §2 operator inventory that maps onto plain
relational algebra: projections/filters (§2.3-2.4), joins incl.
anti/semi/broadcast (§2.6), aggregations incl. having / rollup / cube
(§2.7), windows / top-k / gap detection / set ops (§2.8), reshaping
(§2.9), scalar functions (§2.10), and the batch form of the streaming
semantics (§2.11: calendar gap-fill audit, 15-minute tumbling windows,
sessionization, as-of joins).

Scale notes (100 TB design rules applied throughout):

- Dimension joins (`region`, `nation`, band tables) are explicitly
  ``F.broadcast`` — no shuffle of the fact side.
- Fact-fact joins rely on AQE sort-merge with skew-join splitting.
- All aggregates are expressed declaratively => Catalyst plans
  partial (map-side) aggregation before the shuffle.
- Filters are plain column predicates => pushed into the Parquet scan
  (verify: ``PushedFilters`` in ``explain('formatted')``).
- Money sums are ``round(x, 2)`` / ratios ``round(x, 4-6)`` so results
  are stable under any aggregation order (floating-point sums are
  order-sensitive in the last ulp; rounding makes Spark and the DuckDB
  oracle agree bit-for-bit). Rounding alone fails when a double sum
  lands on a half cent, where the two orders round to neighbouring
  cents; q1's and q3's money sums therefore add in DECIMAL (:func:`_cents`),
  exact in any order on both engines, and return doubles.
- No ``collect()`` anywhere; top-k uses window rank, not a driver sort.

Reference parity: the reference has no analytical queries of its own
(SURVEY §2.7-2.8 — "declared, not coded", README.md:3); this library IS
the declared "querying and analysis" surface, generalized to the
TESTDATA schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from radares_spark.io.tables import load_table
from radares_spark.registry import QuerySpec, register

# Library tier (plans/library.py aggregates): demoted from the
# 50-entry driver window but swept by the same strict DuckDB
# comparison in test_oracle_parity.
LIBRARY_SPECS: dict[str, QuerySpec] = {}


def _library(name: str, oracle: str, survey: str, doc: str = ""):
    def wrap(fn):
        LIBRARY_SPECS[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, survey=survey, doc=doc
        )
        return fn
    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _cents(name: str):
    """A 2-decimal money or quantity column as DECIMAL(12,2): exact for
    the generated values, so a sum of it is order-independent. The
    oracles cast the same way (``::DECIMAL(12,2)``)."""
    return F.col(name).cast("decimal(12,2)")


def _money_sum(expr):
    """``round(sum(expr), 2)`` of a DECIMAL expression, as a double."""
    return F.round(F.sum(expr), 2).cast("double")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.7 A3; TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity::DECIMAL(12,2)), 2)::DOUBLE              AS sum_qty,
           round(sum(l_extendedprice::DECIMAL(12,2)), 2)::DOUBLE         AS sum_base_price,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))), 2)::DOUBLE      AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey="A3, P1, F-pushdown",
    doc="Flagship: grouped multi-aggregate over the fact table; filter "
    "pushed to the parquet scan, partial agg before the single shuffle.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money_sum(_cents("l_quantity")).alias("sum_qty"),
            _money_sum(_cents("l_extendedprice")).alias("sum_base_price"),
            _money_sum(_cents("l_extendedprice") * (1 - _cents("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))), 2)::DOUBLE AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  >= TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    survey="J4, A3, top-k (§2.8)",
    doc="3-way join + agg + deterministic top-k (ties broken on key).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(_money_sum(_cents("l_extendedprice") * (1 - _cents("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    survey="J4 (broadcast dim chain), A3, F2",
    doc="Star join: tiny dims region/nation broadcast, fact side never "
    "shuffled for the dim joins. r5: region literal fixed to a name "
    "that EXISTS in testdata ('ASIA'; the old 'REGION_0' matched "
    "nothing, so the driver row passed vacuously on 0 == 0 rows).",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    dim = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Filter / join-semantics / HAVING / set-ops / sampling audit suite
# (§2.4 F2/F4, §2.6 J2/J3, A3 distinct-agg, §2.8 lag-gap + set ops,
# §2.10 date scalars, LLM-pipeline deterministic sampling) — eleven
# independent checks, one (check_name, n) row each.
# ---------------------------------------------------------------------------


@register(
    "relational_checks_suite",
    oracle="""
    SELECT 'urgent_96_97' AS check_name, count(*) AS n
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
    UNION ALL
    SELECT 'cust_no_orders', count(*)
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'cust_open_orders', count(*)
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    UNION ALL
    SELECT 'big_customers', count(*)
    FROM (SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 20)
    UNION ALL
    SELECT 'supp_nations', count(DISTINCT s_nationkey) FROM supplier
    UNION ALL
    SELECT 'gap_gt_60d', count(*)
    FROM (
        SELECT o_custkey
        FROM (
            SELECT o_custkey,
                   date_diff('day',
                             lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                    ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) AS gap_days
            FROM orders
        )
        GROUP BY o_custkey
        HAVING max(gap_days) > 60
    )
    UNION ALL
    SELECT 'order_months_2000', count(DISTINCT date_trunc('month', o_orderdate))
    FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    UNION ALL
    SELECT 'nations_cust_only', count(*) FROM (
        SELECT DISTINCT c_nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'nations_both', count(*) FROM (
        SELECT DISTINCT c_nationkey FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'sample_10pct_n', count(*)
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 100 < 10
    UNION ALL
    SELECT 'sample_10pct_total_cents', round(round(sum(o_totalprice), 2) * 100)::BIGINT
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 100 < 10
    """,
    survey="F2 (IN+range), J2 (anti), J3 (semi), F4 (HAVING), A3 "
    "distinct-agg, §2.8 lag-gap + set ops (except/intersect), §2.10 date "
    "trunc, LLM-pipeline deterministic hash-mod sampling",
    doc="Audit suite: eleven relational invariants as tagged counts — "
    "IN-list+date-range filter (reference backload_scrape.py:70-78), "
    "anti-join work-list (backload_scrape.py:61-86), semi-join existence "
    "guard (clean_data.py:168-180), HAVING threshold (verify_dates.py "
    "count<N pattern), COUNT(DISTINCT), lag()-based order-gap detection, "
    "month-truncation, EXCEPT/INTERSECT set audits, and the "
    "deterministic 10% content-hash sample (count + cents total — "
    "reproducible across engines/runs unlike rand(); the hash-mod "
    "predicate pushes into the scan pipeline). Each check is an "
    "independent branch (no fake dependency between them), unioned into "
    "one result — the shape of a nightly data-quality audit job.",
)
def relational_checks_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")

    def tag(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("check_name"), "n"
        )

    def rows(pairs) -> Column:
        # one (check_name, n) row per pair out of a SINGLE one-row
        # aggregate. The r14 form derived each tagged row with its own
        # ``select`` off a shared frame — but every union branch
        # re-expands its source subtree in the plan, so the "shared"
        # aggregate still appeared (and at 100 TB scans) once PER
        # CHECK; only AQE runtime stage reuse deduped it. Emitting the
        # rows through one explode keeps ONE copy of the upstream in
        # the plan (r15: orders scans 8 -> 3, Exchanges 24 -> 16,
        # rows identical).
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(col).cast("long").alias("n"),
                    )
                    for name, col in pairs
                ]
            )
        ).alias("kv")

    # ONE window + per-customer aggregate pass over the fact table
    # feeds four audits (count threshold, gap detection, and both
    # sides of the customer-activity join). At 100 TB this is the
    # difference between one fact shuffle and four fact scans; the
    # aggregated frame is tiny (one row per customer) so the customer
    # join broadcasts it.
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    per_cust = (
        orders.withColumn(
            "gap_days", F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("gap_days").alias("max_gap"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        )
    )
    big_gappy = (
        per_cust.agg(
            F.count(F.when(F.col("n_orders") >= 20, 1)).alias("n_big"),
            F.count(F.when(F.col("max_gap") > 60, 1)).alias("n_gappy"),
        )
        .select(rows([("big_customers", "n_big"), ("gap_gt_60d", "n_gappy")]))
        .select("kv.check_name", "kv.n")
    )

    # anti-join (no per_cust match) and semi-join-with-open-orders in
    # ONE left join + two conditional counts: per_cust has one row per
    # o_custkey, so the left join cannot fan out and NULL o_custkey
    # marks exactly the anti side (r15: one customer scan + one
    # broadcast instead of two of each)
    cflag = (
        cust.join(
            F.broadcast(per_cust.select("o_custkey", "n_open")),
            cust.c_custkey == F.col("o_custkey"),
            "left",
        )
        .agg(
            F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_none"),
            F.count(F.when(F.col("n_open") > 0, 1)).alias("n_act"),
        )
        .select(rows([("cust_no_orders", "n_none"), ("cust_open_orders", "n_act")]))
        .select("kv.check_name", "kv.n")
    )

    # one conditional global aggregate covers all four scan-level
    # checks, including the deterministic 10% content-hash sample
    # (count + cents total): count(when(cond, 1)) == count over the
    # filtered frame, and the conditional sum adds the same values in
    # the same scan order as the filtered sum did. The double round
    # (2 decimals, then x100 to an integer) is exact on both engines —
    # the scaled value is mathematically integral.
    in_window = F.col("o_orderdate").between(
        F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.encode(F.col("o_orderkey").cast("string"), "UTF-8")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    scan_checks = (
        orders.agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & in_window, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("urgent"),
            F.countDistinct(
                F.when(
                    F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"),
                    F.date_trunc("month", "o_orderdate"),
                )
            ).alias("months"),
            F.count(F.when(bucket < 10, 1)).alias("n_sampled"),
            F.round(F.round(F.sum(F.when(bucket < 10, F.col("o_totalprice"))), 2) * 100)
            .cast("long")
            .alias("cents"),
        )
        .select(
            rows(
                [
                    ("urgent_96_97", "urgent"),
                    ("order_months_2000", "months"),
                    ("sample_10pct_n", "n_sampled"),
                    ("sample_10pct_total_cents", "cents"),
                ]
            )
        )
        .select("kv.check_name", "kv.n")
    )

    # set-ops audits (§2.8): EXCEPT / INTERSECT over the nation keys;
    # the distinct-count check counts the SAME distinct frame the set
    # ops consume (count(k) skips NULLs exactly like countDistinct)
    cn = cust.select(F.col("c_nationkey").alias("k")).distinct()
    sn = supp.select(F.col("s_nationkey").alias("k")).distinct()
    supp_nations = sn.agg(F.count("k").alias("n")).select(
        F.lit("supp_nations").alias("check_name"), "n"
    )
    nations_only = tag("nations_cust_only", cn.exceptAll(sn).distinct())
    nations_both = tag("nations_both", cn.intersect(sn))

    parts = [
        scan_checks,
        cflag,
        big_gappy,
        supp_nations,
        nations_only,
        nations_both,
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Windows, rankings, gaps (§2.8)
# ---------------------------------------------------------------------------


@_library(
    # r14 window rotation: demoted to the library tier to put the
    # DSIR budgeted selector (operators/dsir.corpus_dsir_select)
    # under the driver oracle — §2.8's cumulative-window capability
    # stays driver-covered via window_topk_parts_per_brand +
    # events_sessionize; still strict-hash-swept here.
    "window_cumsum_qty",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           sum(l_quantity) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_qty
    FROM lineitem
    WHERE l_suppkey < 20
    """,
    survey="§2.8 cumulative window",
    doc="Running sum per supplier — the cumulative-histogram primitive "
    "behind percentile-from-bins. Deterministic ORDER BY tie-break.",
)
def window_cumsum_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 20)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber", F.sum("l_quantity").over(w).alias("running_qty")
    )


@register(
    "window_topk_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, revenue FROM (
        SELECT p_brand, p_partkey, revenue,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY revenue DESC, p_partkey) AS rn
        FROM (
            SELECT p_brand, p_partkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand, p_partkey
        )
    ) WHERE rn <= 3
    """,
    survey="§2.8 top-k per group, J4",
    doc="Top-3 parts by revenue per brand via row_number window (no "
    "driver-side sort; scales as one shuffle per agg + one per window).",
)
def window_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).drop("rn")
    )


# ---------------------------------------------------------------------------
# Cube / pivot / unpivot (§2.7 A3, §2.9 R2; rollup + grouping sets are
# covered by plans/advanced.grouping_analytics_lineitem)
# ---------------------------------------------------------------------------


@_library(
    # r11 window rotation: demoted to the library tier to finish the
    # Kneser-Ney family under the driver oracle (the interpolated
    # bigram joins the recursive trigram) — A3's grouping lattice
    # stays driver-covered via grouping_analytics_lineitem (arbitrary
    # GROUPING SETS = the same Expand+aggregate machinery CUBE
    # expands to) plus q1/radar_stats_suite; still strict-hash-swept
    # here.
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    survey="A3 cube",
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@_library(
    # r10 window rotation: demoted to library tier to put the
    # Kneser-Ney trigram LM under the driver oracle — R2 (wide<->long
    # reshape) stays driver-covered via radar_bins_long; still
    # strict-hash-swept here.
    "pivot_status_by_segment",
    oracle="""
    SELECT c_mktsegment,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    survey="R2 pivot (long->wide)",
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    piv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


# ---------------------------------------------------------------------------
# Calendar gap-fill audit (§2.7 A1 — the verify_dates.py replacement)
# ---------------------------------------------------------------------------


@register(
    "calendar_gap_fill_orders",
    oracle="""
    WITH bounds AS (
        SELECT min(o_orderdate)::DATE AS lo, max(o_orderdate)::DATE AS hi FROM orders
    ),
    calendar AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ),
    daily AS (
        SELECT o_orderdate::DATE AS day, count(*) AS n FROM orders GROUP BY 1
    )
    SELECT c.day, coalesce(d.n, 0) AS n_orders
    FROM calendar c LEFT JOIN daily d USING (day)
    WHERE coalesce(d.n, 0) < 15
    """,
    survey="A1 (single-shuffle audit), F4, sequence+explode",
    doc="The reference's O(days) per-day COUNT loop (verify_dates.py:31-41) "
    "as ONE job: groupBy day + generated calendar left join + HAVING-style "
    "filter. At 100 TB this is one shuffle instead of ~2900 round-trips.",
)
def calendar_gap_fill_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    calendar = (
        orders.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"), F.max(F.to_date("o_orderdate")).alias("hi")
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return (
        calendar.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n_orders"))
        .filter(F.col("n_orders") < 15)
    )


# ---------------------------------------------------------------------------
# Event-time queries (§2.11 batch forms)
# ---------------------------------------------------------------------------


@register(
    "events_15min_window",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2
    """,
    survey="§2.11 tumbling window (batch form of the 15-min radar grid)",
    doc="15-minute tumbling window aggregation — the radar fact table's "
    "native grid (96 slots/day) recomputed from raw events. Streaming "
    "variant in radares_spark.streaming.",
)
def events_15min_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('second',
                                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                      ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
    FROM marked GROUP BY user_id
    """,
    survey="§2.8 sessionization (lag + cumsum), §2.8 lag/gap",
    doc="Session counting via lag() gap detection. The oracle's sum() "
    "over INTEGER returns HUGEINT in DuckDB — cast ::BIGINT so the typed "
    "rendering matches Spark's LongType (r1 hash-failure class).",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # epoch seconds via cast-through-timestamp: legal for both LTZ and
    # NTZ inputs (a bare TIMESTAMP_NTZ -> BIGINT cast is an
    # AnalysisException — the r3 regression class), and a no-op cast
    # when the loader already normalized to TimestampType.
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev_epoch = F.lag("ts").over(w).cast("timestamp").cast("long")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull() | (epoch - prev_epoch > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "asof_join_error_click",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id,
           max(c.click_ts) AS last_click_ts
    FROM errors e JOIN clicks c
      ON e.user_id = c.user_id AND c.click_ts <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
    survey="as-of join (§2.6 engine capability; Spark lacks a native one)",
    doc="As-of join: latest click at-or-before each error, per user. "
    "Implemented as union + last(ignorenulls) over an event-time window "
    "— one shuffle, no range cross-product (the oracle's join+max is the "
    "semantic spec, not the physical plan). Per-key cardinality must be "
    "sane (one window task per user); for faster per-group merges use "
    "the merge_asof grouped-map variant, and for genuinely hot keys the "
    "time-salted asof_join_salted, whose per-task work is bounded by "
    "rows per (key, time bucket) (operators/asof.py, both tested "
    "equivalent in tests/test_asof.py).",
)
def asof_join_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("error", "click")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.col("event_type"),
    )
    # clicks sort before errors at identical ts => "at-or-before" includes ties
    order_tag = F.when(F.col("event_type") == "click", 0).otherwise(1)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), order_tag.asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return (
        joined.filter((F.col("event_type") == "error") & F.col("last_click_ts").isNotNull())
        .select("event_id", "user_id", "last_click_ts")
    )


@_library(
    # r13 window rotation: demoted to the library tier to put the
    # context-window chunker (operators/text_ext.text_chunk_windows)
    # under the driver oracle — §2.6's range/as-of capability stays
    # driver-covered via asof_join_error_click; still
    # strict-hash-swept here.
    "range_join_price_bands",
    oracle="""
    WITH bands AS (
        SELECT (unnest(generate_series(0, 24)) * 100)::BIGINT AS band_lo
    )
    SELECT band_lo, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
    FROM part JOIN bands
      ON p_retailprice >= band_lo AND p_retailprice < band_lo + 100
    GROUP BY band_lo
    """,
    survey="range join (§2.6 engine capability)",
    doc="Range join of facts to a generated band dimension. The band table "
    "is broadcast (nested-loop with a broadcast side — fine for a tiny "
    "dim); the scale path for fine bands is the equi-join rewrite "
    "floor(price/width) shown in functions/histogram.py. band_lo is "
    "emitted as BIGINT/long on BOTH sides — a DOUBLE-vs-BIGINT output "
    "renders 0.0 vs 0 and fails the driver's typed hash (r1 failure).",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    bands = spark.range(0, 25).select((F.col("id") * 100).alias("band_lo"))
    lo = bands.band_lo.cast("double")
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= lo) & (part.p_retailprice < lo + 100),
        )
        .groupBy("band_lo")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_retailprice"), 4).alias("avg_price"))
    )


# ---------------------------------------------------------------------------
# Scalar function surface (§2.10) + JSON
# ---------------------------------------------------------------------------


@register(
    "scalar_string_kitchen_sink",
    oracle="""
    SELECT c_custkey,
           split_part(c_name, '#', 2)                         AS cust_num,
           lpad(c_custkey::VARCHAR, 10, '0')                  AS padded_key,
           upper(substr(c_mktsegment, 1, 4))                  AS seg4,
           concat(c_mktsegment, '/', c_nationkey::VARCHAR)    AS seg_nation,
           length(c_name)                                     AS name_len
    FROM customer WHERE c_custkey < 100
    """,
    survey="§2.10 string scalars (split/substr/lpad/concat/length)",
    doc="The reference's string surface (clean_data.py:45,58,203-204; "
    "scrape.py:87) on testdata columns — all JVM-side built-ins, no UDF.",
)
def scalar_string_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return cust.select(
        "c_custkey",
        F.split(F.col("c_name"), "#").getItem(1).alias("cust_num"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.upper(F.substring("c_mktsegment", 1, 4)).alias("seg4"),
        F.concat_ws("/", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.length("c_name").alias("name_len"),
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    survey="§2.10 JSON extraction",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(F.get_json_object("props", "$.k").cast("double")), 4).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )
