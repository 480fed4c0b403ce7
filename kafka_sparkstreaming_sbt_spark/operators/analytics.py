"""Relational analytics extensions (beyond the reference's surface —
SURVEY.md §2.12 records that the reference contains no joins, window
functions, rollups, or top-k; these are labeled extensions giving the
engine a complete analytical surface over the TPC-H-ish testdata).

Scale design notes (the point of each operator):

- Dimension joins broadcast explicitly (``F.broadcast``): region /
  nation / customer-at-sf are orders of magnitude smaller than the
  fact tables; a broadcast join costs one scan of the fact side and
  zero shuffle of it.  At 100 TB the fact side NEVER moves.
- Fact-fact joins (orders x lineitem) are left to Catalyst/AQE: both
  sides shuffle on the join key once, and AQE handles skewed order
  keys (skewJoin enabled in session defaults).
- Aggregations are declared on top of the joins so Catalyst pushes
  filters below the join and prunes columns into the scans
  (tests/test_plans.py asserts PushedFilters/ReadSchema).
- Per-group top-k uses rank-then-filter with deterministic tie-breaks
  (the window shuffle partitions by the group key, and Catalyst's
  partial WindowGroupLimit prunes map-side); GLOBAL top-k uses
  ``operators.topk.global_topk_with_rank`` (TakeOrderedAndProject),
  never a partition-less window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def revenue_by_nation(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5-style local-supplier volume: revenue per nation within
    one region.  Fact side (lineitem) joins broadcast dimensions; only
    the final per-nation agg shuffles."""
    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .select("c_custkey", "n_name")
    )
    rev = F.sum(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(dims), orders["o_custkey"] == dims["c_custkey"])
        .groupBy("n_name")
        .agg(F.round(rev, 2).alias("revenue"))
    )


def top_customers(
    orders: DataFrame, customer: DataFrame, k: int = 10
) -> DataFrame:
    """Top-k customers by total order value with deterministic
    tie-breaks (value DESC, custkey ASC).

    Plan shape: partial->final agg, broadcast dim join, then
    ``TakeOrderedAndProject`` via :func:`operators.topk.
    global_topk_with_rank` — per-partition bounded top-k, k-row final
    merge, rank computed over the k survivors only.  No global window
    over the aggregate (at 100 TB that would funnel every customer row
    through one task)."""
    from kafka_sparkstreaming_sbt_spark.operators.topk import (
        global_topk_with_rank,
    )

    spend = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .join(F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    top = global_topk_with_rank(
        spend, [("total_spent", "desc"), ("o_custkey", "asc")], k
    )
    return top.select(
        F.col("o_custkey").alias("custkey"),
        "c_name",
        "c_mktsegment",
        "total_spent",
        F.col("rank").cast("long").alias("rank"),
    )


def monthly_order_stats(orders: DataFrame) -> DataFrame:
    """Analytic window functions over a monthly rollup: per-status
    month rank by revenue and a running cumulative revenue — the
    ranking/frames surface the reference imported but never used
    (SURVEY.md §2.11)."""
    monthly = (
        orders.groupBy(
            "o_orderstatus",
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    by_status = Window.partitionBy("o_orderstatus")
    rank_w = by_status.orderBy(F.col("revenue").desc(), F.col("month").asc())
    run_w = by_status.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return monthly.select(
        "o_orderstatus",
        "month",
        "revenue",
        "n_orders",
        F.row_number().over(rank_w).cast("long").alias("revenue_rank"),
        F.round(F.sum("revenue").over(run_w), 2).alias("running_revenue"),
    )


def customer_order_gaps(orders: DataFrame) -> DataFrame:
    """lag/lead offset windows: per customer, each order with the gap
    (days) since the previous order and until the next — re-order
    cadence analysis.  The window partitions on the customer key, so
    Catalyst shuffles once on o_custkey and sorts within groups; no
    partition-less window anywhere (the fleet guard applies here
    too)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_d = F.lag("o_orderdate").over(w)
    next_d = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), prev_d).cast("long").alias(
            "days_since_prev"
        ),
        F.datediff(next_d, F.col("o_orderdate")).cast("long").alias(
            "days_until_next"
        ),
    )


def order_priority_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP grouping over (priority, status): subtotal rows carry
    NULLs — multi-grain aggregation in one pass."""
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


def parts_without_bulk_shipments(
    part: DataFrame, lineitem: DataFrame, min_qty: float = 49.0
) -> DataFrame:
    """Anti join (NOT EXISTS): parts never shipped in bulk
    (quantity > ``min_qty``).  left_anti keeps the probe-side scan
    single-pass; the build side reduces to the distinct key set and
    the quantity filter pushes into the lineitem scan."""
    bulk = lineitem.filter(F.col("l_quantity") > min_qty).select(
        "l_partkey"
    )
    return part.join(
        bulk, part["p_partkey"] == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_name", "p_type")


def order_status_pivot(orders: DataFrame) -> DataFrame:
    """Pivot: order counts and value per priority, one column per
    status.  The status domain is DECLARED (F/O/P), not discovered —
    an undeclared pivot would scan the data twice (once to find the
    values) and produce schema drift between runs; declaring it keeps
    the plan a single-pass conditional aggregation."""
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


def lapsed_customers(orders: DataFrame, year_a: int, year_b: int) -> DataFrame:
    """Set difference (EXCEPT): customers who ordered in ``year_a``
    but not in ``year_b``.  ``subtract`` compiles to a left-anti
    aggregate join — one shuffle on the key, no materialized distinct
    sets."""
    def custs(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    return custs(year_a).subtract(custs(year_b))


def rolling_customer_spend(orders: DataFrame, days: int = 90) -> DataFrame:
    """RANGE-frame rolling window: per customer, the trailing
    ``days``-day spend and order count as of each order.

    The frame is declared over the DAY NUMBER (``unix_date``), not the
    row position — two orders on the same day are peers and both see
    the same trailing total, which makes the result deterministic
    under any row order.  Money is summed in integer cents (the input
    is 2-dp) so the rolling sums are exact and engine-independent —
    a float rolling sum's value depends on accumulation order, which
    differs between Spark's running-frame and an oracle's segment
    tree.

    Scale shape: one shuffle on the customer key, sort by day within
    the partition, single pass with a sliding accumulator — the same
    cost as any per-key window; nothing global."""
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-(days - 1), Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum(cents).over(w) / 100.0, 2).alias("rolling_spend"),
        F.count(F.lit(1)).over(w).alias("rolling_orders"),
    )


def promo_revenue_share(
    lineitem: DataFrame, part: DataFrame, promo_type: str = "PROMO"
) -> DataFrame:
    """TPC-H Q14-style conditional-aggregation share: per ship month,
    the fraction of discounted revenue coming from promo parts.

    One broadcast dimension join (part is tiny relative to lineitem)
    and one month-grain aggregation; the promo/total split is a
    CASE inside the same agg, not a second scan.  Both sums are
    rounded to cents BEFORE the division so the share is a ratio of
    engine-identical values (same discipline as
    :func:`customers_with_orders`'s avg)."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == promo_type, rev).otherwise(
        F.lit(0.0)
    )
    monthly = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.round(F.sum(promo_rev), 2).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )
    return monthly.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        F.round(
            100 * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_share_pct"),
    )


def large_orders(
    orders: DataFrame,
    customer: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 250.0,
) -> DataFrame:
    """TPC-H Q18-style HAVING filter with join-back: orders whose
    total lineitem quantity exceeds ``min_qty``, with customer detail.

    The quantity aggregate runs FIRST (partial->final, one shuffle on
    the order key) and its HAVING filter drops ~all groups before the
    join-back, so the orders join probes a tiny filtered build side
    and the customer join broadcasts — at 100 TB the expensive side is
    the single lineitem aggregation, never a fact-fact join of the
    full tables."""
    qty = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        orders.join(qty, orders["o_orderkey"] == qty["l_orderkey"])
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("total_qty"), 2).alias("total_qty"),
        )
    )


def grouped_zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: list[str],
    z: float = 3.0,
) -> DataFrame:
    """Per-group z-score anomaly detection: rows whose value deviates
    from the group mean by more than ``z`` population standard
    deviations.

    The group stats come from ONE partial->final aggregation of
    (count, sum, sum-of-squares) — a |groups|-row table joined back
    onto the fact scan (AQE chooses the strategy; a bounded group
    domain broadcasts).  Mean and variance divide CENT-ROUNDED sums so
    every engine computes the identical cutoff; a raw float variance
    would make |z| = threshold rows flicker across engines.

    At 100 TB this is two scans of the fact table and zero windows —
    the alternative (a window over every row per group) would sort
    entire groups for three scalars."""
    s = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(value_col), 2).alias("sv"),
        F.round(F.sum(F.col(value_col) * F.col(value_col)), 2).alias("sv2"),
    )
    mean = F.col("sv") / F.col("n")
    std = F.sqrt(F.col("sv2") / F.col("n") - mean * mean)
    zscore = (F.col(value_col) - mean) / std
    return (
        df.join(s, group_col)
        .filter(F.abs(zscore) > z)
        .select(
            *id_cols,
            group_col,
            F.round(value_col, 2).alias(value_col),
            F.round(zscore, 6).alias("zscore"),
        )
    )


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Semi join (EXISTS): customers that placed at least one order,
    with their order stats via a follow-up broadcast-aggregated join."""
    # avg computed as round(sum,2)/count: a plain AVG of 2-dp money can
    # land exactly on a rounding boundary while the engines' float sums
    # differ in the last bit; dividing the already-rounded (identical)
    # sum keeps the result bit-identical across engines
    stats = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.round(F.sum("o_totalprice"), 2) / F.count(F.lit(1)), 6
        ).alias("avg_order_value"),
    )
    return (
        customer.join(
            stats, customer["c_custkey"] == stats["o_custkey"], "inner"
        )
        .select("c_custkey", "c_mktsegment", "n_orders", "avg_order_value")
    )


def cohort_retention(orders: DataFrame) -> DataFrame:
    """Cohort retention matrix: customers grouped by FIRST-order month
    (the cohort), then for each (cohort, months-since-first) the count
    of cohort members who ordered that month and the retention rate.

    Two partial->final aggregations and one join of the |customers|-row
    first-order table back onto the distinct (customer, month)
    activity — no windows, no self-join of the fact table.  At 100 TB
    both aggregations shuffle keys bounded by |customers| x |months|,
    not order rows; AQE picks the join strategy (the first-order side
    is |customers| rows — small for dimension-like cardinalities,
    shuffle-joined when not).

    Months are month-TRUNCATED timestamps (not dates): a date-grain
    column would round-trip as midnight datetimes through arrow/pandas
    anyway, and the timestamp keeps the DuckDB oracle byte-identical.
    """
    first = orders.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "month")).alias("_cohort_d")
    )
    active = orders.select(
        "o_custkey", F.trunc("o_orderdate", "month").alias("_active_d")
    ).distinct()
    joined = active.join(first, "o_custkey").select(
        "o_custkey",
        "_cohort_d",
        F.round(
            F.months_between(F.col("_active_d"), F.col("_cohort_d"))
        ).cast("long").alias("months_since"),
    )
    sizes = first.groupBy("_cohort_d").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = joined.groupBy("_cohort_d", "months_since").agg(
        F.count(F.lit(1)).alias("active_customers")
    )
    return (
        ret.join(sizes, "_cohort_d")
        .select(
            F.col("_cohort_d").cast("timestamp").alias("cohort_month"),
            "months_since",
            "active_customers",
            "cohort_size",
            F.round(
                F.col("active_customers") / F.col("cohort_size"), 6
            ).alias("retention_rate"),
        )
    )


def customer_spend_trend(orders: DataFrame, min_months: int = 3) -> DataFrame:
    """Per-customer linear spend trend: least-squares slope and
    intercept of monthly order totals against the month index
    (months since 1992-01), for customers active in at least
    ``min_months`` distinct months.

    One hash aggregation per customer over exact moment sums: spend
    in integer cents ``y``, the integer month index ``x``, and
    ``n, Σx, Σy, Σxy, Σx²`` as longs.  The least-squares numerators
    and denominator are then exact integers, and each of slope and
    intercept is one correctly rounded double division of them.  So
    the result does not depend on summation order, and another
    engine that sums the same integers returns the same doubles
    (float moments, as ``regr_slope`` keeps them, moved a slope by
    1e-4 between runs).  Null for a customer with a single month,
    which only a ``min_months`` below 2 keeps.
    """
    monthly = orders.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("_m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_y")
    )
    x = F.round(
        F.months_between(F.col("_m"), F.lit("1992-01-01").cast("date"))
    ).cast("long")
    y = F.col("_y")
    per_cust = monthly.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n, sx, sy = F.col("n_months"), F.col("_sx"), F.col("_sy")
    sxy, sxx = F.col("_sxy"), F.col("_sxx")
    # cents -> dollars folded into the denominator, still exact
    den = (n * sxx - sx * sx) * 100

    def ratio(num):
        return F.when(den != 0, num.cast("double") / den.cast("double"))

    return per_cust.filter(n >= min_months).select(
        "o_custkey",
        "n_months",
        ratio(n * sxy - sx * sy).alias("slope"),
        ratio(sy * sxx - sx * sxy).alias("intercept"),
    )
