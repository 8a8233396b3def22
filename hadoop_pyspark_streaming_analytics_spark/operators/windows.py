"""Window operators (SURVEY.md §2.6, W1-W5) — Q2 Part B semantics
(q2_ecommerce_analysis.py:146-205) on the driver star schema.

Per customer-order: chronological order number (rank, ties share — W2),
previous order date (lag — W3), day gap (datediff — W4), and first/last
product over the unbounded frame (W5).

Scale note: every window here partitions by the customer key, so the whole
module is ONE shuffle on c_custkey reused across all four window specs
(Catalyst plans consecutive windows over the same partitioning in a single
exchange + sort).  Skewed mega-customers would be the hazard at 100 TB; AQE
skew handling does not apply inside windows, so the guidance is salting the
window key for known whales (documented, not needed at test SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round2
from ..session import pin
from .relational import retail_base


def customer_orders_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 Part B (q2_ecommerce_analysis.py:146-205), deterministic variant.

    The reference's unbounded first/last window orders by timestamp only and
    is tie-nondeterministic (SURVEY.md §7); we extend the ordering with
    (o_orderkey, l_linenumber) so every frame is total-ordered.
    """
    return customer_orders_window_from_base(retail_base(spark, sf_dir))


def customer_orders_window_from_base(base: DataFrame) -> DataFrame:
    """Q2 Part B over any canonical base frame (c_custkey, l_orderkey,
    l_partkey, l_linenumber, o_orderdate, amount) — shared by the star-
    schema catalog entry above and the reference-CSV golden pipeline
    (operators/reference_golden.py)."""
    # W5: first/last product over the unbounded frame, computed at line level
    # BEFORE the order-level agg so they ride along as group keys
    # (q2_ecommerce_analysis.py:169-186).
    # NOTE: l_linenumber is NOT unique within an order in the testdata, so
    # l_partkey joins the ordering to keep the frame total-ordered.
    w_lines = (
        Window.partitionBy("c_custkey")
        .orderBy("o_orderdate", "l_orderkey", "l_linenumber", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    lines = base.withColumn("first_product", F.first("l_partkey").over(w_lines)).withColumn(
        "last_product", F.last("l_partkey").over(w_lines)
    )

    orders = lines.groupBy(
        "c_custkey", "l_orderkey", "o_orderdate", "first_product", "last_product"
    ).agg(round2(F.sum("amount")).alias("order_value"))

    # W2: rank (NOT row_number) so equal-timestamp orders share a number and
    # leave gaps (q2_ecommerce_analysis.py:191-196, README.md:174).
    w_rank = Window.partitionBy("c_custkey").orderBy("o_orderdate")
    # W3: lag needs a total order or tied rows make it nondeterministic.
    w_lag = Window.partitionBy("c_custkey").orderBy("o_orderdate", "l_orderkey")

    return (
        orders.withColumn("order_number", F.rank().over(w_rank))  # W2
        .withColumn("prev_order_date", F.lag("o_orderdate").over(w_lag))  # W3
        .withColumn(  # W4 (q2_ecommerce_analysis.py:198-201)
            "days_between_orders",
            F.datediff(F.col("o_orderdate"), F.col("prev_order_date")),
        )
        .drop("prev_order_date")  # P7
    )


def avg_days_between_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (q2_ecommerce_analysis.py:252-257): global scalar aggregate over
    the non-null day gaps (P10)."""
    return (
        customer_orders_window(spark, sf_dir)
        .filter(F.col("days_between_orders").isNotNull())
        .agg(round2(F.avg("days_between_orders")).alias("avg_days_between_orders"))
    )


def customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions BEYOND the reference surface
    (SURVEY.md §2.6 lists ntile / percent_rank / dense_rank / cume_dist as
    "not present"): quartile, percentile rank, dense rank, and cumulative
    distribution of every customer by total spend.

    One global window (un-partitioned) — acceptable for a |customers|-sized
    aggregate output; at 100 TB partition by a region/segment key or use
    approx_percentile cutpoints instead of a global sort.
    """
    from .relational import customer_summary, retail_base

    summary = customer_summary(retail_base(spark, sf_dir))
    w = Window.orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
    return summary.select(
        "c_custkey",
        "total_spent",
        F.ntile(4).over(w).cast("int").alias("spend_quartile"),
        F.round(F.percent_rank().over(w) + F.lit(1e-8), 6).alias("pct_rank"),
        F.dense_rank().over(w).cast("int").alias("dense_rnk"),
        F.round(F.cume_dist().over(w) + F.lit(1e-8), 6).alias("cume"),
    )


def customer_spend_deciles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-safe twin of :func:`customer_spend_distribution`: decile
    assignment WITHOUT a global un-partitioned window.

    One scalar aggregate computes the 9 exact decile cutpoints
    (``percentile`` — linear interpolation, the same semantics as DuckDB's
    ``quantile_cont``, parity already proven by ``events_type_percentiles``),
    broadcast back; each row's decile is "1 + number of cutpoints strictly
    below it" — a codegen array filter.  The plan is two scans + one
    broadcast: no row ever passes through a single-partition sort, so the
    operator scales with the summary table instead of serializing on one
    task.  Cutpoints are rounded to 2dp (money policy) on BOTH engines so
    boundary ties are decided identically.
    """
    from .relational import customer_summary, retail_base

    # Two consumers (cutpoint agg + decile projection) and no Catalyst
    # subplan reuse: pin the |customers|-sized summary so the fact-table
    # join/agg underneath runs once.
    summary = customer_summary(retail_base(spark, sf_dir)).transform(pin)
    cuts = summary.agg(
        F.expr(
            "transform(percentile(total_spent,"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)),"
            " c -> round(c + 1e-6, 2))"
        ).alias("cuts")
    )
    return summary.crossJoin(F.broadcast(cuts)).select(
        "c_custkey",
        "total_spent",
        (
            F.lit(1)
            + F.expr("size(filter(cuts, c -> c < total_spent))")
        ).cast("int").alias("spend_decile"),
    )
