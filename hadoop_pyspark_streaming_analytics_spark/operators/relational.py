"""Relational operators (SURVEY.md §2.4 joins J1-J3, §2.5 aggs A1-A13,
§2.7 sorts O1-O4) transplanted onto the driver star schema.

Mapping (FIXTURES.md §1): customer↔CustomerID, o_orderkey↔InvoiceNo,
l_partkey↔StockCode, line amount = l_extendedprice*(1-l_discount).

Scale notes baked into the plans:
- the orders↔lineitem join keys both sides on the order key; at 100 TB both
  tables would be bucketed/partitioned on it so the join is co-located.
- per-customer aggregation shuffles once on the customer key; partial
  aggregation (map-side combine) is automatic for sum/count.
- ``countDistinct`` is exact here for oracle parity; the scale escape hatch
  is ``approx_count_distinct`` (exposed in agg_customer_orders_approx).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table
from ..functions.rounding import round2
from .cleaning import star_clean_predicates

# ---------------------------------------------------------------------------
# Base: cleaned order lines (scan → filter → project; A1's input)
# ---------------------------------------------------------------------------


def retail_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned order-line base table: lineitem ⋈ orders with the P1-P4
    cleaning pipeline and the computed line amount (P5,
    q2_ecommerce_analysis.py:89-91).

    Only the five columns downstream operators need are selected, so the
    parquet scan prunes to them (ReadSchema) and every filter pushes down.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    base = lineitem.alias("l").join(
        orders.alias("o"), F.col("l.l_orderkey") == F.col("o.o_orderkey"), "inner"
    )
    for p in star_clean_predicates():
        base = base.filter(p)
    return base.select(
        F.col("o.o_custkey").alias("c_custkey"),
        F.col("l.l_orderkey").alias("l_orderkey"),
        F.col("l.l_partkey").alias("l_partkey"),
        F.col("l.l_linenumber").alias("l_linenumber"),
        F.col("o.o_orderdate").alias("o_orderdate"),
        (F.col("l.l_extendedprice") * (1 - F.col("l.l_discount"))).alias("amount"),
    )


# ---------------------------------------------------------------------------
# A1/A2/A3/A4: two-level aggregation (order level → customer level)
# ---------------------------------------------------------------------------


def order_values(base: DataFrame) -> DataFrame:
    """Order-level aggregation — the semantic intermediate the reference
    computes first (A1, q2_ecommerce_analysis.py:94-101)."""
    return base.groupBy("c_custkey", "l_orderkey").agg(
        F.sum("amount").alias("order_value")
    )


def customer_summary(base: DataFrame) -> DataFrame:
    """Customer-level rollup of order values (A1-A4,
    q2_ecommerce_analysis.py:103-112): exact distinct order count, rounded
    total spend, derived average order value."""
    ov = order_values(base)
    return (
        ov.groupBy("c_custkey")
        .agg(
            # A2: distinct order count.  ov is grouped by (c_custkey,
            # l_orderkey), so every orderkey is unique within its customer
            # group — count(1) ≡ countDistinct(l_orderkey) but skips the
            # Expand + second distinct-agg pass (one shuffle saved; the
            # true countDistinct shape lives in top_product_per_customer
            # and product_statistics where lines repeat per key).
            F.count(F.lit(1)).alias("num_orders"),
            round2(F.sum("order_value")).alias("total_spent"),  # A3
        )
        .withColumn(  # A4: derived ratio after the agg
            "avg_order_value",
            round2(F.col("total_spent") / F.col("num_orders")),
        )
    )


def agg_customer_orders_approx(base: DataFrame, rsd: float = 0.05) -> DataFrame:
    """Scale variant of A2: HLL-sketched distinct order count.  At 100 TB an
    exact countDistinct forces a second shuffle-heavy expand; the sketch is
    one pass, mergeable, and bounded-memory."""
    return base.groupBy("c_custkey").agg(
        F.approx_count_distinct("l_orderkey", rsd).alias("approx_num_orders")
    )


# ---------------------------------------------------------------------------
# A5/A6 + W1 + J1: top product per customer
# ---------------------------------------------------------------------------


def top_product_per_customer(base: DataFrame) -> DataFrame:
    """Most-frequent product per customer with spend tiebreak (A5+W1+A6,
    q2_ecommerce_analysis.py:116-137).

    The reference ranks by (frequency desc, spend desc) and collapses rank-1
    ties with a nondeterministic ``first()``; we add ``l_partkey`` as the
    final tiebreak so the winner is total-ordered and oracle-reproducible
    (SURVEY.md §7 "tie nondeterminism").  Spend is rounded before ranking so
    double summation-order noise cannot flip the comparison across engines.
    """
    prod = base.groupBy("c_custkey", "l_partkey").agg(
        F.countDistinct("l_orderkey").alias("order_frequency"),  # A5
        round2(F.sum("amount")).alias("product_total_spent"),
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("order_frequency").desc(),
        F.col("product_total_spent").desc(),
        F.col("l_partkey").asc(),
    )
    return (
        prod.withColumn("rank", F.rank().over(w))  # W1
        .filter(F.col("rank") == 1)  # P8
        .groupBy("c_custkey")
        .agg(F.first("l_partkey").alias("top_product"))  # A6 (now deterministic)
    )


def customer_summary_with_top_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: Q2 Part A semantics end-to-end (q2_ecommerce_analysis.py:73-143)
    — scan → filter → project → two-level agg → rank window → left join (J1).

    The join's right side is one row per customer; at 100 TB both sides are
    customer-keyed so AQE plans a shuffle-free or broadcast join.
    """
    base = retail_base(spark, sf_dir)
    return customer_summary(base).join(
        top_product_per_customer(base), on="c_custkey", how="left"  # J1
    )


# ---------------------------------------------------------------------------
# bonus.py: frequent-customer derivation + inner-vs-left join contrast
# ---------------------------------------------------------------------------


def frequent_customers(summary: DataFrame, min_orders: int = 5) -> DataFrame:
    """P11 (bonus.py:99-107): threshold filter + constant tag column."""
    return (
        summary.filter(F.col("num_orders") >= min_orders)
        .select("c_custkey")
        .withColumn("customer_type", F.lit("frequent"))  # F6
    )


def join_summary_frequent(
    summary: DataFrame, frequent: DataFrame, how: str
) -> DataFrame:
    """J2/J3 (bonus.py:135,139): the documented inner-vs-left contrast.
    ``frequent`` is a thin one-column+tag table — broadcast-sized at any
    scale, and Spark's planner broadcasts it without hints."""
    return summary.join(frequent, on="c_custkey", how=how)


# ---------------------------------------------------------------------------
# A11-A13: scalar/global aggregates and threshold counting
# ---------------------------------------------------------------------------


def order_count_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (q2_ecommerce_analysis.py:241-249): group-max then threshold
    counting — single- vs multi-order customers, plus totals, in ONE pass.

    The reference runs two filter+count actions over a window output; here
    it's one aggregation with conditional counts (no re-scan, no window).
    """
    base = retail_base(spark, sf_dir)
    per_cust = base.groupBy("c_custkey").agg(
        F.countDistinct("l_orderkey").alias("num_orders")
    )
    return per_cust.agg(
        F.count(F.when(F.col("num_orders") == 1, 1)).alias("single_order_customers"),
        F.count(F.when(F.col("num_orders") > 1, 1)).alias("multi_order_customers"),
        F.count(F.lit(1)).alias("total_customers"),
        round2(F.avg("num_orders")).alias("avg_orders_per_customer"),
    )


def top_customers_by_spend(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """O2-style top-K (q1_reducer.py:53-57 shape): orderBy+limit plans as
    TakeOrderedAndProject — per-partition heaps then a K-row merge on the
    driver; no global sort at any scale."""
    base = retail_base(spark, sf_dir)
    return (
        customer_summary(base)
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    version_col: str | None = None,
) -> DataFrame:
    """Batch MERGE (upsert): rows in ``updates`` replace same-key rows in
    ``target``; unmatched update rows insert; unmatched target rows
    survive — the CDC-apply step, as a pure DataFrame transform (no table
    format required; pair with an overwrite of the affected partitions).

    Duplicate keys inside ``updates`` — the normal CDC case, one batch
    carrying several versions of a row — resolve LAST-WRITER-WINS when
    ``version_col`` names a monotone sequence/timestamp column (max_by
    per key over struct(version, all columns): one map-side-combinable
    aggregate, no window sort).  Without ``version_col`` the caller must
    pre-dedup: duplicate update rows pass through as duplicate output
    rows, which is not MERGE semantics.

    Planned as target LEFT ANTI updates (drop stale versions) UNION ALL
    updates: one existence-probe join instead of a full-outer join with
    per-column coalesce (which shuffles BOTH sides and rewrites every
    column expression).  No broadcast hint on the update-key probe: AQE
    broadcasts it at runtime when the batch is small (the CDC norm) and
    falls back to a shuffle join for bulk backfills, where a hard-coded
    hint would OOM."""
    if version_col is not None:
        cols = updates.columns
        updates = (
            updates.groupBy(key)
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols if c != key]),
                    F.col(version_col),
                ).alias("__latest")
            )
            .select(key, "__latest.*")
            .select(*cols)
        )
    return target.join(updates.select(key), key, "left_anti").unionByName(
        updates
    )


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit across the star schema: count rows whose FK has
    no parent — the load-validation every warehouse runs after ingest.
    Each check is one ANTI existence probe of the thin, distinct
    parent-key set; long-format output (check, n_violations).  No
    broadcast hints: the parent sides (orders/customer/part) are
    SF-proportional, so AQE keeps the broadcast-vs-shuffle choice —
    a forced hint on a billions-of-keys parent would OOM at 100 TB."""
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def count_orphans(child, fk, parent, pk):
        return child.join(
            parent.select(F.col(pk).alias(fk)).distinct(),
            fk,
            "left_anti",
        ).count()

    rows = [
        ("lineitem.l_orderkey -> orders", count_orphans(li, "l_orderkey", orders, "o_orderkey")),
        ("lineitem.l_partkey -> part", count_orphans(li, "l_partkey", part, "p_partkey")),
        ("orders.o_custkey -> customer", count_orphans(
            orders.filter(F.col("o_custkey").isNotNull()), "o_custkey", cust, "c_custkey")),
    ]
    return spark.createDataFrame(rows, "fk_check string, n_violations bigint")


def segment_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution per market segment — ratio-to-report:
    one grouped sum plus a broadcast of the scalar total (NOT an
    un-partitioned window over the detail rows; the ratio divides two
    aggregates, so the fact table shuffles once).  The customer attach
    carries no hint (user-grain, SF-proportional — AQE decides); only the
    1-row grand total keeps its broadcast."""
    from ..sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    seg = (
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice") + F.lit(1e-6), 2).alias("segment_total"))
        # Two consumers (the grand total + the final ratio join) over a
        # segment-grain frame — checkpoint-pinned so the orders x
        # customer join runs once, not per consumer (round-15 census:
        # the unpinned plan scanned both tables twice).
        .transform(pin)
    )
    total = seg.agg(F.sum("segment_total").alias("grand_total"))
    return seg.crossJoin(F.broadcast(total)).select(
        "c_mktsegment",
        "segment_total",
        F.round(
            F.col("segment_total") / F.col("grand_total") * 100 + F.lit(1e-8), 4
        ).alias("pct_of_total"),
    )


def revenue_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT decimal money aggregation — SURVEY §7's "DecimalType is the
    100 TB-correct choice" made runnable: cents-valued doubles cast to
    DECIMAL at the scan, discount applied in decimal arithmetic, sums
    exact.  NO rounding nudge appears anywhere in this query or its
    oracle — the hash match holds because decimal arithmetic is
    deterministic, which is precisely the property the float tier's
    +1e-6 policy exists to paper over.  At 100 TB this is how money
    columns should be stored and aggregated."""
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    # Aggregation runs EXACT in decimal; only the final one-per-group sums
    # cast to double for a comparator-portable presentation (the same
    # exact decimal converts to the same double on every engine).
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("double").alias("gross_revenue"),
        F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc))
        .cast("double")
        .alias("net_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
