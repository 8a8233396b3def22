"""Multi-way star-schema analytics — TPC-H-shaped queries over the driver
tables (beyond the reference surface: SURVEY.md §2.4 has only single-key
equi-joins on CustomerID; these exercise broadcast-dim join CHAINS, the
bread-and-butter plan shape at 100 TB).

Plan-shape intent per query (asserted in tests/test_plan_shapes.py):

* pricing_summary — pure scan→filter→partial/final hash agg on a 2×2-value
  key; the shipdate filter must reach the parquet scan (PushedFilters), no
  join at all.  The canonical "does partial aggregation work" probe.
* shipping_priority — big⋈big (orders⋈lineitem) shuffled on orderkey, with
  the FILTERED customer segment (1/5 of customers) broadcast; top-10 via
  orderBy+limit plans TakeOrderedAndProject, never a global sort.
* local_supplier_volume — 6-table chain; region(5)⋈nation(25)⋈supplier
  are broadcast so the only shuffles are the orders⋈lineitem equi-join and
  the final 25-group agg.  The c_nationkey = s_nationkey predicate is a
  post-join filter, exactly as TPC-H Q5 specifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round2, round4
from ..session import pin
from ..sources.readers import load_table

#: Predicate constants (testdata dates span 1995-01..2001-11, 5 segments,
#: 5 regions — TESTDATA.md).
PRICING_CUTOFF = "1999-12-31"
SHIP_SEGMENT = "BUILDING"
SHIP_DATE = "1998-06-01"
VOLUME_REGION = "ASIA"
VOLUME_START = "1996-01-01"
VOLUME_END = "1999-01-01"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped pricing report over lineitem with a shipdate
    cutoff.  All aggregates are Catalyst built-ins → one partial/final
    HashAggregate pair; the filter pushes into the scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            round2(F.sum("l_extendedprice")).alias("sum_base_price"),
            round2(F.sum(disc_price)).alias("sum_disc_price"),
            round2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            round4(F.avg("l_quantity")).alias("avg_qty"),
            round4(F.avg("l_extendedprice")).alias("avg_price"),
            round4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def shipping_priority(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3 shape: top-K unshipped orders by revenue for one market
    segment.  The segment filter shrinks customer 5× BEFORE the join; no
    broadcast hint — customer is SF-proportional (billions of rows at
    100 TB) so AQE's size-based choice must stay in charge (broadcast at
    test SF, shuffle at scale).  orderBy+limit gives TakeOrderedAndProject
    (per-partition top-K, no global sort).  Ties broken by o_orderkey so the
    K-boundary is deterministic cross-engine."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == SHIP_SEGMENT)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(SHIP_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(SHIP_DATE).cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            round2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(k)
    )


def big_spender_order_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (existence filter, no fan-out): orders whose customer
    has a high account balance, summarized by priority.  Semi-join is the
    right operator when the probe side only gates — an inner join would
    duplicate orders if the build side ever had duplicate keys, and carries
    the build columns through the shuffle for nothing.  No hint on the
    filtered customer key set (user-grain, SF-proportional) — AQE
    broadcasts it when small."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round2(F.sum("o_totalprice")).alias("total_value"),
        )
        .orderBy("o_orderpriority")
    )


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with NO order in the window — the
    retention / backfill-gap query shape.  Anti-join streams the big side
    through a hash lookup of the (window-filtered) order keys — no hint,
    order keys are fact-grain and AQE decides broadcast vs shuffle; the
    NOT-IN spelling would need null-safe special-casing and the EXCEPT
    spelling loses the customer's columns."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(VOLUME_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(VOLUME_END).cast("timestamp"))
        )
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: global revenue delta from a discount-band what-if.
    Scan→filter→single scalar agg — zero joins, zero shuffles beyond the
    final 1-row reduce.  The three range predicates (date band, discount
    band, quantity cap) must ALL reach the parquet scan as PushedFilters;
    this is the purest pushdown probe in the catalog and stays embarrassingly
    parallel at any scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(VOLUME_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        round2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year, both
    directions.  Only the 25-row nation dim carries a broadcast hint; the
    nation-filtered supplier/customer sides are SF-proportional, so AQE
    decides their join strategy.  The big shuffle is orders⋈lineitem.
    The cross-nation
    predicate keeps BOTH (supp_nation, cust_nation) orderings — a
    post-join filter over the two attached dims, exactly the Q7 spec."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("CHINA", "FRANCE")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            round2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def region_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier-nation's share of a region's revenue per
    order-year — conditional aggregation (sum(CASE)/sum) AFTER the join
    chain, so the share is computed in one pass with no self-join.  Hints
    only on the bounded region/nation dims; the customer/supplier sides
    are SF-proportional and left to AQE.  The fact-fact orders⋈lineitem
    shuffle is the only exchange that grows with data size."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    local_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cust_nationkey"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(local_nations),
        F.col("c_nationkey") == F.col("cust_nationkey"),
        "left_semi",
    ).select("c_custkey")
    supp_nation = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(VOLUME_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            round4(
                F.sum(F.when(F.col("supp_nation") == "CHINA", vol).otherwise(0.0))
                / F.sum(vol)
            ).alias("mkt_share"),
            round2(F.sum(vol)).alias("total_volume"),
        )
        .orderBy("o_year")
    )


def returned_item_losses(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: top-K customers by revenue lost to returns in a
    quarter.  The returnflag filter pushes into the lineitem scan; nation
    broadcasts onto the customer-grain aggregate (post-agg, so the dim
    attach touches |customers| rows, not |lineitem|); top-K is
    TakeOrderedAndProject with an o_custkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            round2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("c_acctbal").alias("acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(k)
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' percentage of one month's revenue.
    part is SF-proportional (no hint — AQE broadcasts it when small); the
    share is a conditional aggregate over the joined scan (sum(CASE)/sum
    in one reduce — never two queries diffed)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        round4(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
            / F.sum(vol)
        ).alias("promo_revenue_pct"),
        round2(F.sum(vol)).alias("total_revenue"),
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue.
    Instead of Q15's view-plus-rescan (two passes over the aggregate), the
    max is attached with ONE extra 1-row broadcast join: agg → scalar max →
    equality filter.  Deterministic under ties (all max suppliers emitted,
    ordered by key) — the argmax-over-aggregate pattern."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        round2(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev.max_revenue)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def large_volume_customers(
    spark: SparkSession, sf_dir: str, min_qty: float = 250.0
) -> DataFrame:
    """TPC-H Q18 shape: customers with any order above a total-quantity
    threshold.  The HAVING pre-aggregates lineitem to order grain FIRST
    (map-side combinable, shrinks the fact ~4×) and only qualifying
    orderkeys join onward — never orders⋈lineitem-raw.  At 100 TB the
    qualifying set is tiny, so AQE broadcasts it onto orders/customer."""
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            round2(F.col("o_totalprice")).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


def bracketed_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from an OR of (brand, size, quantity-band)
    brackets.  The disjunction stays ONE scan with one composite predicate —
    Catalyst pushes the common p_partkey equi-key into the join and the
    brand/size legs prune the part side (no hint — SF-proportional, AQE
    decides); three separate filtered-union queries would read the fact
    three times."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 5)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 15)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return joined.filter(bracket).agg(
        round2(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per market segment, customers with above-average
    account balance and NO orders.  The global average is one scalar
    broadcast (crossJoin of a 1-row aggregate — the SQL scalar-subquery
    plan), the "no orders" test is a LEFT ANTI against the distinct
    order-customer keys.  Anti + scalar-broadcast keeps every step linear;
    the naive NOT IN subquery spelling degrades to nested-loop under
    nulls."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    order_keys = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(order_keys, cust.c_custkey == order_keys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            round2(F.sum("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: per-nation revenue where customer and supplier share
    a nation, within one region and a date band.  Hints only on the bounded
    region/nation dims; supplier and customer are SF-proportional (broadcast
    at test SF, shuffled at 100 TB — AQE decides); orders⋈lineitem is the
    one unavoidable big shuffle."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == VOLUME_REGION
    )
    nation = load_table(spark, sf_dir, "nation")
    local_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(local_nations),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(VOLUME_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(VOLUME_END).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            round2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


#: Q4/Q13/Q17 adaptation constants (the testdata lacks TPC-H's
#: commitdate/receiptdate/container columns — the PLAN SHAPES are the
#: point; predicates are adapted to the columns that exist, TESTDATA.md).
PRIORITY_YEAR_START = "1997-01-01"
PRIORITY_YEAR_END = "1998-01-01"
DIST_EXCLUDED_PRIORITY = "1-URGENT"
SMALL_QTY_BRAND = "Brand#3"


def order_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — count orders in a date
    year having AT LEAST ONE qualifying lineitem (adapted: a returned
    line, l_returnflag = 'R'; reference Q4 uses commitdate < receiptdate,
    a column the testdata lacks).

    Plan shape: date-filtered orders LEFT SEMI JOIN the filtered lineitem
    on orderkey — the EXISTS decorrelation.  Both sides are
    fact-proportional so the semi join shuffles on orderkey (no broadcast
    hint; the semi join's build side carries only the join key), then a
    5-group partial/final agg.  At 100 TB this is the canonical
    "existence check without fanout" — a semi join can't duplicate
    orders no matter how many lines match."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(PRIORITY_YEAR_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(PRIORITY_YEAR_END).cast("timestamp"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the customer order-count distribution INCLUDING
    zero-order customers — the query shape an inner join silently gets
    wrong.  customer LEFT OUTER JOIN orders (with the order-side predicate
    in the JOIN CONDITION, not a post-filter — Q13's defining subtlety:
    a WHERE would turn the outer join back into an inner one), then
    count(o_orderkey) per customer (NULLs from the outer join count 0),
    then the histogram over counts.

    Plan shape: one outer shuffle join on custkey, two partial/final
    aggs; the second agg's input is customer-grain — tiny.  No windows,
    no collect."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey",
                                                        "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != DIST_EXCLUDED_PRIORITY),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("int").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand's
    parts — the correlated scalar subquery (l_quantity < 0.2 * the part's
    own avg quantity) DECORRELATED into a per-part aggregate joined back.

    Plan shape: filter part to the brand FIRST (bounded: one brand is
    1/25 of a dimension), semi-reduce lineitem to those parts via the
    part join, compute per-part avg over that reduced subset (identical
    result: the threshold only ever reads lines of the brand's own
    parts), join the per-part thresholds back, filter, one scalar agg.
    The threshold is 4dp-rounded (+1e-8) on BOTH engines so a boundary
    l_quantity cannot flip across summation orders.  At 100 TB the brand
    filter prunes the probe to ~4% before any shuffle; nothing here is
    corpus-quadratic."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == SMALL_QTY_BRAND)
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_lines = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).transform(pin)
    thresholds = brand_lines.groupBy("l_partkey").agg(
        round4(F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        brand_lines.join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            round2(F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


#: Q21-shape "late" threshold: a shipment more than this many days after
#: the order date counts as late (the testdata lacks commit/receipt dates,
#: so the reference's receiptdate > commitdate becomes this shared
#: constant — interpolated into the oracle too).
WAITING_LATE_DAYS = 60
WAITING_TOP_N = 20


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order — the paired EXISTS / NOT EXISTS
    correlated subqueries (another supplier participated / no other
    supplier was late), DECORRELATED into order-grain aggregates joined
    back: per (order, supplier) lateness, then per-order supplier and
    late-supplier counts, then the filter
    ``is_late ∧ n_supp ≥ 2 ∧ n_late = 1``.

    Plan shape (the Q21 lesson at 100 TB): NO correlated re-scans and NO
    fact-fact existence joins per predicate — one orderkey-grain shuffle
    produces BOTH existence facts at once, and the supplier-name attach
    happens after the supplier-grain aggregation (bounded rows) under
    AQE sizing.  The final ranking is ORDER BY + LIMIT →
    TakeOrderedAndProject."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {WAITING_LATE_DAYS} DAYS")
    )
    # (order, supplier)-grain — far smaller than lineitem — and read by
    # BOTH existence consumers below; checkpointed so the fact-fact join
    # pipeline runs once (Catalyst does not reuse common subplans — the
    # Q17 brand_lines discipline).
    per_supp_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
        .transform(pin)
    )
    per_order = per_supp_order.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    waited = per_supp_order.filter(F.col("is_late") == 1).join(
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
        "l_orderkey",
    )
    counts = waited.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        counts.join(supp, counts.l_suppkey == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(WAITING_TOP_N)
    )


#: Q19-shape disjunctive branches: (brand, size_lo, size_hi, qty_lo,
#: qty_hi) — each branch constrains BOTH join sides (part brand+size,
#: lineitem quantity).  Shared with the oracle (constants discipline).
DISJ_BRANCHES = (
    ("Brand#1", 1, 15, 1, 11),
    ("Brand#2", 10, 30, 10, 20),
    ("Brand#3", 20, 50, 20, 30),
)


def disjunctive_branch_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue under a three-branch
    DISJUNCTIVE predicate spanning both join sides (brand + size on
    part, quantity on lineitem) — the classic "OR of conjunctions"
    pattern that defeats naive per-table filtering.  Reported per branch
    (branch, n_lines, revenue) so the decomposition is visible; rows
    matching several branches land in the FIRST (CASE order, mirrored in
    the oracle).

    Plan shape (the Q19 lesson at 100 TB): the disjunction still yields
    per-table prunes — the brand set reaches the part scan as an IN
    pushed filter, and the quantity envelope (the union of branch
    ranges) reaches the lineitem scan as pushed bounds — so the join
    input is pre-reduced on BOTH sides even though no single branch can
    be applied alone.  Part carries NO broadcast hint — it is
    SF-proportional (SF·200k rows; a brand-filtered slice is still tens
    of millions of rows at the 100 TB regime), so AQE's size-based
    choice decides: broadcast at test scale, shuffle join at 100×
    (SCALE.md's hint policy).  Branch assignment is one codegen CASE
    over the joined rows feeding a map-side-combined 3-group aggregate.
    Plan-asserted in tests/test_plan_shapes.py."""
    brands = [b for b, *_ in DISJ_BRANCHES]
    qty_lo = min(lo for *_, lo, _ in DISJ_BRANCHES)
    qty_hi = max(hi for *_, hi in DISJ_BRANCHES)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(brands))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi)
        )
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    branch = None
    for i, (b, slo, shi, qlo, qhi) in enumerate(DISJ_BRANCHES, start=1):
        cond = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        branch = F.when(cond, i) if branch is None else branch.when(cond, i)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            branch.cast("int").alias("branch"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
        )
        .filter(F.col("branch").isNotNull())
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            round2(F.sum("rev")).alias("revenue"),
        )
        .orderBy("branch")
    )


#: Q2-shape constants (adapted: the testdata has no partsupp, so the
#: part-supplier cost bridge derives from lineitem — unit cost =
#: min(l_extendedprice / l_quantity) per (part, supplier).  The PLAN
#: LESSON is unchanged: a correlated scalar MIN subquery decorrelated
#: into a windowed min).  Shared with the oracle.
MINCOST_TYPE = "STANDARD"
MINCOST_SIZE_LO = 10
MINCOST_SIZE_HI = 30
MINCOST_REGION = "ASIA"
MINCOST_TOP_N = 20


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for every qualifying part (type + size band), the
    supplier(s) in one region offering it at the MINIMUM unit cost —
    TPC-H's correlated scalar subquery
    (``ps_supplycost = (SELECT min(ps_supplycost) ... WHERE ps_partkey =
    p_partkey AND <region>)``), DECORRELATED the way a 100 TB engine
    must run it: the region/type/size gates apply FIRST (broadcast dim
    chain prunes the fact scan), per-(part, supplier) unit costs come
    from ONE grouped aggregate over the single lineitem scan, and the
    per-part minimum is a window min over that already-aggregated
    bounded grain — never a re-scan per part.

    Plan shape (asserted): exactly one lineitem scan; nation/region are
    hinted broadcasts (25/5 rows, SF-invariant); part and supplier carry
    NO hint — both are SF-proportional (SF·200k / SF·10k rows), so AQE's
    size-based choice decides (broadcast at test scale, shuffle join at
    100 TB — SCALE.md's hint policy).  The dim ATTRIBUTES (p_brand,
    s_name, s_acctbal, n_name) ride the gate joins and the aggregate
    (max() over a functionally-dependent column — every row of a
    (part, supplier) group carries the same value), so there is NO
    post-window re-join: the only shuffles after the gates are the
    (part, supplier) aggregate and the part-grain window; final ranking
    ORDER BY + LIMIT → TakeOrderedAndProject.  Ties at the minimum keep
    every supplier (Q2 semantics); the output order
    (acctbal desc, name, partkey) is total, so the LIMIT is
    deterministic."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") == MINCOST_TYPE)
            & F.col("p_size").between(MINCOST_SIZE_LO, MINCOST_SIZE_HI)
        )
        .select("p_partkey", "p_brand")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == MINCOST_REGION
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    offers = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            round4(
                F.min(F.col("l_extendedprice") / F.col("l_quantity"))
            ).alias("min_cost"),
            F.max("p_brand").alias("p_brand"),
            F.max("s_name").alias("s_name"),
            F.max("s_acctbal").alias("s_acctbal"),
            F.max("n_name").alias("n_name"),
        )
    )
    w = Window.partitionBy("l_partkey")
    best = offers.withColumn(
        "part_min", F.min("min_cost").over(w)
    ).filter(F.col("min_cost") == F.col("part_min"))
    return (
        best.select(
            round2(F.col("s_acctbal")).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "min_cost",
        )
        .orderBy(F.desc("s_acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(MINCOST_TOP_N)
    )


#: Q20-shape constants (adapted: no partsupp/availqty, so "stocking more
#: than half a year's shipments" becomes "recent shipments exceed half
#: of all-time shipments" — the same correlated half-sum threshold
#: comparing two scopes of the same fact).  Shared with the oracle.
PROMO_PART_TYPE = "PROMO"
PROMO_RECENT_START = "1999-01-01"
PROMO_REGION = "EUROPE"


def promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one region leaning into promo-type
    parts — TPC-H's nested IN/EXISTS chain (``s_suppkey IN (... WHERE
    ps_partkey IN (...) AND ps_availqty > 0.5 * (SELECT sum(l_quantity)
    ...))``), DECORRELATED: the part IN-list and the region-filtered
    supplier set are equi-join gates on the single lineitem scan (no
    hints — both are SF-proportional, AQE picks broadcast at test scale
    and a shuffle join at 100 TB); the correlated half-sum threshold
    — two aggregates of the same fact at different scopes — computes in
    ONE grouped pass with conditional sums (recent window vs all time)
    per (supplier, part); qualifying pairs collapse per supplier.  The
    supplier ATTRIBUTES (s_name, s_acctbal, n_name) ride the gate join
    and both aggregates (max() over functionally-dependent columns), so
    no post-aggregate re-join is needed.

    Plan shape (asserted): exactly one lineitem scan, no per-row
    subquery, no second pass for the inner SUM; output is supplier-grain
    (s_name, n_name, s_acctbal, n_promo_parts, recent_qty), ordered by
    s_name."""
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == PROMO_PART_TYPE)
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == PROMO_REGION
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    recent = F.col("l_shipdate") >= F.lit(PROMO_RECENT_START).cast(
        "timestamp"
    )
    per_pair = (
        li.join(parts, li.l_partkey == F.col("p_partkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(recent, F.col("l_quantity")).otherwise(0.0)).alias(
                "recent_qty"
            ),
            F.sum("l_quantity").alias("total_qty"),
            F.max("s_name").alias("s_name"),
            F.max("s_acctbal").alias("s_acctbal"),
            F.max("n_name").alias("n_name"),
        )
        .filter(F.col("recent_qty") > 0.5 * F.col("total_qty"))
    )
    qual = per_pair.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("int").alias("n_promo_parts"),
        round2(F.sum("recent_qty")).alias("recent_qty"),
        F.max("s_name").alias("s_name"),
        F.max("s_acctbal").alias("s_acctbal"),
        F.max("n_name").alias("n_name"),
    )
    return qual.select(
        "s_name",
        "n_name",
        round2(F.col("s_acctbal")).alias("s_acctbal"),
        "n_promo_parts",
        "recent_qty",
    ).orderBy("s_name")
