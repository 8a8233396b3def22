"""Query catalog: every implemented operator from SURVEY.md §2 as a named
(spark_builder, duckdb_oracle_sql) pair — the driver contract surface.

Naming rule (driver compare sorts columns by NAME before hashing): every
computed/aggregate column is aliased identically in the Spark plan and the
oracle SQL.  Types are cast in the oracle where DuckDB's natural type
differs from Spark's (rank/length/datediff → INTEGER).

Float policy: sums/avgs of noisy doubles are rounded (money → 2dp,
measurements → 4dp) on BOTH sides so summation-order noise cannot break the
value hash; min/max/counts and sums of integral doubles are exact and left
unrounded (SURVEY.md §7 "rounding parity").
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import categorize_pandas_udf, categorize_python_udf
from ..operators import (
    intervals,
    nested,
    relational,
    setops,
    skew,
    star,
    temporal,
    text,
    timeseries,
    windows,
)
from ..operators.relational import retail_base
from ..session import pin
from ..sources.readers import load_table
from ..streaming import queries as stream_q

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # included in bench.py
    tags: tuple[str, ...] = field(default=())


# ---------------------------------------------------------------------------
# Shared oracle SQL fragments
# ---------------------------------------------------------------------------

# Mirrors operators/relational.py:retail_base (cleaning P1-P4 + projection).
SQL_BASE = """
base AS (
  SELECT o.o_custkey AS c_custkey, l.l_orderkey AS l_orderkey,
         l.l_partkey AS l_partkey, l.l_linenumber AS l_linenumber,
         o.o_orderdate AS o_orderdate,
         l.l_extendedprice * (1 - l.l_discount) AS amount
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_quantity > 0 AND l.l_extendedprice > 0
    AND o.o_orderstatus NOT LIKE 'C%' AND o.o_orderdate IS NOT NULL
)"""

SQL_CUST_SUMMARY = """
ov AS (
  SELECT c_custkey, l_orderkey, sum(amount) AS order_value
  FROM base GROUP BY 1, 2
),
cust AS (
  SELECT c_custkey, count(DISTINCT l_orderkey) AS num_orders,
         round(sum(order_value) + 1e-6, 2) AS total_spent
  FROM ov GROUP BY 1
),
summary AS (
  SELECT c_custkey, num_orders, total_spent,
         round(total_spent / num_orders + 1e-6, 2) AS avg_order_value
  FROM cust
)"""

# Mirrors operators/windows.py:customer_orders_window.
SQL_Q2B = f"""
WITH {SQL_BASE},
lines AS (
  SELECT base.*,
         first_value(l_partkey) OVER w AS first_product,
         last_value(l_partkey) OVER w AS last_product
  FROM base
  WINDOW w AS (
    PARTITION BY c_custkey
    ORDER BY o_orderdate, l_orderkey, l_linenumber, l_partkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
ord AS (
  SELECT c_custkey, l_orderkey, o_orderdate, first_product, last_product,
         round(sum(amount) + 1e-6, 2) AS order_value
  FROM lines GROUP BY 1, 2, 3, 4, 5
)
SELECT c_custkey, l_orderkey, o_orderdate, first_product, last_product,
       order_value,
       CAST(rank() OVER (PARTITION BY c_custkey ORDER BY o_orderdate)
            AS INTEGER) AS order_number,
       CAST(date_diff('day',
            CAST(lag(o_orderdate) OVER (PARTITION BY c_custkey
                 ORDER BY o_orderdate, l_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS INTEGER) AS days_between_orders
FROM ord"""

SQL_TOKENS = """
tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
words AS (
  SELECT word FROM tok WHERE word NOT IN ('the', 'is', 'an', 'a', 'are')
)"""


def _summary_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.customer_summary(retail_base(spark, sf_dir))


def _profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import profile_events

    return profile_events(spark, sf_dir)


def _merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply demo over the customer dim: every 10th customer gets a
    segment update plus a key-shifted insert; merge_upsert applies both."""
    cust = load_table(spark, sf_dir, "customer")
    # The synthesized CDC batch is consumed twice by merge_upsert (the
    # anti-join key probe + the union) and its ``tenth`` base twice
    # within the batch itself — unpinned, the plan re-scanned customer
    # FIVE times (round-15 census).  Materializing the batch before the
    # MERGE is exactly what table-format MERGE does with its source;
    # post-pin the plan scans customer twice (target + the batch build).
    tenth = cust.filter(F.col("c_custkey") % 10 == 0).transform(pin)
    updates = tenth.withColumn("c_mktsegment", F.lit("UPDATED")).unionByName(
        tenth.withColumn(
            "c_custkey", F.col("c_custkey") + 10_000_000
        ).withColumn("c_mktsegment", F.lit("INSERTED"))
    )
    return relational.merge_upsert(cust, updates, "c_custkey")


def _bonus_join(how: str) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        summary = _summary_df(spark, sf_dir)
        freq = relational.frequent_customers(summary, min_orders=5)
        return relational.join_summary_frequent(summary, freq, how)

    return build


def _bonus_join_sql(how: str) -> str:
    return f"""
WITH {SQL_BASE},{SQL_CUST_SUMMARY},
frequent AS (
  SELECT c_custkey, 'frequent' AS customer_type
  FROM summary WHERE num_orders >= 5
)
SELECT s.c_custkey, s.num_orders, s.total_spent, s.avg_order_value,
       f.customer_type
FROM summary s {how.upper()} JOIN frequent f USING (c_custkey)"""


def _categorize(fn) -> Builder:
    """U1 (bonus.py:51-80): order-size categories over order values,
    aggregated to category counts for a stable comparison surface."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        ov = relational.order_values(retail_base(spark, sf_dir))
        return (
            ov.withColumn("order_size_category", fn(F.round(F.col("order_value"), 2)))
            .groupBy("order_size_category")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("order_value"), 2).alias("category_total"),
            )
        )

    return build


SQL_CATEGORIZE = f"""
WITH {SQL_BASE},
ov AS (
  SELECT c_custkey, l_orderkey, sum(amount) AS order_value
  FROM base GROUP BY 1, 2
),
cat AS (
  SELECT order_value,
         CASE WHEN round(order_value, 2) IS NULL THEN 'Unknown'
              WHEN round(order_value, 2) < 50 THEN 'Small'
              WHEN round(order_value, 2) <= 200 THEN 'Medium'
              ELSE 'Large' END AS order_size_category
  FROM ov
)
SELECT order_size_category, count(*) AS cnt,
       round(sum(order_value) + 1e-6, 2) AS category_total
FROM cat GROUP BY 1"""


def _pivot_sql() -> str:
    cols = ",\n       ".join(
        f"COALESCE(sum(CASE WHEN p.p_brand = 'Brand#{i}' THEN l.l_quantity END), 0)"
        f" AS brand_{i}"
        for i in range(1, 26)
    )
    return f"""
SELECT o.o_custkey AS customer_id,
       {cols},
       sum(l.l_quantity) AS total_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1"""


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------

CATALOG: list[QuerySpec] = [
    # --- Q2 Part A: flagship (S1,P1-P5,A1-A6,W1,J1,O1) ---
    QuerySpec(
        "q2a_customer_summary",
        relational.customer_summary_with_top_product,
        f"""
WITH {SQL_BASE},{SQL_CUST_SUMMARY},
prod AS (
  SELECT c_custkey, l_partkey,
         count(DISTINCT l_orderkey) AS order_frequency,
         round(sum(amount) + 1e-6, 2) AS product_total_spent
  FROM base GROUP BY 1, 2
),
ranked AS (
  SELECT c_custkey, l_partkey,
         rank() OVER (PARTITION BY c_custkey
                      ORDER BY order_frequency DESC,
                               product_total_spent DESC, l_partkey) AS rk
  FROM prod
),
top AS (SELECT c_custkey, l_partkey AS top_product FROM ranked WHERE rk = 1)
SELECT s.c_custkey, s.num_orders, s.total_spent, s.avg_order_value,
       t.top_product
FROM summary s LEFT JOIN top t USING (c_custkey)""",
        headline=True,
        tags=("q2", "flagship"),
    ),
    # --- Q2 Part B: windows (W2-W5,P7,P10,A11) ---
    QuerySpec(
        "q2b_customer_orders_window",
        windows.customer_orders_window,
        SQL_Q2B,
        headline=True,
        tags=("q2", "window"),
    ),
    QuerySpec(
        "q2b_avg_days_between_orders",
        windows.avg_days_between_orders,
        f"""
WITH q2b AS ({SQL_Q2B})
SELECT round(avg(days_between_orders) + 1e-6, 2) AS avg_days_between_orders
FROM q2b WHERE days_between_orders IS NOT NULL""",
        tags=("q2", "window"),
    ),
    QuerySpec(
        "q2_spend_distribution",
        windows.customer_spend_distribution,
        f"""
WITH {SQL_BASE},{SQL_CUST_SUMMARY}
SELECT c_custkey, total_spent,
       CAST(ntile(4) OVER w AS INTEGER) AS spend_quartile,
       round(percent_rank() OVER w + 1e-8, 6) AS pct_rank,
       CAST(dense_rank() OVER w AS INTEGER) AS dense_rnk,
       round(cume_dist() OVER w + 1e-8, 6) AS cume
FROM summary
WINDOW w AS (ORDER BY total_spent DESC, c_custkey)""",
        tags=("q2", "window", "distribution"),
    ),
    QuerySpec(
        "q2_spend_deciles_scalable",
        windows.customer_spend_deciles_scalable,
        f"""
WITH {SQL_BASE},{SQL_CUST_SUMMARY},
cuts AS (
  SELECT list_transform(
           quantile_cont(total_spent,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           c -> round(c + 1e-6, 2)) AS cuts
  FROM summary
)
SELECT c_custkey, total_spent,
       CAST(1 + len(list_filter(cuts.cuts, c -> c < total_spent)) AS INTEGER)
         AS spend_decile
FROM summary, cuts""",
        tags=("q2", "distribution", "scale-variant"),
    ),
    QuerySpec(
        "q2_order_count_thresholds",
        relational.order_count_thresholds,
        f"""
WITH {SQL_BASE},
pc AS (
  SELECT c_custkey, count(DISTINCT l_orderkey) AS num_orders
  FROM base GROUP BY 1
)
SELECT count(*) FILTER (num_orders = 1) AS single_order_customers,
       count(*) FILTER (num_orders > 1) AS multi_order_customers,
       count(*) AS total_customers,
       round(avg(num_orders) + 1e-6, 2) AS avg_orders_per_customer
FROM pc""",
        tags=("q2",),
    ),
    QuerySpec(
        "q2_top_customers_by_spend",
        relational.top_customers_by_spend,
        f"""
WITH {SQL_BASE},{SQL_CUST_SUMMARY}
SELECT c_custkey, num_orders, total_spent, avg_order_value
FROM summary ORDER BY total_spent DESC, c_custkey LIMIT 20""",
        tags=("q2", "topk"),
    ),
    # --- bonus: UDF tiers (U1) + inner/left join contrast (J2/J3,P11,F6) ---
    # (the expr tier's near-twin entry bonus_categorize_expr was retired
    # round 14 — the r13 VERDICT's standing retirement reserve.  The
    # categorize_expr FUNCTION stays the U1 Catalyst face, exercised by
    # tests/test_reference_shapes.py and test_properties.py; the udf
    # twins below keep the surface driver-covered, sharing the same
    # SQL_CATEGORIZE oracle that gated the expr spelling green r11.)
    QuerySpec(
        "bonus_categorize_python_udf",
        _categorize(categorize_python_udf),
        SQL_CATEGORIZE,
        tags=("bonus", "udf"),
    ),
    QuerySpec(
        "bonus_categorize_pandas_udf",
        _categorize(categorize_pandas_udf),
        SQL_CATEGORIZE,
        tags=("bonus", "udf"),
    ),
    QuerySpec(
        "bonus_inner_join",
        _bonus_join("inner"),
        _bonus_join_sql("inner"),
        tags=("bonus", "join"),
    ),
    QuerySpec(
        "bonus_left_join",
        _bonus_join("left"),
        _bonus_join_sql("left"),
        tags=("bonus", "join"),
    ),
    # --- Q3: nested documents (F7/F8,A7-A10) ---
    QuerySpec(
        "q3a_product_statistics",
        nested.product_statistics,
        """
SELECT l.l_partkey AS product_id, p.p_name AS product_name,
       sum(l.l_quantity) AS total_quantity,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2) AS total_revenue,
       count(DISTINCT l.l_orderkey) AS num_orders
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2""",
        headline=True,
        tags=("q3", "nested"),
    ),
    QuerySpec(
        "q3b_customer_brand_pivot",
        nested.customer_brand_pivot,
        _pivot_sql(),
        headline=True,
        tags=("q3", "pivot"),
    ),
    # --- Q1: word statistics (F11-F13,P9,A14-A16,O2,O4) ---
    QuerySpec(
        "q1_word_count_top20",
        text.word_count_topk,
        f"""
WITH {SQL_TOKENS}
SELECT word, count(*) AS cnt FROM words
GROUP BY 1 ORDER BY cnt DESC, word LIMIT 20""",
        headline=True,
        tags=("q1", "text"),
    ),
    QuerySpec(
        "q1_word_length_histogram",
        text.word_length_histogram,
        f"""
WITH {SQL_TOKENS}
SELECT CAST(length(word) AS INTEGER) AS length, count(*) AS cnt
FROM words GROUP BY 1""",
        tags=("q1", "text"),
    ),
    QuerySpec(
        "q1_corpus_stats",
        text.corpus_stats,
        f"""
WITH {SQL_TOKENS}
SELECT count(*) AS total_words, count(DISTINCT word) AS unique_words,
       round(avg(length(word)) + 1e-6, 2) AS avg_word_length
FROM words""",
        tags=("q1", "text"),
    ),
]


# ---------------------------------------------------------------------------
# Streaming batch-twins (T1-T4): the SAME builder functions used by the
# Structured Streaming module, compiled over the batch `events` table — the
# incremental-query equivalence Structured Streaming is built on.  The real
# streaming execution (file source → memory sink, watermarks, triggers) is
# exercised in tests/test_streaming.py.
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_events

    return load_events(spark, sf_dir).withColumn("event_time", F.col("ts"))


def _events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_q.running_sensor_stats(
        _events(spark, sf_dir), key_col="user_id", value_col="value"
    )


def _events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_q.tumbling_window_stats(_events(spark, sf_dir), value_col="value")


def _events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_q.sliding_window_max(
        _events(spark, sf_dir), key_col="user_id", value_col="value"
    )


CATALOG += [
    QuerySpec(
        "events_running_stats",
        _events_running,
        """
SELECT user_id, round(avg(value) + 1e-8, 4) AS avg_value,
       count(*) AS reading_count, min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY 1""",
        tags=("q4", "streaming-twin"),
    ),
    QuerySpec(
        "events_tumbling_5min",
        _events_tumbling,
        """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes'
         AS window_end,
       round(avg(value) + 1e-8, 4) AS avg_value, count(*) AS reading_count
FROM events GROUP BY 1, 2""",
        headline=True,
        tags=("q4", "streaming-twin", "window"),
    ),
    QuerySpec(
        "events_sliding_10min_5min",
        _events_sliding,
        """
WITH offs AS (SELECT unnest([0, 1]) AS k),
slid AS (
  SELECT e.user_id, e.value,
         time_bucket(INTERVAL '5 minutes', e.ts)
           - to_minutes(5 * o.k) AS window_start
  FROM events e CROSS JOIN offs o
)
SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
       user_id, max(value) AS max_value, count(*) AS reading_count
FROM slid GROUP BY 1, 2, 3""",
        headline=True,
        tags=("q4", "streaming-twin", "window"),
    ),
]


# ---------------------------------------------------------------------------
# Time-series / training-pipeline extensions (operators/timeseries.py):
# rollup grouping sets, native session windows, exact percentiles, top-K per
# group, JSON path extraction — shapes a 100 TB pipeline needs that the
# reference lacks (SURVEY.md §2.5 "not present" list).
# ---------------------------------------------------------------------------

CATALOG += [
    QuerySpec(
        "events_hourly_rollup",
        timeseries.hourly_rollup,
        """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, value FROM events
)
SELECT event_type, hour,
       CAST(GROUPING(event_type, hour) AS INTEGER) AS grouping_level,
       count(*) AS cnt, round(sum(value) + 1e-6, 2) AS total_value,
       round(avg(value) + 1e-8, 4) AS avg_value
FROM ev GROUP BY ROLLUP (event_type, hour)""",
        headline=True,
        tags=("timeseries", "rollup"),
    ),
    QuerySpec(
        "events_user_sessions",
        timeseries.user_sessions,
        """
WITH flagged AS (
  SELECT user_id, ts, value,
         -- strictly-greater: Spark's session_window merges ADJACENT
         -- ranges (an event exactly gap after the last still continues
         -- the session — ADVICE r9; pinned in test_intervals.py)
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS last_event,
       count(*) AS n_events, round(sum(value) + 1e-6, 2) AS total_value
FROM sess GROUP BY user_id, sid""",
        headline=True,
        tags=("timeseries", "session"),
    ),
    QuerySpec(
        "events_type_percentiles",
        timeseries.event_type_percentiles,
        """
SELECT event_type,
       round(quantile_cont(value, 0.5) + 1e-8, 4) AS p50,
       round(quantile_cont(value, 0.9) + 1e-8, 4) AS p90,
       round(quantile_cont(value, 0.99) + 1e-8, 4) AS p99,
       count(*) AS cnt
FROM events GROUP BY 1""",
        tags=("timeseries", "percentile"),
    ),
    QuerySpec(
        "events_values_winsorized",
        timeseries.values_winsorized,
        """
WITH cuts AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round(e.value + 1e-8, 4) AS value,
       round(least(greatest(e.value, c.lo), c.hi) + 1e-8, 4)
         AS value_winsorized,
       (e.value < c.lo OR e.value > c.hi) AS was_clipped
FROM events e JOIN cuts c ON e.event_type = c.event_type""",
        tags=("timeseries", "percentile", "winsorize"),
    ),
    QuerySpec(
        "events_top_users_per_type",
        timeseries.top_users_per_type,
        """
WITH counts AS (
  SELECT event_type, user_id, count(*) AS cnt,
         round(sum(value) + 1e-6, 2) AS total_value
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY event_type
      ORDER BY cnt DESC, total_value DESC, user_id) AS INTEGER) AS rnk
  FROM counts
)
SELECT event_type, user_id, cnt, total_value, rnk
FROM ranked WHERE rnk <= 3""",
        tags=("timeseries", "topk"),
    ),
    QuerySpec(
        "events_ewma_per_user",
        timeseries.ewma_per_user,
        """
SELECT user_id, CAST(count(*) AS INTEGER) AS n_events,
       round(CAST(list_reduce(list(value ORDER BY ts, event_id),
                              (acc, v) -> 0.3 * v + 0.7 * acc) AS DOUBLE)
             + 1e-8, 4) AS ewma
FROM events GROUP BY 1""",
        tags=("timeseries", "stateful-twin"),
    ),
    QuerySpec(
        "events_props_avg_k",
        timeseries.props_avg_k,
        """
WITH raw AS (
  SELECT event_type, json_extract_string(props, '$.k') AS ks FROM events
),
-- integral-string guard: Spark's try_cast(string AS BIGINT) accepts only
-- [sign]digits (with surrounding whitespace) and NULLs everything else,
-- while DuckDB's TRY_CAST parses doubles/hex/scientific and ROUNDS
-- ('1.7' -> 2) — without the regexp the engines would disagree on any
-- non-integer $.k
ev AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN regexp_matches(
                         ks, '^[[:space:]]*[+-]?[0-9]+[[:space:]]*$')
                  THEN ks END AS BIGINT) AS k
  FROM raw
)
SELECT event_type, round(avg(k) + 1e-8, 4) AS avg_k,
       min(k) AS min_k, max(k) AS max_k, count(k) AS cnt
FROM ev GROUP BY 1""",
        tags=("timeseries", "json"),
    ),
    QuerySpec(
        "events_scalar_features",
        timeseries.event_scalar_features,
        """
SELECT event_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       strftime(ts, '%Y-%m-%d %H') AS day_hour_str,
       CAST(isodow(ts) AS INTEGER) AS iso_dow,
       ts + INTERVAL 7 DAY AS retention_check_ts,
       regexp_replace(event_type, '[aeiou]', '', 'g') AS etype_squeezed,
       round(abs(value) + 1e-8, 4) AS value_abs,
       -- isnan guard: DuckDB sign(NaN) is 0 while Spark signum(NaN) is
       -- NaN (-> NULL under try_cast) — NaN must go NULL in BOTH engines
       TRY_CAST(sign(CASE WHEN isnan(value) THEN NULL ELSE value END)
                AS INTEGER) AS value_sign,
       round(sqrt(abs(value)) + 1e-8, 4) AS value_sqrt,
       round(ln(1 + abs(value)) + 1e-8, 4) AS value_log1p,
       round(greatest(value, 0.0) + 1e-8, 4) AS value_clipped
FROM events""",
        tags=("scalar-breadth",),
    ),
]


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): as-of join, interval join, range
# window frame — operators Spark lacks natively, composed scale-first and
# verified against DuckDB's native ASOF JOIN / interval predicates.
# ---------------------------------------------------------------------------

CATALOG += [
    QuerySpec(
        "temporal_asof_last_click",
        temporal.asof_last_click,
        """
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, e.ts,
       c.ts AS last_click_ts, c.click_event_id AS last_click_id,
       -- integer microseconds / 1e6: bit-identical to Spark's unix_micros
       -- arithmetic (epoch() double subtraction loses sub-us precision at
       -- round-boundary values)
       round(date_diff('microsecond', c.ts, e.ts) / 1000000.0, 3)
         AS secs_since_click
FROM errors e ASOF LEFT JOIN clicks c
  ON e.user_id = c.user_id AND e.ts >= c.ts""",
        headline=True,
        tags=("temporal", "asof"),
    ),
    QuerySpec(
        "events_props_map_stats",
        timeseries.props_map_stats,
        """
WITH raw AS (
  SELECT props->>'k' AS ks FROM events
),
-- same integral-string guard as events_props_avg_k: DuckDB TRY_CAST
-- rounds non-integer strings that Spark's try_cast NULLs
base AS (
  SELECT TRY_CAST(CASE WHEN regexp_matches(
                         ks, '^[[:space:]]*[+-]?[0-9]+[[:space:]]*$')
                  THEN ks END AS BIGINT) AS k
  FROM raw
),
kv AS (
  SELECT 'k' AS key, k AS value FROM base
  UNION ALL SELECT 'parity', k % 2 FROM base
  -- floor(k/10.0), not k // 10: DuckDB's // truncates toward zero on a
  -- negative k (-7 // 10 = 0) while Spark's floor(k/10) floors (-1) —
  -- latent divergence the degenerate twin caught (driver k is never
  -- negative, so the sf0.01 diff couldn't)
  UNION ALL SELECT 'bucket', CAST(floor(k / 10.0) AS BIGINT) FROM base
)
SELECT key, count(*) AS cnt, CAST(sum(value) AS BIGINT) AS total,
       round(avg(value) + 1e-8, 4) AS mean_value
FROM kv GROUP BY 1 ORDER BY 1""",
        tags=("map-type", "json"),
    ),
    QuerySpec(
        "temporal_point_in_time_value",
        temporal.point_in_time_value,
        """
WITH versions AS (
  SELECT user_id, ts AS valid_from, max_by(value, event_id) AS dim_value,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT f.event_id, f.user_id, f.ts, f.value, v.dim_value, v.valid_from
FROM events f LEFT JOIN versions v
  ON f.user_id = v.user_id AND f.ts >= v.valid_from
 AND (v.valid_to IS NULL OR f.ts < v.valid_to)
WHERE f.event_type = 'purchase'""",
        headline=True,
        tags=("temporal", "point-in-time", "scd2"),
    ),
    QuerySpec(
        "temporal_click_error_pairs",
        temporal.click_error_pairs,
        """
WITH clicks AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
errors AS (
  SELECT event_id AS error_id, user_id, ts AS error_ts
  FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.click_id, e.error_id,
       round(date_diff('microsecond', c.click_ts, e.error_ts) / 1000000.0, 3)
         AS secs_between
FROM clicks c JOIN errors e
  ON c.user_id = e.user_id
 AND e.error_ts > c.click_ts
 AND e.error_ts <= c.click_ts + INTERVAL '5 minutes'""",
        tags=("temporal", "interval-join"),
    ),
    QuerySpec(
        "temporal_clicks_trailing_5min",
        temporal.clicks_in_trailing_window,
        """
SELECT event_id, user_id, ts,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL '5 minutes' PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS clicks_trailing
FROM events""",
        tags=("temporal", "range-frame"),
    ),
]


def _salted_lineitem_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skew.salted_count(load_table(spark, sf_dir, "lineitem"), "l_orderkey")


CATALOG += [
    QuerySpec(
        "skew_salted_count",
        _salted_lineitem_count,
        """
SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1""",
        tags=("skew",),
    ),
]

CATALOG += [
    QuerySpec(
        "events_resample_hourly_locf",
        timeseries.resample_hourly_locf,
        """
WITH obs AS (
  SELECT user_id, hour_ts, v FROM (
    SELECT user_id, date_trunc('hour', ts) AS hour_ts, value AS v,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
  WHERE rn = 1
),
bounds AS (SELECT user_id, min(hour_ts) AS h0, max(hour_ts) AS h1
           FROM obs GROUP BY 1),
spine AS (
  SELECT user_id,
         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
  FROM bounds
),
j AS (
  SELECT s.user_id, s.hour_ts, o.v
  FROM spine s LEFT JOIN obs o USING (user_id, hour_ts)
)
SELECT user_id, hour_ts,
       round(last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             + 1e-6, 2) AS value_locf,
       (v IS NULL) AS is_filled
FROM j""",
        headline=True,
        tags=("timeseries", "resample"),
    ),
    QuerySpec(
        "agg_revenue_decimal_exact",
        relational.revenue_decimal_exact,
        """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         AS gross_revenue,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2))
                   - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS net_revenue,
       count(*) AS n_lines
FROM lineitem GROUP BY 1""",
        tags=("decimal", "money-exact"),
    ),
    QuerySpec(
        "q3b_customer_brand_unpivot",
        nested.customer_brand_unpivot,
        """
SELECT o.o_custkey AS customer_id, p.p_brand AS brand,
       sum(l.l_quantity) AS quantity
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
HAVING sum(l.l_quantity) > 0""",
        headline=True,
        tags=("q3", "unpivot"),
    ),
    QuerySpec(
        "star_segment_contribution",
        relational.segment_contribution,
        """
WITH seg AS (
  SELECT c.c_mktsegment, round(sum(o.o_totalprice) + 1e-6, 2)
           AS segment_total
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
t AS (SELECT sum(segment_total) AS grand_total FROM seg)
SELECT c_mktsegment, segment_total,
       round(segment_total / t.grand_total * 100 + 1e-8, 4) AS pct_of_total
FROM seg, t""",
        tags=("reporting", "contribution"),
    ),
    QuerySpec(
        "events_weekly_change",
        timeseries.weekly_value_change,
        """
WITH weekly AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
         round(sum(value) + 1e-6, 2) AS week_total
  FROM events GROUP BY 1, 2
)
SELECT event_type, week, week_total,
       round(week_total - lag(week_total) OVER w + 1e-6, 2) AS wow_change,
       round((week_total - lag(week_total) OVER w)
             / lag(week_total) OVER w * 100 + 1e-8, 4) AS wow_pct
FROM weekly WINDOW w AS (PARTITION BY event_type ORDER BY week)""",
        tags=("reporting", "timeseries"),
    ),
    QuerySpec(
        "star_fk_integrity_audit",
        relational.referential_integrity_audit,
        """
SELECT 'lineitem.l_orderkey -> orders' AS fk_check,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
         AS n_violations
UNION ALL
SELECT 'lineitem.l_partkey -> part',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'orders.o_custkey -> customer',
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))""",
        tags=("audit", "integrity"),
    ),
    QuerySpec(
        "events_value_histogram",
        timeseries.value_histogram,
        """
WITH binned AS (
  -- isnan guard + TRY_CAST mirror the builder's nanvl + try_cast exactly:
  -- DuckDB's floor keeps NaN (TRY_CAST NULL) while Spark's (long)floor
  -- maps NaN to 0, so without the shared NaN->NULL guard the engines
  -- would disagree; TRY_CAST turns floor(+-Inf)'s int overflow into NULL.
  SELECT event_type,
         TRY_CAST(floor((CASE WHEN isnan(value) THEN NULL ELSE value END)
                        / 25.0) AS INTEGER) AS bin
  FROM events
)
SELECT event_type, bin, count(*) AS cnt,
       round(bin * 25.0 + 1e-8, 2) AS bin_low
FROM binned GROUP BY 1, 2""",
        tags=("timeseries", "histogram"),
    ),
    QuerySpec(
        "events_cohort_retention",
        timeseries.cohort_retention,
        """
WITH days AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
),
first_day AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, d.day) AS INTEGER) AS day_offset,
       count(DISTINCT d.user_id) AS active_users
FROM days d JOIN first_day f USING (user_id)
GROUP BY 1, 2""",
        tags=("timeseries", "cohort"),
    ),
    QuerySpec(
        "temporal_asof_next_click",
        temporal.asof_next_click,
        """
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, e.ts AS error_ts,
       c.click_event_id AS next_click_id,
       round(date_diff('microsecond', e.ts, c.ts) / 1000000.0, 3)
         AS secs_until_click
FROM errors e ASOF LEFT JOIN clicks c
  ON e.user_id = c.user_id AND e.ts <= c.ts""",
        tags=("temporal", "asof-forward"),
    ),
    QuerySpec(
        "events_funnel_conversion",
        temporal.funnel_view_click_purchase,
        """
WITH v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.first_view GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.first_click GROUP BY 1
)
SELECT 1 AS step_order, 'view' AS step, (SELECT count(*) FROM v) AS users,
       (SELECT max(first_view) FROM v) AS latest_ts
UNION ALL
SELECT 2, 'view>click', (SELECT count(*) FROM c),
       (SELECT max(first_click) FROM c)
UNION ALL
SELECT 3, 'view>click>purchase', (SELECT count(*) FROM p),
       (SELECT max(first_purchase) FROM p)""",
        tags=("temporal", "funnel"),
    ),
    QuerySpec(
        "events_session_attribution",
        timeseries.event_session_attribution,
        """
WITH flagged AS (
  SELECT event_id, user_id, ts,
         -- strictly-greater split, matching both the session_window tier
         -- and the engine's lag spelling (aligned in r10 — ADVICE r9: the
         -- documented cross-check vs user_sessions must hold on exact-gap
         -- ties, which session_window MERGES)
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT event_id, user_id, ts,
       min(ts) OVER (PARTITION BY user_id, sid) AS session_start
FROM sess""",
        headline=True,
        tags=("timeseries", "session", "attribution"),
    ),
    QuerySpec(
        "events_interval_error_burst_join",
        intervals.purchases_during_error_bursts,
        """
WITH err AS (
  SELECT ts, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'error'
),
flagged AS (
  SELECT ts, d,
         -- strictly-greater: the engine side is a native session_window,
         -- which merges ADJACENT ranges (exactly gap apart still merges —
         -- ADVICE r9, pinned in test_intervals.py)
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_b
  FROM err WINDOW w AS (PARTITION BY d ORDER BY ts)
),
sess AS (
  SELECT *, sum(new_b) OVER (PARTITION BY d ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS bid
  FROM flagged
),
bursts AS (
  SELECT d, bid, min(ts) AS burst_start, max(ts) AS burst_end,
         count(*) AS n_errors
  FROM sess GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.ts, round(p.value + 1e-6, 2) AS value,
       b.burst_start, b.burst_end, b.n_errors
FROM events p JOIN bursts b
  ON p.ts BETWEEN b.burst_start - INTERVAL '10 minutes'
              AND b.burst_end + INTERVAL '10 minutes'
WHERE p.event_type = 'purchase'""",
        headline=True,
        tags=("temporal", "interval-join", "range-join"),
    ),
    QuerySpec(
        "events_error_bursts_midnight_merged",
        intervals.global_error_bursts,
        # The oracle is deliberately the GLOBAL single-window spelling —
        # the Spark side computes the same result via day-partitioned
        # sessions + the bounded two-phase boundary-merge, so this diff
        # verifies the merge equivalence, not just the numbers.
        """
WITH err AS (
  SELECT ts FROM events WHERE event_type = 'error'
),
flagged AS (
  -- strictly-greater: Spark's session_window merges ADJACENT ranges
  -- (an event exactly gap after the last still continues the session)
  SELECT ts,
         CASE WHEN lag(ts) OVER (ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (ORDER BY ts) > INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_b
  FROM err
),
sess AS (
  SELECT ts, sum(new_b) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS bid
  FROM flagged
)
SELECT min(ts) AS burst_start, max(ts) AS burst_end, count(*) AS n_errors
FROM sess GROUP BY bid""",
        tags=("temporal", "session", "boundary-merge"),
    ),
    QuerySpec(
        "events_props_typed",
        timeseries.props_typed_extract,
        """
WITH p AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         props
  FROM events
)
SELECT event_type,
       round(avg(k) + 1e-8, 4) AS avg_k,
       min(k) AS min_k, max(k) AS max_k, count(k) AS cnt,
       CAST(sum(CASE WHEN k IS NULL AND props IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS malformed
FROM p GROUP BY 1""",
        tags=("json", "typed-extract"),
    ),
    QuerySpec(
        "events_profile_columns",
        _profile_events,
        """
WITH base AS (SELECT count(*) AS n_rows FROM events)
SELECT p.column_name, p.n_nonnull,
       base.n_rows - p.n_nonnull AS n_null, p.n_distinct
FROM base, (
  SELECT 'event_id' AS column_name, count(event_id) AS n_nonnull,
         count(DISTINCT event_id) AS n_distinct FROM events
  UNION ALL
  SELECT 'ts', count(ts), count(DISTINCT ts) FROM events
  UNION ALL
  SELECT 'user_id', count(user_id), count(DISTINCT user_id) FROM events
  UNION ALL
  SELECT 'event_type', count(event_type), count(DISTINCT event_type)
  FROM events
  UNION ALL
  SELECT 'value', count(value), count(DISTINCT value) FROM events
  UNION ALL
  SELECT 'props', count(props), count(DISTINCT props) FROM events
) p""",
        tags=("profile", "audit"),
    ),
    QuerySpec(
        "events_user_value_scd2",
        timeseries.user_value_history_scd2,
        """
SELECT user_id, event_id, value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        tags=("timeseries", "scd2"),
    ),
    QuerySpec(
        "merge_upsert_customers",
        _merge_upsert_customers,
        """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
         'INSERTED' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
FROM customer c
WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd)
UNION ALL
SELECT * FROM upd""",
        tags=("merge", "cdc"),
    ),
    QuerySpec(
        "events_value_anomalies_zscore",
        timeseries.value_anomalies_zscore,
        """
WITH stats AS (
  SELECT user_id, avg(value) AS u_mean, stddev_samp(value) AS u_std,
         count(*) AS u_n
  FROM events GROUP BY 1
)
SELECT e.event_id, e.user_id, e.value,
       round(s.u_mean + 1e-8, 4) AS user_mean,
       round((e.value - s.u_mean) / s.u_std + 1e-8, 4) AS z_score
FROM events e JOIN stats s USING (user_id)
WHERE s.u_n > 1 AND s.u_std > 0
  AND abs(round((e.value - s.u_mean) / s.u_std + 1e-8, 4)) > 3.0""",
        tags=("timeseries", "anomaly"),
    ),
]

# --- set operations / collection aggs / cube (beyond ref: §2.8 "None",
# §2.5 "not present" list) ---
CATALOG += [
    QuerySpec(
        "set_union_active_users",
        setops.active_users_union,
        """
SELECT o_custkey AS user_id FROM orders WHERE o_custkey IS NOT NULL
UNION
SELECT user_id FROM events WHERE user_id IS NOT NULL""",
        tags=("setops",),
    ),
    QuerySpec(
        "set_intersect_buyers_with_events",
        setops.buyers_with_events,
        """
SELECT o_custkey AS user_id FROM orders WHERE o_custkey IS NOT NULL
INTERSECT
SELECT user_id FROM events WHERE user_id IS NOT NULL""",
        tags=("setops",),
    ),
    QuerySpec(
        "set_except_buyers_without_events",
        setops.buyers_without_events,
        """
SELECT o_custkey AS user_id FROM orders WHERE o_custkey IS NOT NULL
EXCEPT
SELECT user_id FROM events WHERE user_id IS NOT NULL""",
        tags=("setops",),
    ),
    QuerySpec(
        "agg_order_baskets",
        setops.order_baskets,
        """
SELECT l_orderkey,
       count(DISTINCT l_partkey) AS basket_size,
       array_to_string(list_sort(list(DISTINCT l_partkey)), ',')
         AS products_distinct_csv,
       array_to_string(list_sort(list(l_partkey)), ',') AS products_all_csv
FROM lineitem GROUP BY 1""",
        tags=("setops", "collect"),
    ),
    QuerySpec(
        "events_type_hour_cube",
        setops.event_type_hour_cube,
        """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, value FROM events
)
SELECT event_type, hour,
       CAST(GROUPING(event_type, hour) AS INTEGER) AS grouping_level,
       count(*) AS cnt, round(sum(value) + 1e-6, 2) AS total_value
FROM ev GROUP BY CUBE (event_type, hour)""",
        tags=("setops", "cube"),
    ),
]


# --- multi-way star-schema join chains (beyond ref: §2.4 has only
# single-key equi-joins; these are the 100 TB bread-and-butter shapes) ---
CATALOG += [
    QuerySpec(
        "star_pricing_summary",
        star.pricing_summary,
        f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice) + 1e-6, 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
         AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 1e-6, 2)
         AS sum_charge,
       round(avg(l_quantity) + 1e-8, 4) AS avg_qty,
       round(avg(l_extendedprice) + 1e-8, 4) AS avg_price,
       round(avg(l_discount) + 1e-8, 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{star.PRICING_CUTOFF}'
GROUP BY 1, 2 ORDER BY 1, 2""",
        headline=True,
        tags=("star", "agg"),
    ),
    QuerySpec(
        "star_shipping_priority",
        star.shipping_priority,
        f"""
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{star.SHIP_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{star.SHIP_DATE}'
  AND l.l_shipdate > TIMESTAMP '{star.SHIP_DATE}'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",
        headline=True,
        tags=("star", "join", "topk"),
    ),
    QuerySpec(
        "star_local_supplier_volume",
        star.local_supplier_volume,
        f"""
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{star.VOLUME_REGION}'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '{star.VOLUME_START}'
  AND o.o_orderdate < TIMESTAMP '{star.VOLUME_END}'
GROUP BY 1
ORDER BY revenue DESC, n_name""",
        headline=True,
        tags=("star", "join"),
    ),
    QuerySpec(
        "star_semi_join_big_spenders",
        star.big_spender_order_mix,
        """
SELECT o.o_orderpriority,
       count(*) AS n_orders,
       round(sum(o.o_totalprice) + 1e-6, 2) AS total_value
FROM orders o
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
GROUP BY 1 ORDER BY 1""",
        tags=("star", "semi-join"),
    ),
    QuerySpec(
        "star_anti_join_dormant_customers",
        star.dormant_customers,
        f"""
SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '{star.VOLUME_START}'
    AND o.o_orderdate < TIMESTAMP '{star.VOLUME_END}'
)""",
        tags=("star", "anti-join"),
    ),
    # --- round-3 TPC-H-shape breadth: Q6/Q7/Q8/Q10/Q14/Q15/Q18/Q19/Q22 ---
    QuerySpec(
        "star_forecast_revenue_change",
        star.forecast_revenue_change,
        f"""
SELECT round(sum(l_extendedprice * l_discount) + 1e-6, 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{star.VOLUME_START}'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24""",
        tags=("star", "pushdown"),
    ),
    QuerySpec(
        "star_nation_trade_volume",
        star.nation_trade_volume,
        """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('CHINA', 'FRANCE') AND cn.n_name IN ('CHINA', 'FRANCE')
  AND sn.n_name <> cn.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
        tags=("star", "join"),
    ),
    QuerySpec(
        "star_region_market_share",
        star.region_market_share,
        f"""
SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'CHINA'
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-8, 4)
         AS mkt_share,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2)
         AS total_volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE o.o_custkey IN (
    SELECT c.c_custkey FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA')
  AND o.o_orderdate >= TIMESTAMP '{star.VOLUME_START}'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1""",
        headline=True,
        tags=("star", "join", "conditional-agg"),
    ),
    QuerySpec(
        "star_returned_item_losses",
        star.returned_item_losses,
        """
WITH per_cust AS (
  SELECT o.o_custkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2)
           AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-07-01'
  GROUP BY 1
)
SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal AS acctbal, p.revenue
FROM per_cust p
JOIN customer c ON p.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY p.revenue DESC, c.c_custkey
LIMIT 20""",
        tags=("star", "join", "topk"),
    ),
    QuerySpec(
        "star_promo_revenue_share",
        star.promo_revenue_share,
        """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-8, 4)
         AS promo_revenue_pct,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2)
         AS total_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'""",
        tags=("star", "conditional-agg"),
    ),
    QuerySpec(
        "star_top_supplier",
        star.top_supplier,
        """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey""",
        tags=("star", "argmax"),
    ),
    QuerySpec(
        "star_large_volume_customers",
        star.large_volume_customers,
        """
WITH big_orders AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250.0
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice + 1e-6, 2) AS o_totalprice, b.total_qty
FROM orders o
JOIN big_orders b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY b.total_qty DESC, o.o_orderkey""",
        headline=True,
        tags=("star", "having"),
    ),
    QuerySpec(
        "star_bracketed_discount_revenue",
        star.bracketed_discount_revenue,
        """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-6, 2)
         AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size <= 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size <= 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size <= 15
       AND l.l_quantity BETWEEN 20 AND 30)""",
        tags=("star", "or-predicate"),
    ),
    QuerySpec(
        "star_inactive_rich_customers",
        star.inactive_rich_customers,
        """
SELECT c.c_mktsegment, count(*) AS n_customers,
       round(sum(c.c_acctbal) + 1e-6, 2) AS total_acctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                     WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY 1 ORDER BY 1""",
        tags=("star", "anti-join", "scalar-subquery"),
    ),
    # --- round-6 TPC-H-shape breadth: Q4/Q13/Q17 ---
    QuerySpec(
        "star_order_priority_returns",
        star.order_priority_returns,
        f"""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{star.PRIORITY_YEAR_START}'
  AND o.o_orderdate < TIMESTAMP '{star.PRIORITY_YEAR_END}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY 1 ORDER BY 1""",
        tags=("star", "semi-join"),
    ),
    QuerySpec(
        "star_customer_order_distribution",
        star.customer_order_distribution,
        f"""
WITH c_orders AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS INTEGER) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '{star.DIST_EXCLUDED_PRIORITY}'
  GROUP BY 1
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY 1
ORDER BY custdist DESC, c_count DESC""",
        tags=("star", "outer-join"),
    ),
    QuerySpec(
        "star_small_quantity_revenue",
        star.small_quantity_revenue,
        f"""
WITH brand_lines AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = '{star.SMALL_QTY_BRAND}'
),
thresholds AS (
  SELECT l_partkey, round(0.2 * avg(l_quantity) + 1e-8, 4) AS qty_thresh
  FROM brand_lines GROUP BY 1
)
SELECT round(sum(b.l_extendedprice) / 7.0 + 1e-6, 2) AS avg_yearly,
       count(*) AS n_small_lines
FROM brand_lines b JOIN thresholds t USING (l_partkey)
WHERE b.l_quantity < t.qty_thresh""",
        tags=("star", "scalar-subquery", "decorrelation"),
    ),
    QuerySpec(
        "star_waiting_suppliers",
        star.waiting_suppliers,
        f"""
WITH fo AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
),
li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate
                   > fo.o_orderdate + INTERVAL {star.WAITING_LATE_DAYS} DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey
),
pso AS (
  SELECT l_orderkey, l_suppkey, max(late) AS is_late FROM li GROUP BY 1, 2
),
po AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
  FROM pso GROUP BY 1
),
w AS (
  SELECT p.l_suppkey, count(*) AS numwait
  FROM pso p JOIN po ON p.l_orderkey = po.l_orderkey
  WHERE p.is_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
  GROUP BY 1
)
SELECT s.s_name, CAST(w.numwait AS BIGINT) AS numwait
FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
ORDER BY numwait DESC, s.s_name LIMIT {star.WAITING_TOP_N}""",
        tags=("star", "semi-join", "decorrelation"),
    ),
    QuerySpec(
        "star_disjunctive_branch_revenue",
        star.disjunctive_branch_revenue,
        f"""
SELECT CAST(branch AS INTEGER) AS branch,
       count(*) AS n_lines,
       round(sum(rev) + 1e-6, 2) AS revenue
FROM (
  SELECT CASE
           {" ".join(
               f"WHEN p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}"
               f" AND l.l_quantity BETWEEN {qlo} AND {qhi} THEN {i}"
               for i, (b, slo, shi, qlo, qhi)
               in enumerate(star.DISJ_BRANCHES, start=1)
           )}
         END AS branch,
         l.l_extendedprice * (1 - l.l_discount) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
WHERE branch IS NOT NULL
GROUP BY 1 ORDER BY 1""",
        headline=True,  # the Q19 both-sides-pruned disjunction shape
        tags=("star", "disjunction", "pushdown"),
    ),
    QuerySpec(
        "star_min_cost_supplier",
        star.min_cost_supplier,
        f"""
WITH p AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_type = '{star.MINCOST_TYPE}'
    AND p_size BETWEEN {star.MINCOST_SIZE_LO} AND {star.MINCOST_SIZE_HI}
),
sr AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{star.MINCOST_REGION}'
),
offers AS (
  SELECT l.l_partkey, l.l_suppkey,
         round(min(l.l_extendedprice / l.l_quantity) + 1e-8, 4) AS min_cost
  FROM lineitem l
  JOIN p ON l.l_partkey = p.p_partkey
  JOIN sr ON l.l_suppkey = sr.s_suppkey
  GROUP BY 1, 2
),
best AS (
  SELECT *, min(min_cost) OVER (PARTITION BY l_partkey) AS part_min
  FROM offers
)
SELECT round(sr.s_acctbal + 1e-6, 2) AS s_acctbal, sr.s_name, sr.n_name,
       b.l_partkey AS p_partkey, p.p_brand, b.min_cost
FROM best b
JOIN p ON b.l_partkey = p.p_partkey
JOIN sr ON b.l_suppkey = sr.s_suppkey
WHERE b.min_cost = b.part_min
ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT {star.MINCOST_TOP_N}""",
        tags=("star", "scalar-subquery", "decorrelation", "window"),
    ),
    QuerySpec(
        "star_promo_part_suppliers",
        star.promo_part_suppliers,
        f"""
WITH pp AS (
  SELECT p_partkey FROM part WHERE p_type = '{star.PROMO_PART_TYPE}'
),
sr AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{star.PROMO_REGION}'
),
per_pair AS (
  SELECT l.l_suppkey, l.l_partkey,
         sum(CASE WHEN l.l_shipdate >= TIMESTAMP '{star.PROMO_RECENT_START}'
                  THEN l.l_quantity ELSE 0.0 END) AS recent_qty,
         sum(l.l_quantity) AS total_qty
  FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey
  GROUP BY 1, 2
),
qual AS (
  SELECT l_suppkey, CAST(count(*) AS INTEGER) AS n_promo_parts,
         round(sum(recent_qty) + 1e-6, 2) AS recent_qty
  FROM per_pair WHERE recent_qty > 0.5 * total_qty
  GROUP BY 1
)
SELECT sr.s_name, sr.n_name, round(sr.s_acctbal + 1e-6, 2) AS s_acctbal,
       q.n_promo_parts, q.recent_qty
FROM qual q JOIN sr ON q.l_suppkey = sr.s_suppkey
ORDER BY sr.s_name""",
        tags=("star", "semi-join", "decorrelation"),
    ),
]


def get(name: str) -> QuerySpec:
    for spec in CATALOG:
        if spec.name == name:
            return spec
    raise KeyError(name)
