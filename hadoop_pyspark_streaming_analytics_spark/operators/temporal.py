"""Temporal join operators — the canonical "operators Spark lacks"
(as-of join, interval/range join, range window frames), each composed
scale-first from stock DataFrame primitives over the ``events`` table.
Beyond the reference surface (SURVEY.md §2.4 lists no theta/range/as-of
joins; §2.6 lists no range frames).

Scale shapes:

- **as-of join** = union both sides, ONE shuffle on the key, then a
  running ``last(..., ignorenulls)`` over an ordered window.  This is the
  sort-merge as-of: no range-condition join (which Spark would plan as a
  broadcast-nested-loop or an exploding banded join), no per-row probe.
  State per key is one carried row — the same shape TimescaleDB/kdb use.
- **interval join** = equi-join on the key + range predicate pushed into
  the join condition; Spark plans the equi part as a hash/sort-merge join
  and applies the band filter on matches.  Bounded fan-out: only pairs
  within the band survive.  (For band >> key cardinality, bucket the time
  axis and join on (key, bucket ± 1) — noted, not needed at this band.)
- **range window frame** = ``RANGE BETWEEN <interval> PRECEDING`` over an
  event-time ordering: per-key time-decayed counts without any join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_events


def _dedup_right(clicks: DataFrame) -> DataFrame:
    """Deterministic right side: one row per (user, ts) — ties collapse to
    the highest event_id (both engines pick the same winner)."""
    return clicks.groupBy("user_id", "ts").agg(
        F.max("event_id").alias("click_event_id"),
        F.expr("max_by(value, event_id)").alias("click_value"),
    )


def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: each 'error' event matched to the same user's most
    recent 'click' at-or-before it (inclusive), plus seconds elapsed.

    Composition: union click/error rows, one hash partition by user,
    order by (ts, kind) — clicks sort before a same-instant error so the
    match is inclusive — and carry the last non-null click forward.  The
    DuckDB oracle is its native ``ASOF LEFT JOIN``; the hash match proves
    the composition implements the operator exactly."""
    ev = load_events(spark, sf_dir)
    clicks = _dedup_right(ev.filter(F.col("event_type") == "click"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    tagged = clicks.select(
        "user_id",
        F.col("ts").alias("t"),
        "click_event_id",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(0).alias("kind"),
    ).unionByName(
        errors.select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(None).cast("bigint").alias("click_event_id"),
            "event_id",
            F.lit(1).alias("kind"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("kind") == 0, F.col("t")), ignorenulls=True).over(w),
    ).withColumn(
        "last_click_id",
        F.last("click_event_id", ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "last_click_ts",
            "last_click_id",
            F.round(
                (F.unix_micros("t") - F.unix_micros("last_click_ts")) / 1e6, 3
            ).alias("secs_since_click"),
        )
    )


def click_error_pairs(
    spark: SparkSession, sf_dir: str, band_minutes: int = 5
) -> DataFrame:
    """INTERVAL (banded range) JOIN: (click, error) pairs for the same user
    where the error follows the click within ``band_minutes`` (exclusive
    zero — simultaneous events don't pair)."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    band_us = band_minutes * 60 * 1_000_000
    gap_us = F.unix_micros("error_ts") - F.unix_micros("click_ts")
    return (
        clicks.join(errors, "user_id")
        .filter((gap_us > 0) & (gap_us <= band_us))
        .select(
            "user_id",
            "click_id",
            "error_id",
            F.round(gap_us / 1e6, 3).alias("secs_between"),
        )
    )


def clicks_in_trailing_window(
    spark: SparkSession, sf_dir: str, minutes: int = 5
) -> DataFrame:
    """RANGE window frame: for every event, how many clicks the same user
    made in the trailing ``minutes`` (inclusive of now) — per-key trailing
    aggregation with NO join, the frame slides over event time."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-minutes * 60 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("clicks_trailing"),
    )


def asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each 'error' matched to the same user's
    NEAREST 'click' at-or-after it: the symmetric twin of
    :func:`asof_last_click` (recovery/response-time analysis instead of
    causal attribution).  Same union + per-user ordered window
    composition, with the carry running BACKWARD (first non-null click in
    the frame ahead); errors sort before a same-instant click so the
    match stays inclusive.  DuckDB has no forward ASOF — the oracle is
    the explicit correlated min-over-future spelling."""
    ev = load_events(spark, sf_dir)
    clicks = _dedup_right(ev.filter(F.col("event_type") == "click"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    tagged = clicks.select(
        "user_id",
        F.col("ts").alias("t"),
        "click_event_id",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(1).alias("kind"),
    ).unionByName(
        errors.select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(None).cast("bigint").alias("click_event_id"),
            "event_id",
            F.lit(0).alias("kind"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = tagged.withColumn(
        "next_click_id", F.first("click_event_id", ignorenulls=True).over(w)
    ).withColumn(
        "next_click_ts",
        F.first(
            F.when(F.col("click_event_id").isNotNull(), F.col("t")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.filter(F.col("event_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("error_ts"),
            "next_click_id",
            F.round(
                (
                    F.unix_micros("next_click_ts") - F.unix_micros("t")
                )
                / 1_000_000.0,
                3,
            ).alias("secs_until_click"),
        )
    )


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that click — the conversion query every
    event pipeline answers.  Three per-user min-aggregations chained by
    equi-joins (each stage's output is |users|-sized); no window over
    raw events, no self-join of the fact table.

    No broadcast hints: a |users|-sized table from a 100 TB event log is
    far beyond broadcastable, and a hard-coded hint would override AQE's
    size-based fallback and OOM.  AQE still converts these joins to
    broadcast at runtime when the per-user aggregates are small (the
    plan test executes and checks the final adaptive plan)."""
    ev = load_events(spark, sf_dir)
    # Round-16 census fix: each stage frame is consumed TWICE (the next
    # stage's equi-join + its own step-count row), so unpinned the plan
    # re-executed every upstream events pass per consumer — SIX events
    # scans where the three type-filtered passes the funnel needs would
    # do.  ``v`` and ``c`` are (user_id, first_ts) pairs — the minimal
    # funnel state any engine materializes (it crosses a shuffle anyway
    # to be joined); checkpoint-pinned, each pass runs exactly once.
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
        .transform(pin)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
        .transform(pin)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    # latest_ts makes the CHAINED-min logic value-checked: if a stage's
    # ordering constraint (ts > previous step) were wrong, the max of its
    # per-user first-times would shift even when the user counts don't.
    rows = [
        v.agg(
            F.count(F.lit(1)).alias("users"),
            F.max("first_view").alias("latest_ts"),
        ).select(
            F.lit(1).alias("step_order"), F.lit("view").alias("step"),
            "users", "latest_ts",
        ),
        c.agg(
            F.count(F.lit(1)).alias("users"),
            F.max("first_click").alias("latest_ts"),
        ).select(
            F.lit(2).alias("step_order"), F.lit("view>click").alias("step"),
            "users", "latest_ts",
        ),
        p.agg(
            F.count(F.lit(1)).alias("users"),
            F.max("first_purchase").alias("latest_ts"),
        ).select(
            F.lit(3).alias("step_order"),
            F.lit("view>click>purchase").alias("step"),
            "users", "latest_ts",
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def point_in_time_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup (the feature-store join):
    attach to each purchase event the user's value version — SCD2 history
    built from their signup events — valid AT the purchase timestamp.

    This is the third temporal-join formulation in this module: an
    equi-key join (user_id) carrying the interval predicate
    ``valid_from <= ts < valid_to`` as a post-match filter.  Spark plans
    the equi part as a hash/sort-merge join, so there is no
    nested-loop/cartesian hazard; per-user version counts bound the
    fan-out, and because a user's validity intervals partition the time
    axis, each fact matches AT MOST one version (left join keeps facts
    that predate every version, with null dims).

    vs the union-window as-of (:func:`asof_last_click`): the interval join
    re-shuffles the fact table against the dimension instead of windowing
    one union — the right choice when the dimension is orders of magnitude
    smaller than the facts (AQE broadcasts it) or already materialized as
    SCD2 intervals; the as-of union wins when both sides are event-scale.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("valid_from")
    versions = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("ts").alias("valid_from"))
        .agg(F.expr("max_by(value, event_id)").alias("dim_value"))
        .withColumn("valid_to", F.lead("valid_from").over(w))
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    cond = (
        (facts.user_id == versions.user_id)
        & (facts.ts >= versions.valid_from)
        & (versions.valid_to.isNull() | (facts.ts < versions.valid_to))
    )
    return facts.join(versions, cond, "left").select(
        facts.event_id,
        facts.user_id,
        facts.ts,
        "value",
        "dim_value",
        "valid_from",
    )
