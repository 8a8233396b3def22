"""Mergeable-sketch operators (Apache DataSketches HLL, JVM-side).

THE pre-aggregation pattern for 100 TB analytics: exact COUNT(DISTINCT) is
not mergeable — a global or rolling distinct over raw events must re-shuffle
every row on every refresh.  An HLL sketch IS mergeable (register-wise max,
commutative + associative + idempotent), so the scan happens ONCE per
partition (day), producing a KB-sized sketch per group; every downstream
distinct — global, rolling window, ad-hoc date range — is a merge over
day-count-many sketches, never a rescan of the fact table.  This is the
incremental-refresh / OLAP-cube story the exact operators cannot offer.

Spark ships these as built-ins (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``, DataSketches-backed) — all JVM aggregates inside
whole-stage codegen, no Python in the path.

Estimates are approximate (relative error ~1.6% at the default lgK=12), so
these operators carry NO DuckDB oracle (DuckDB's approx_count_distinct is a
different HLL implementation) — they are gated by tests/test_llm_ops.py:
accuracy vs exact distinct, merge-vs-direct consistency, the rolling
window's union semantics, and a pinned-estimate regression test.
Determinism caveat (measured, test_llm_ops.py:test_hll_pinned_estimates):
DataSketches hashing has no run-time seed, so for a FIXED physical plan
(pinned partitioning) estimates are bit-stable across runs; across
DIFFERENT partitionings the partial-sketch merge order changes internal
representation promotions and estimates can drift ~±0.5% — so pinned
values must pin the partitioning too, and the driver's check for the
in-window HLL entry is rows-only by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_events


def daily_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HLL sketch of user_id per event day → (event_day,
    estimated_users, n_events).  The single fact-table scan; everything
    else in this module merges these per-day sketches."""
    return (
        _daily(spark, sf_dir)
        .select(
            "event_day",
            F.hll_sketch_estimate("sketch").alias("estimated_users"),
            "n_events",
        )
        .orderBy("event_day")
    )


def merged_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct users via sketch merge: union the per-day sketches
    (day-count rows, KB each) instead of re-shuffling every event row.
    Returns one row (n_days, estimated_distinct_users)."""
    return _daily(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "estimated_distinct_users"
        ),
    )


def rolling_distinct_users(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """Trailing ``window_days``-day distinct users per day — the rolling
    unique-actives metric that is IMPOSSIBLE to maintain incrementally with
    exact distinct (distinct is not subtractable) and trivial with sketches.

    Implemented as a range self-join over the per-day sketch table (a
    day-count-sized dimension — 365 rows/year — so the join is broadcast
    and the merge touches at most ``window_days`` KB-sized sketches per
    output row; the 100 TB fact table was consumed exactly once upstream).
    """
    # Pin the day-count-sized sketch table: the self-join has two consumers
    # and Catalyst does not reuse common subplans — without this the 100 TB
    # fact scan would run twice.
    daily = (
        _daily(spark, sf_dir)
        .select("event_day", "sketch")
        .transform(pin)
    )
    a = daily.alias("a")
    b = daily.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("b.event_day") <= F.col("a.event_day"))
            & (
                F.col("b.event_day")
                > F.date_sub(F.col("a.event_day"), window_days)
            ),
        )
        .groupBy(F.col("a.event_day").alias("event_day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("b.sketch"))).alias(
                f"users_trailing_{window_days}d"
            ),
            F.count(F.lit(1)).alias("days_merged"),
        )
        .orderBy("event_day")
    )


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("event_day")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) ---
#
# Unlike the HLL tier above (engine-specific digests, pytest-gated), this
# CMS is built from seeded md5 hashing that BOTH engines compute
# bit-identically, so the sketch — and every estimate read from it — has
# an exact DuckDB oracle.  That makes it the catalog's demonstrably
# correct sketch: the overestimate bias is visible and checkable.

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(col, j: int):
    """Row-j bucket for a key: first 8 hex chars of md5("j|key") mod W.
    8 hex chars = 32 bits — fits a BIGINT exactly the same way in DuckDB
    ('0x'||substr(...))::BIGINT, so bucket ids match across engines."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}|"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint") % CMS_WIDTH


def count_min_heavy_hitters(
    spark: SparkSession, sf_dir: str, threshold: int = 15
) -> DataFrame:
    """Heavy-hitter detection via a count-min sketch over event user_ids:
    build the d×w counter table (one grouped aggregate bounded at
    d·w = 1024 rows regardless of corpus size), then answer point
    queries — est(u) = min_j counters[j][h_j(u)] — for every distinct
    user with one broadcast join, keeping users whose ESTIMATE clears the
    threshold.

    CMS never undercounts (est >= true), so this is a superset screen:
    at 100 TB you CMS-screen the full stream with KB-sized state, then
    exact-count only the few screened candidates.  The companion test
    pins est >= true count per user and exact agreement for users with no
    bucket collisions.
    """
    ev = load_events(spark, sf_dir).select("user_id")

    def _rows_per_key(col):
        # ONE scan: explode a d-element array of (j, bucket) structs per
        # row — a union of d per-j selects would scan the fact d times.
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(col, j).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        )

    keyed = ev.select(_rows_per_key(F.col("user_id")).alias("jb")).select(
        "jb.j", "jb.bucket"
    )
    cms = keyed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = ev.distinct().select(
        "user_id", _rows_per_key(F.col("user_id")).alias("jb")
    ).select("user_id", "jb.j", "jb.bucket")
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_events"))
        .filter(F.col("est_events") >= threshold)
        .orderBy("user_id")
    )
