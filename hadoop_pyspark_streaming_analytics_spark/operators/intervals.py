"""Non-equi interval joins, Spark-first (beyond the reference's surface —
its coursework has no join without an equality key; reference: N/A).

Spark has no native range/interval join: spelling ``a.ts BETWEEN b.lo AND
b.hi`` with no equi-key plans as BroadcastNestedLoopJoin (small side) or a
cartesian product — both O(|points| x |intervals|), a non-starter when both
sides are large.  The standard scale fix (Databricks' range-join
optimization, genomics interval engines) is BINNING: slice the time axis
into fixed-width bins, explode each interval onto every bin it touches,
tag each point with its single containing bin, equi-join on the bin id,
then re-check the exact predicate.  The equi-join shuffles hash-partitioned
on bin — fully parallel, no per-row Python — and the exact BETWEEN filter
runs post-join inside codegen, so correctness never depends on the bin
width.  Bin width only tunes efficiency: wider bins mean fewer replicated
interval rows but more false candidates per bin; ~the median interval
length is a good default.  A point lives in exactly ONE bin, so the join
emits each true (point, interval) match exactly once — no dedup pass.

Skew note for 100 TB: a bin that many intervals overlap becomes a hot
join key.  That is ordinary equi-join skew — AQE's skew-join split handles
it — unlike the NLJ spelling, whose skew is the whole plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round2
from ..session import pin
from ..sources.readers import load_events

#: Default bin width for the time axis, in seconds.  One hour ~ the padded
#: burst length produced by error_bursts() below.
DEFAULT_BIN_SECONDS = 3600


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "j_start",
    end_col: str = "j_end",
    bin_seconds: int = DEFAULT_BIN_SECONDS,
) -> DataFrame:
    """Inner-join ``points`` to every interval with
    ``start_col <= point_ts <= end_col`` (inclusive both ends), via the
    bin strategy above.  Returns point columns + interval columns; each
    qualifying (point, interval) pair appears exactly once.  Intervals may
    overlap — a point inside k intervals yields k rows (join semantics).

    ``unix_timestamp`` truncates to whole seconds, which is safe here:
    ``floor(floor(x)/W) == floor(x/W)`` for integer W, so bin membership
    is unchanged; the exact micro-precision predicate is re-applied after
    the join.
    """
    binned_iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / bin_seconds),
                F.floor(F.unix_timestamp(F.col(end_col)) / bin_seconds),
            )
        ),
    )
    binned_pt = points.withColumn(
        "_bin", F.floor(F.unix_timestamp(F.col(point_ts)) / bin_seconds)
    )
    return (
        binned_pt.join(binned_iv, "_bin")
        .filter(F.col(point_ts).between(F.col(start_col), F.col(end_col)))
        .drop("_bin")
    )


def error_bursts(
    ev: DataFrame, gap: str = "5 minutes"
) -> DataFrame:
    """Gap-sessionize the GLOBAL error stream into bursts:
    (burst_start, burst_end, n_errors), where consecutive errors at most
    ``gap`` apart merge (native ``session_window`` merges ADJACENT
    ranges: next_start <= prev_last + gap — an error exactly ``gap``
    later still continues the burst; verified empirically, Spark 4.1).

    The stream is keyless, so a naive session_window would merge on a
    single partition — the vocab-ranking trap (VERDICT r7 item 3).
    Contract instead: bursts are computed WITHIN calendar days (grouping
    by ``to_date(ts)`` alongside the session window), so sessionization
    hash-partitions by date and stays parallel at any scale.  A burst
    spanning midnight splits in two — acceptable for burst monitoring,
    and the split rule is explicit in the oracle.
    :func:`error_bursts_merged` is the exact twin: the two-phase
    boundary-merge repairs the midnight splits and equals GLOBAL
    sessionization (its oracle IS the global spelling).
    """
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.to_date("ts").alias("d"), F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
            F.count(F.lit(1)).alias("n_errors"),
        )
        .select("burst_start", "burst_end", "n_errors")
    )


def error_bursts_merged(ev: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Exact GLOBAL gap-sessionization of the keyless error stream via the
    two-phase boundary-merge (VERDICT r8 item 6) — bit-equal to a single
    global session window, without ever shuffling error-grain rows to one
    partition:

    1. day-local bursts (:func:`error_bursts`'s parallel spelling — the
       session_window hash-partitions on ``to_date(ts)``);
    2. only bursts TOUCHING a midnight (start within ``gap`` after their
       day's start, or end within ``gap`` before the next) can merge with
       a neighbor-day burst — everything else passes through untouched.
       Candidates are <= 2 per calendar day, so they are TIME-SPAN-bound
       (~730 rows/year), never corpus-proportional; the chain-merge runs
       one ordered window over that bounded frame (gaps-and-islands:
       break when start > prev_end + gap, matching session_window's
       adjacent-range merge, where exactly gap apart still merges).

    Why the phases compose exactly: day-local sessionization only ever
    SPLITS global bursts (at midnights), never merges across a >= gap
    silence; two same-day bursts are >= gap apart by construction, and an
    interior burst is > gap from any neighbor-day burst (it starts/ends
    > gap from both midnights) — so midnight-adjacent candidate chains
    are the only repairs needed.  The catalog oracle for this function is
    the GLOBAL single-window SQL spelling, so the equivalence is
    differentially verified, not argued."""
    gap_iv = F.expr(f"INTERVAL {gap}")
    # Checkpoint-pinned (round 17): the interior/boundary split below
    # consumes the day-local bursts twice, and unpinned each side re-ran
    # the error scan + sessionization (census: 2 events scans).  The
    # frame is burst-grain — one row per day-local session, orders of
    # magnitude below event grain.  Phase 1 IS :func:`error_bursts`
    # (previously inlined verbatim); calling it keeps the
    # day-partitioned-sessionization contract testable on the unpinned
    # subtree (test_intervals) now that the pin hides it from the
    # returned plan.
    bursts = error_bursts(ev, gap).transform(pin)
    day_start = F.date_trunc("day", F.col("burst_start"))
    next_midnight = day_start + F.expr("INTERVAL 1 DAY")
    # backward-mergeable: some prev-day error (strictly before midnight)
    # could satisfy start <= prev_end + gap  =>  start < day_start + gap;
    # forward-mergeable: some next-day error (at or after midnight) could
    # satisfy next_start <= end + gap  =>  end + gap >= next_midnight
    # (>= : an error exactly AT midnight belongs to the next day and
    # still merges when end + gap lands exactly on it).
    touches = (F.col("burst_start") < day_start + gap_iv) | (
        F.col("burst_end") + gap_iv >= next_midnight
    )
    interior = bursts.filter(~touches)
    boundary = bursts.filter(touches)
    w = Window.orderBy("burst_start")
    chained = (
        boundary.withColumn("prev_end", F.lag("burst_end").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("burst_start") > F.col("prev_end") + gap_iv),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "chain",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    merged = chained.groupBy("chain").agg(
        F.min("burst_start").alias("burst_start"),
        F.max("burst_end").alias("burst_end"),
        F.sum("n_errors").cast("bigint").alias("n_errors"),
    )
    return interior.unionByName(
        merged.select("burst_start", "burst_end", "n_errors")
    ).orderBy("burst_start")


def global_error_bursts(
    spark: SparkSession, sf_dir: str, gap: str = "5 minutes"
) -> DataFrame:
    """Catalog face of :func:`error_bursts_merged` over the events table."""
    return error_bursts_merged(load_events(spark, sf_dir), gap)


def purchases_during_error_bursts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "5 minutes",
    pad_minutes: int = 10,
    bin_seconds: int = DEFAULT_BIN_SECONDS,
) -> DataFrame:
    """Every purchase that lands inside a padded error burst — the
    incident-correlation query ("which conversions happened while the
    system was erroring?").  Pure interval join: purchases carry no key
    shared with bursts, only a timestamp inside [burst_start - pad,
    burst_end + pad].  Padded windows may overlap (pad exceeds half the
    session gap), so a purchase can legitimately match several bursts.

    Scale shape: bursts come out of a day-partitioned session_window
    (parallel), the join is the binned equi-join above (no NLJ, no
    cartesian — pinned by test_plan_shapes), and both scans prune to one
    event_type each before anything shuffles.
    """
    ev = load_events(spark, sf_dir)
    bursts = error_bursts(ev, gap)
    padded = bursts.select(
        (F.col("burst_start") - F.expr(f"INTERVAL {pad_minutes} MINUTES")).alias(
            "j_start"
        ),
        (F.col("burst_end") + F.expr(f"INTERVAL {pad_minutes} MINUTES")).alias(
            "j_end"
        ),
        "burst_start",
        "burst_end",
        "n_errors",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", round2(F.col("value")).alias("value")
    )
    return (
        binned_interval_join(purchases, padded, "ts", "j_start", "j_end", bin_seconds)
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            "burst_start",
            "burst_end",
            "n_errors",
        )
        .orderBy("event_id", "burst_start")
    )
