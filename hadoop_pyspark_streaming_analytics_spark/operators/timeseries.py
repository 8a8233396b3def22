"""Time-series / training-pipeline operators over the ``events`` table —
extensions BEYOND the reference surface (SURVEY.md §2.5 lists grouping
sets/rollup and percentiles as "not present"; sessionization is the batch
twin of Structured Streaming's ``session_window``).

Every operator here is a stock-Catalyst plan (no UDFs):

- ``hourly_rollup`` — multi-grain aggregation in ONE pass (`ROLLUP`), the
  hypertable-rollup shape: Spark expands grouping sets map-side, so the
  cost is one shuffle regardless of grain count, vs one job per grain if
  done naively.
- ``user_sessions`` — native ``session_window`` (dynamic-gap merging is
  state-store-backed in streaming and a single sort-based aggregation in
  batch); the DuckDB oracle proves it equals classic gaps-and-islands SQL.
- ``event_type_percentiles`` — exact ``percentile`` (sort-based, per-group;
  at 100 TB switch to ``approx_percentile`` with a documented error bound —
  t-digest sketches merge map-side and cut the shuffle to O(sketch)).
- ``top_users_per_type`` — top-K per group: partial agg then a bounded
  per-group window; the window's partition count equals |event_type|, so
  skew is bounded by K not by group size.
- ``props_avg_k`` — semi-structured extraction: ``get_json_object`` is
  JVM-side (Jackson) and codegen-friendly; at scale, promote hot JSON paths
  to real columns at ingest instead of re-parsing per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import round2
from ..session import pin
from ..sources.readers import load_events


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (event_type, hour): per-hour-per-type, per-type subtotals, and
    a grand total in one shuffle.  ``grouping_level`` (SQL-standard
    GROUPING_ID bitmask) disambiguates the NULLs rollup introduces."""
    ev = load_events(spark, sf_dir).withColumn("hour", F.date_trunc("hour", F.col("ts")))
    return (
        ev.rollup("event_type", "hour")
        .agg(
            F.grouping_id().cast("int").alias("grouping_level"),
            F.count(F.lit(1)).alias("cnt"),
            round2(F.sum("value")).alias("total_value"),
            F.round(F.avg("value") + F.lit(1e-8), 4).alias("avg_value"),
        )
        .select(
            "event_type", "hour", "grouping_level", "cnt", "total_value", "avg_value"
        )
    )


def sessionize(ev: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Core sessionization over any (user_id, ts, value) DataFrame — see
    :func:`user_sessions`."""
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
            round2(F.sum("value")).alias("total_value"),
        )
        .select("user_id", "session_start", "last_event", "n_events", "total_value")
    )


def user_sessions(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user sessionization with the native ``session_window`` operator:
    events closer than ``gap`` merge into one session.  Batch and streaming
    share this exact plan shape (streaming adds a watermark); the oracle is
    the classic lag/cumsum gaps-and-islands derivation."""
    return sessionize(load_events(spark, sf_dir), gap)


def event_type_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of ``value`` per event type (linear interpolation,
    matching DuckDB's ``quantile_cont``)."""
    ev = load_events(spark, sf_dir)

    def pct(q: float, alias: str):
        return F.round(
            F.expr(f"percentile(value, {q})") + F.lit(1e-8), 4
        ).alias(alias)

    return ev.groupBy("event_type").agg(
        pct(0.5, "p50"),
        pct(0.9, "p90"),
        pct(0.99, "p99"),
        F.count(F.lit(1)).alias("cnt"),
    )


def top_users_per_type(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Top-K users per event type by event count (spend tiebreak → user_id).
    Aggregate first (shrinks the window input to |type × user|), then a
    per-type row_number — the bounded top-K-per-group pattern."""
    ev = load_events(spark, sf_dir)
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        round2(F.sum("value")).alias("total_value"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("event_type", "user_id", "cnt", "total_value", "rnk")
    )


def ewma_per_user(
    spark: SparkSession, sf_dir: str, alpha: float = 0.3
) -> DataFrame:
    """Batch twin of the streaming stateful EWMA
    (streaming/stateful.py:ewma_per_key): per-user exponentially weighted
    moving average of ``value`` folded in (ts, event_id) order.

    The fold is a Catalyst higher-order ``aggregate`` over an
    ``array_sort``-ed ``collect_list`` — no Python, and the identical
    left-to-right double arithmetic as the DuckDB ``list_reduce`` oracle,
    so the hash match verifies the stateful operator's SEMANTICS exactly.
    Scale note: this spelling carries O(events-per-key) arrays through one
    shuffle — right for bounded history; the streaming operator is the
    unbounded-path twin with O(1) state per key."""
    ev = load_events(spark, sf_dir)
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq")
    )
    vals = "transform(seq, s -> s.value)"
    fold = (
        f"aggregate(slice({vals}, 2, size(seq) - 1), element_at({vals}, 1), "
        f"(acc, v) -> {alpha} * v + {1 - alpha} * acc)"
    )
    return seq.select(
        "user_id",
        F.size("seq").alias("n_events"),
        F.round(F.expr(fold) + F.lit(1e-8), 4).alias("ewma"),
    )


def event_scalar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function breadth in one shuffle-free projection (SURVEY §2.9
    lists date trunc/format/arithmetic, regex replace, and math beyond
    ``* / round`` as absent from the reference): date_trunc, date_format,
    ISO weekday, timestamp + interval, regexp_replace, abs/sign/sqrt/ln,
    greatest.  Everything is a Catalyst built-in inside one
    WholeStageCodegen span — the model for per-row feature derivation at
    100 TB (a Python UDF doing the same work is the ~100x-slower trap).

    Cross-engine notes: Spark ``weekday`` is 0=Monday vs DuckDB ``isodow``
    1=Monday (hence +1); ``sign`` returns double in Spark, int in DuckDB
    (hence the cast).
    """
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("day_hour_str"),
        (F.weekday("ts") + 1).cast("int").alias("iso_dow"),
        (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("retention_check_ts"),
        F.regexp_replace("event_type", "[aeiou]", "").alias("etype_squeezed"),
        F.round(F.abs("value") + F.lit(1e-8), 4).alias("value_abs"),
        # try_cast: sign(NaN) is NaN, whose ANSI int cast is a runtime
        # crash — a degenerate value must cost one NULL, not the job
        # (probe-found, round-11; oracle mirrors with TRY_CAST).
        F.signum("value").try_cast("int").alias("value_sign"),
        F.round(F.sqrt(F.abs("value")) + F.lit(1e-8), 4).alias("value_sqrt"),
        F.round(F.log1p(F.abs("value")) + F.lit(1e-8), 4).alias("value_log1p"),
        F.round(F.greatest(F.col("value"), F.lit(0.0)) + F.lit(1e-8), 4).alias(
            "value_clipped"
        ),
    )


def props_avg_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON ``props``
    column (JVM-side ``get_json_object``) and aggregate per event type."""
    # try_cast: a NESTED object under $.k extracts as a JSON string that
    # ANSI CAST rejects (probe-found, round-11) — degrade to NULL per row.
    ev = load_events(spark, sf_dir).withColumn(
        "k", F.get_json_object("props", "$.k").try_cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.round(F.avg("k") + F.lit(1e-8), 4).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count("k").alias("cnt"),
    )


def resample_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resampling with last-observation-carried-forward —
    the standard telemetry/feature-store densification step (regular time
    grid per key, holes filled from the most recent reading).

    Plan shape (all stock Catalyst, no UDFs):

    1. per-(user, hour) last reading — ``max_by(value, struct(ts,
       event_id))``, a map-side-combinable aggregate with a deterministic
       tiebreak (same discipline as the EWMA twins);
    2. per-user hourly spine — ``sequence(min_hour, max_hour)`` exploded,
       so the spine is generated distributed, sized |users| x span, never
       collected;
    3. left join spine <- observations on (user, hour) — one equi-join
       shuffle on the composite key;
    4. carry-forward — ``last(value, ignorenulls=True)`` over an
       unbounded-preceding ROWS frame per user: window state is one value,
       partitions are per-user (bounded, millions of small groups — the
       shape window exchanges handle well).

    ``is_filled`` marks densified rows.  Values are 2dp-rounded post-carry
    (money/measurement policy).
    """
    ev = load_events(spark, sf_dir)
    # obs feeds two consumers (spine bounds + the join); pin it so the
    # fact scan runs once (no Catalyst subplan reuse).
    obs = (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(F.expr("max_by(value, struct(ts, event_id))").alias("v"))
        .transform(pin)
    )
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(h0, h1, interval 1 hour)")
            ).alias("hour_ts"),
        )
    )
    joined = spine.join(obs, ["user_id", "hour_ts"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour_ts",
        round2(F.last("v", ignorenulls=True).over(w)).alias("value_locf"),
        F.col("v").isNull().alias("is_filled"),
    )


def value_anomalies_zscore(
    spark: SparkSession, sf_dir: str, z_threshold: float = 3.0
) -> DataFrame:
    """Batch anomaly detection: flag readings whose value deviates from
    their user's mean by more than ``z_threshold`` sample standard
    deviations — the batch twin of the streaming EWMA anomaly flags
    (streaming/stateful.py), for backfill/audit over history.

    One grouped aggregate (map-side combinable: count/sum/sum-of-squares
    under the hood) joined back to the events — no window, no per-row
    shuffle beyond the one groupBy.  No broadcast hint on the |users|-sized
    stats table: AQE broadcasts it at runtime when small and degrades to a
    shuffle join at 100 TB, where a hard-coded hint would OOM.  Users with a single reading
    (stddev undefined) are never flagged.  z is 4dp-rounded (measurement
    policy) so the cross-engine hash is stable.
    """
    ev = load_events(spark, sf_dir)
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("u_mean"),
        F.stddev_samp("value").alias("u_std"),
        F.count(F.lit(1)).alias("u_n"),
    )
    z = (F.col("value") - F.col("u_mean")) / F.col("u_std")
    return (
        ev.join(stats, "user_id")
        .filter((F.col("u_n") > 1) & (F.col("u_std") > 0))
        .select(
            "event_id",
            "user_id",
            "value",
            F.round(F.col("u_mean") + F.lit(1e-8), 4).alias("user_mean"),
            F.round(z + F.lit(1e-8), 4).alias("z_score"),
        )
        .filter(F.abs(F.round(z + F.lit(1e-8), 4)) > z_threshold)
    )


def user_value_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from an event log: one
    validity interval per reading — [ts, next reading's ts), open-ended
    (null) for the current row — the standard warehouse shape for
    "what was the value AT time T" joins (pairs with the as-of join in
    operators/temporal.py).

    One per-user window (lead over (ts, event_id)) — no self-join, no
    global sort; interval rows shuffle once on user_id.  ``is_current``
    marks each user's open row.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def event_type_percentiles_approx(
    spark: SparkSession, sf_dir: str, accuracy: int = 10_000
) -> DataFrame:
    """The 100 TB twin of :func:`event_type_percentiles`: ``approx_percentile``
    (Greenwald-Khanna / t-digest-style sketch) instead of the exact sort-based
    percentile.  The sketch merges map-side, so the shuffle carries O(sketch)
    per group instead of every value — the documented scale path, here as a
    runnable, accuracy-tested operator (tests bound the error vs the exact
    twin).  ``accuracy`` trades memory for error: 1/accuracy relative rank
    error."""
    ev = load_events(spark, sf_dir)

    def apct(q: float, alias: str):
        return F.round(
            F.expr(f"approx_percentile(value, {q}, {accuracy})") + F.lit(1e-8), 4
        ).alias(alias)

    return ev.groupBy("event_type").agg(
        apct(0.5, "p50"),
        apct(0.9, "p90"),
        apct(0.99, "p99"),
        F.count(F.lit(1)).alias("cnt"),
    )


def props_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-typed JSON extraction — the parse-ONCE twin of
    :func:`props_avg_k`: ``from_json`` with an explicit schema materializes
    every needed field in a single Jackson pass, where per-path
    ``get_json_object`` re-parses the string for each path (N paths =
    N parses of every row — the quiet 100 TB tax).  Same aggregate output
    as props_avg_k plus a no-value count: rows whose non-null props yielded
    no ``k`` (bad JSON or missing key — from_json nulls both, the
    PERMISSIVE discipline quantified; the oracle uses the same
    definition)."""
    ev = load_events(spark, sf_dir).withColumn(
        "p", F.from_json("props", "k LONG")
    )
    return ev.groupBy("event_type").agg(
        F.round(F.avg(F.col("p.k")) + F.lit(1e-8), 4).alias("avg_k"),
        F.min(F.col("p.k")).alias("min_k"),
        F.max(F.col("p.k")).alias("max_k"),
        F.count(F.col("p.k")).alias("cnt"),
        F.sum(
            F.when(
                F.col("p.k").isNull() & F.col("props").isNotNull(), 1
            ).otherwise(0)
        ).alias("malformed"),
    )


def event_session_attribution(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-EVENT session assignment — the attribution twin of
    :func:`user_sessions` (which returns one row per session): every event
    is labeled with its session's start timestamp, the key downstream
    conversion/funnel joins group on.

    Native gaps-and-islands: lag → new-session flag → running cumsum →
    min(ts) per (user, session) — three windows, all partitioned per user
    over a TOTAL order (ts, event_id), so ties can't float between
    engines.  The split is STRICTLY-greater (gap > interval starts a new
    session): ``session_window`` merges ADJACENT ranges — an event exactly
    ``gap`` after the last still continues the session (pinned in
    test_intervals.py) — so the lag spelling must merge exact-gap ties
    too, or the documented cross-check below diverges on them (ADVICE
    r9).  Cross-checked against the session_window tier by test: the
    distinct (user, session_start) pairs here must equal user_sessions'
    rows exactly.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.col("ts") - F.lag("ts").over(w))
                > F.expr(f"INTERVAL {gap}")
            ),
            1,
        ).otherwise(0),
    )
    sid = flagged.withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid")
    return sid.select(
        "event_id",
        "user_id",
        "ts",
        F.min("ts").over(ws).alias("session_start"),
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by FIRST-seen day, counted
    on each later activity day as days-since-cohort — the
    product-analytics staple (D1/D7/D30 retention falls out of it).

    Two aggregations: per-user first day (map-side combinable), joined
    back (|users|-sized — no broadcast hint; AQE picks broadcast when it
    fits and a shuffle join when it doesn't), then one (cohort_day,
    day_offset) count-distinct over the events scan.  No window, no
    self-join; the output is |cohorts| x |offsets| — tiny at any input
    scale."""
    # TIMESTAMP on both engines (the events_scalar_features convention:
    # DuckDB date_trunc yields DATE, Spark yields TIMESTAMP — cast there).
    ev = load_events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", "ts")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


def value_histogram(
    spark: SparkSession, sf_dir: str, bin_width: float = 25.0
) -> DataFrame:
    """Fixed-width histogram of event values per type — the distribution
    glance before picking thresholds/buckets.  One map-side-combinable
    aggregate; bins are floor(value / width), engine-portable (no
    width_bucket dependency)."""
    ev = load_events(spark, sf_dir)
    # Degenerate scalars bin to NULL, never crash or mis-bin (probe-found,
    # round-11): floor() maps ±Inf to LONG_MIN/MAX — try_cast turns the
    # ANSI int overflow into NULL — and silently maps NaN to bin 0
    # ((long) Math.floor(NaN) in the JVM), so NaN is nulled FIRST (nanvl;
    # the oracle's isnan CASE mirrors it — DuckDB's floor keeps NaN, whose
    # TRY_CAST is NULL, so without the guard the engines would disagree).
    clean_value = F.nanvl(F.col("value"), F.lit(None).cast("double"))
    bin_col = F.floor(clean_value / bin_width).try_cast("int")
    return (
        ev.groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "bin_low", F.round(F.col("bin") * bin_width + F.lit(1e-8), 2)
        )
    )


def weekly_value_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week reporting: weekly value totals per event type with
    absolute and percent change vs the previous week (lag over the
    |types x weeks|-sized aggregate — the window input is report-sized,
    never the fact table)."""
    ev = load_events(spark, sf_dir).withColumn(
        "week", F.date_trunc("week", F.col("ts"))
    )
    weekly = ev.groupBy("event_type", "week").agg(
        round2(F.sum("value")).alias("week_total")
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("week_total").over(w)
    return weekly.select(
        "event_type",
        "week",
        "week_total",
        F.round(F.col("week_total") - prev + F.lit(1e-6), 2).alias("wow_change"),
        F.round(
            (F.col("week_total") - prev) / prev * 100 + F.lit(1e-8), 4
        ).alias("wow_pct"),
    )


def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: derive a per-event map of named features from the
    JSON props payload (``create_map``), explode it to (key, value) rows,
    and aggregate per key — the schema-on-read pattern for ragged
    telemetry where the feature set varies per event.

    The map explode is a generator projection (map-local row fan-out, ×3
    here) feeding one map-side-combinable aggregate on a 3-value key — at
    100 TB the only shuffle carries 3 rows per partition.
    """
    ev = load_events(spark, sf_dir)
    # try_cast: same nested-JSON crash class as props_avg_k (probe-found,
    # round-11) — a non-scalar $.k degrades to NULL map values per row.
    k = F.get_json_object("props", "$.k").try_cast("long")
    m = F.create_map(
        F.lit("k"), k,
        F.lit("parity"), k % 2,
        F.lit("bucket"), F.floor(k / 10).cast("long"),
    )
    return (
        ev.select(F.explode(m).alias("key", "value"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("total"),
            F.round(F.avg("value") + F.lit(1e-8), 4).alias("mean_value"),
        )
        .orderBy("key")
    )


def values_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization: clip each event's value into its type's
    exact [p05, p95] band — the outlier-taming transform applied before
    training statistical features on heavy-tailed telemetry.

    One grouped exact-percentile aggregate (|event_types| rows) joined
    back onto the scan — AQE broadcasts the cutpoint table; at 100 TB
    swap the exact percentile for the approx_percentile sketch twin
    (event_type_percentiles_approx) without changing the join shape.
    Clipping uses least/greatest, not a UDF — whole-stage codegen keeps
    the pass at scan speed.
    """
    ev = load_events(spark, sf_dir)
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    return (
        ev.join(cuts, "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") + F.lit(1e-8), 4).alias("value"),
            F.round(
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
                + F.lit(1e-8),
                4,
            ).alias("value_winsorized"),
            (
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
            ).alias("was_clipped"),
        )
    )


#: Default row count of :func:`key_skew_report` — one definition shared
#: with the catalog oracle's LIMIT so engine default and oracle cannot
#: silently diverge (ADVICE r5).
SKEW_REPORT_TOP = 20


def key_skew_report(
    spark: SparkSession, sf_dir: str, top: int = SKEW_REPORT_TOP
) -> DataFrame:
    """Join/agg-key SKEW ADVISOR over events.user_id: the ``top`` heaviest
    keys with their event counts, corpus share, and a suggested salt
    factor (ceil(count / median-key-count)) — the number
    :func:`skew.salted_join`'s ``salt`` parameter is chosen from, and the
    report that decides between AQE skew-join splitting and explicit
    salting before a big shuffle.

    Plan shape: one map-side-combined count per key, a 1-row percentile
    aggregate broadcast back, and a TakeOrderedAndProject top-K — no
    global sort, one events pass at any volume.  ``counts`` has TWO
    consumers below (the 1-row stats aggregate and the share/salt
    projection), so it is checkpoint-pinned: unpinned, each consumer
    re-ran the full events scan + count — the round-17 census caught
    exactly that (2 events scans where this docstring claimed one).
    The pinned frame is (user_id, n_events), ~16 B/key.
    """
    ev = load_events(spark, sf_dir)
    counts = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .transform(pin)
    )
    stats = counts.agg(
        F.expr("percentile(n_events, 0.5D)").alias("median_n"),
        F.sum("n_events").alias("total_n"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round(F.col("n_events") / F.col("total_n") + F.lit(1e-8), 6).alias(
                "share"
            ),
            F.ceil(
                F.col("n_events") / F.greatest(F.col("median_n"), F.lit(1.0))
            )
            .cast("int")
            .alias("salt_factor"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(top)
    )
