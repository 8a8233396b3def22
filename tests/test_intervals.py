"""Binned non-equi interval join (operators/intervals.py) and the
asymmetric containment dedup (operators/dedup.py:containment_pairs).

The oracle-parity of the two catalog entries is covered by
test_catalog_oracle; here we pin (a) the join semantics against a naive
cross-join spelling, (b) the plan shape (no nested-loop/cartesian), and
(c) the containment-vs-Jaccard asymmetry that motivates the operator.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from hadoop_pyspark_streaming_analytics_spark.operators import dedup
from hadoop_pyspark_streaming_analytics_spark.operators.intervals import (
    binned_interval_join,
    error_bursts,
    error_bursts_merged,
    purchases_during_error_bursts,
)

from .test_plan_shapes import plan_of


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(
        minutes=minute, seconds=second
    )


def test_binned_join_matches_naive_cross_join(spark):
    """The binned equi-join must produce exactly the rows of the naive
    ``BETWEEN`` cross join — for every bin width, including widths far
    smaller and far larger than the intervals (bin width is an efficiency
    knob, never a correctness knob)."""
    points = spark.createDataFrame(
        [Row(pid=i, ts=_ts(i * 7)) for i in range(30)]
    )
    intervals = spark.createDataFrame(
        [
            Row(iid=1, j_start=_ts(5), j_end=_ts(45)),
            Row(iid=2, j_start=_ts(40), j_end=_ts(80)),  # overlaps iid=1
            Row(iid=3, j_start=_ts(200), j_end=_ts(200)),  # zero-width, no hits
        ]
    )
    naive = (
        points.crossJoin(intervals)
        .filter(F.col("ts").between(F.col("j_start"), F.col("j_end")))
        .select("pid", "iid")
    )
    expected = sorted(map(tuple, naive.collect()))
    assert len(expected) > 0
    # a point inside the iid=1/iid=2 overlap must appear under BOTH
    assert len({p for p, _ in expected}) < len(expected)
    for width in (60, 600, 3600, 86400):
        got = binned_interval_join(
            points, intervals, "ts", bin_seconds=width
        ).select("pid", "iid")
        assert sorted(map(tuple, got.collect())) == expected, f"width={width}"


def test_binned_join_plan_has_no_nested_loop(spark, sf_dir):
    """The whole point of binning: the non-equi time predicate must NOT
    plan as BroadcastNestedLoopJoin or CartesianProduct — the bin equi-key
    carries the join; the BETWEEN runs as a post-join filter."""
    plan = plan_of(purchases_during_error_bursts(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_error_bursts_split_at_midnight(spark):
    """The scale contract: bursts are day-partitioned (parallel
    sessionization), so a run of errors straddling midnight yields one
    burst per calendar day."""
    ev = spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=dt.datetime(2024, 1, 1, 23, 58) + dt.timedelta(minutes=i),
                event_type="error",
                user_id=1,
                value=1.0,
            )
            for i in range(5)  # 23:58 .. 00:02 — one gap-free run
        ]
    )
    got = sorted(
        error_bursts(ev, gap="5 minutes").collect(), key=lambda r: r.burst_start
    )
    assert [r.n_errors for r in got] == [2, 3]
    assert got[0].burst_end.day == 1 and got[1].burst_start.day == 2


def test_error_bursts_merged_repairs_midnight_chain(spark):
    """The two-phase boundary-merge (VERDICT r8 item 6) must equal GLOBAL
    sessionization on the cases day-splitting gets wrong: a burst
    straddling one midnight, a chain of errors spanning TWO midnights
    (day-local yields 3 fragments -> one burst), while bursts >= gap
    apart stay separate and interior bursts pass through untouched."""

    def run(rows):
        ev = spark.createDataFrame(
            [
                Row(
                    event_id=i,
                    ts=t,
                    event_type="error",
                    user_id=1,
                    value=1.0,
                )
                for i, t in enumerate(rows)
            ]
        )
        return sorted(
            (r.burst_start, r.burst_end, r.n_errors)
            for r in error_bursts_merged(ev, gap="5 minutes").collect()
        )

    base = dt.datetime(2024, 1, 1, 23, 58)
    # one straddle: 23:58..00:02 in 1-minute steps
    straddle = [base + dt.timedelta(minutes=i) for i in range(5)]
    got = run(straddle)
    assert len(got) == 1
    assert got[0] == (straddle[0], straddle[-1], 5)

    # two-midnight chain: errors every 4 minutes for 49 hours
    chain = [
        dt.datetime(2024, 1, 1, 22, 0) + dt.timedelta(minutes=4 * i)
        for i in range(49 * 15 + 1)
    ]
    got = run(chain)
    assert len(got) == 1
    assert got[0] == (chain[0], chain[-1], len(chain))
    # sanity: the day-split spelling fragments the same chain into 3
    ev = spark.createDataFrame(
        [
            Row(event_id=i, ts=t, event_type="error", user_id=1, value=1.0)
            for i, t in enumerate(chain)
        ]
    )
    assert error_bursts(ev, gap="5 minutes").count() == 3

    # exactly-gap apart still merges (session_window's adjacent-range
    # semantics — empirically pinned, and what the > in the chain brk
    # and the oracle mirror) ...
    adj = straddle + [straddle[-1] + dt.timedelta(minutes=5)]
    got = run(adj)
    assert len(got) == 1 and got[0][2] == 6
    # ... while strictly-more-than-gap separates across the midnight
    sep = straddle + [straddle[-1] + dt.timedelta(minutes=5, seconds=1)]
    got = run(sep)
    assert len(got) == 2 and got[0][2] == 5 and got[1][2] == 1

    # interior bursts (nowhere near midnight) are untouched
    interior = [
        dt.datetime(2024, 1, 1, 12, 0) + dt.timedelta(minutes=i)
        for i in range(3)
    ]
    got = run(interior + straddle)
    assert len(got) == 2
    assert (interior[0], interior[-1], 3) in got


def test_error_bursts_merged_plan_stays_day_partitioned(spark):
    """The scale contract of the merged twin: error-grain rows still
    sessionize hash-partitioned by day (never a single-partition window
    over raw errors); only the bounded boundary frame (<= 2 bursts/day)
    may pass through the global chain window.  Synthetic data WITH a
    midnight-crossing burst — on boundary-free data AQE's empty-relation
    propagation folds the whole boundary branch away (observed at
    sf0.001), which would leave nothing to assert."""
    from .test_plan_shapes import final_plan_of

    rows = [
        dt.datetime(2024, 1, 1, 23, 58) + dt.timedelta(minutes=i)
        for i in range(5)
    ] + [
        dt.datetime(2024, 1, 2, 12, 0) + dt.timedelta(minutes=i)
        for i in range(3)
    ]
    ev = spark.createDataFrame(
        [
            Row(event_id=i, ts=t, event_type="error", user_id=1, value=1.0)
            for i, t in enumerate(rows)
        ]
    )
    # Phase 1 (the error-grain work) is :func:`error_bursts`, which the
    # merged twin checkpoint-pins since round 17 — the sessionization
    # exchange therefore lives in the PINNED subtree's plan, not the
    # returned one, so assert the day-partitioning contract on the
    # unpinned phase-1 frame directly.
    p1 = final_plan_of(error_bursts(ev, gap="5 minutes"))
    assert (
        "hashpartitioning(_groupingexpression" in p1
        or "hashpartitioning(d" in p1
    ), p1
    df = error_bursts_merged(ev, gap="5 minutes")
    plan = final_plan_of(df)
    # the returned plan must read the burst-grain pin, never re-run the
    # error scan (round-17 census fix)
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan parquet" not in plan, plan
    # every single-partition exchange feeds the BURST-grain boundary
    # frame (burst_start columns), never raw error rows
    lines = plan.splitlines()
    singles = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert singles, plan  # the chain window must actually be exercised
    for i in singles:
        child = lines[i + 1]
        assert "burst_start" in child, child
        assert "event_type" not in child and "event_id" not in child, child


def test_binned_join_hot_bin_triggers_aqe_skew_split(spark, sf_dir):
    """VERDICT r8 item 7: intervals.py's skew note claims a hot bin is
    ordinary equi-join skew that AQE's skew-join split absorbs — pin it
    the way test_skew_and_bucketing does: one hour containing ~90% of
    the intervals, skew thresholds scaled to toy size, and the final
    adaptive plan must mark the join skew=true."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = dt.datetime(2024, 1, 1, 12, 0)
        n = 20_000
        # ~90% of intervals inside ONE hour bin; the rest spread wide
        intervals = spark.range(n).select(
            F.col("id").alias("iid"),
            F.when(
                F.col("id") % 10 < 9,
                F.lit(hot) + F.make_interval(secs=F.col("id") % 600),
            )
            .otherwise(
                F.lit(hot)
                + F.make_interval(hours=(F.col("id") % 500) + 2)
            )
            .alias("j_start"),
        ).withColumn(
            "j_end", F.col("j_start") + F.expr("INTERVAL 30 SECONDS")
        )
        points = spark.range(4_000).select(
            F.col("id").alias("pid"),
            (
                F.lit(hot) + F.make_interval(secs=(F.col("id") % 3600))
            ).alias("ts"),
        )
        joined = binned_interval_join(points, intervals, "ts")
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in final or "ShuffledHashJoin" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc fully embedded in a much larger one: containment 1.0,
    Jaccard well under any useful threshold — the pair the symmetric
    operator is blind to."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{chr(97 + i)} pad{chr(97 + i)} word{chr(97 + i)}" for i in range(20))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=small), Row(doc_id=2, text=big)]
    )
    sh = dedup.doc_shingles(docs, 3)
    got = dedup.containment_pairs_from_shingles(sh, df_cap=5, threshold=0.8).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.doc_a, row.doc_b) == (1, 2)
    assert row.containment >= 0.999
    # the same pair is invisible to Jaccard >= 0.5
    jac = row.intersection / (row.size_a + row.size_b - row.intersection)
    assert jac < 0.5


def test_containment_df_cap_blocks_hot_shingle_candidates(spark):
    """Docs sharing ONLY an above-cap shingle must not pair (the bounded-
    fan-out guarantee); docs paired via a rare shingle still count hot
    shingles toward the intersection."""
    hot = "common boiler plate"
    docs = spark.createDataFrame(
        # 6 docs all containing the hot shingle (df=6 > cap=5), otherwise
        # disjoint — no pair may form.
        [Row(doc_id=i, text=f"{hot} unique{i} only{i} here{i}") for i in range(6)]
    )
    sh = dedup.doc_shingles(docs, 3)
    assert dedup.containment_pairs_from_shingles(sh, df_cap=5, threshold=0.1).count() == 0
    # add a pair sharing a rare shingle AND the hot one: candidate forms
    # via the rare shingle; the hot shingle still counts in intersection.
    docs2 = spark.createDataFrame(
        [Row(doc_id=i, text=f"{hot} unique{i} only{i} here{i}") for i in range(6)]
        + [
            Row(doc_id=10, text=f"{hot} rare pair shingle"),
            Row(doc_id=11, text=f"{hot} rare pair shingle trailing extra words"),
        ]
    )
    sh2 = dedup.doc_shingles(docs2, 3)
    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup.containment_pairs_from_shingles(
            sh2, df_cap=5, threshold=0.5
        ).collect()
    }
    assert set(got) == {(10, 11)}
    # doc 10's full shingle set ("common boiler plate", "boiler plate rare",
    # "plate rare pair", "rare pair shingle") is contained in doc 11's.
    assert got[(10, 11)].containment >= 0.999
    assert got[(10, 11)].intersection == got[(10, 11)].size_a


def test_containment_collects_posting_lists_over_rare_shingles_only(spark):
    """The ``collect_set`` posting-list aggregate sits above a LeftSemi
    join against the df-capped rare shingles, so a hot shingle's document
    list is never built in one aggregation buffer: the df count runs
    first, in constant space per group."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"common boiler plate unique{i}") for i in range(6)]
    )
    sh = dedup.doc_shingles(docs, 3)
    plan = dedup.containment_pairs_from_shingles(sh, df_cap=5, threshold=0.1)
    lines = plan._jdf.queryExecution().optimizedPlan().toString().splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    at = next(i for i, line in enumerate(lines) if "collect_set" in line)
    below = []
    for line in lines[at + 1 :]:
        if depth(line) <= depth(lines[at]):
            break
        below.append(line)
    assert any("Join LeftSemi" in line for line in below), "\n".join(lines)
