"""SparkSession factory.

The reference creates one session per script with
``spark.sql.shuffle.partitions`` hand-pinned to 4/8 for a tiny lab cluster
(reference: q2_ecommerce_analysis.py:16-23, bonus.py:18-25, q4_streaming.ipynb
cell-1 lines 16-25).  Here AQE re-plans batch shuffles at runtime, and the
initial shuffle partition count defaults to the live ``defaultParallelism``:
a stateful query fixes its state partitions (one store each, committed every
micro-batch) at its checkpoint's first start and AQE never coalesces them.
A restart keeps the count recorded in its offset log, so the default can
change without breaking checkpoints.  Under dynamic allocation
``defaultParallelism`` can be small at session start, so a cluster
deployment passes ``shuffle_partitions=`` explicitly.

Timezone is pinned to UTC so timestamp semantics are reproducible (the
reference leaked a ``-05:00`` session offset into its golden CSVs —
SURVEY.md §7).

Checkpoint durability (SCALE.md "Checkpoint durability policy", round
17): operators pin multiply-consumed frames with
``localCheckpoint(eager=True)`` — executor-local, lineage-truncating,
correct for local/bench runs where executor death is process death.  At
cluster scale the CORPUS-GRAIN pins (the narrow per-doc/per-row proxy
frames; per-entry byte budgets in SCALE.md) must become reliable
``checkpoint()`` into a fault-tolerant directory: call
``spark.sparkContext.setCheckpointDir(<HDFS/object-store path>)`` at
session build and substitute ``.checkpoint(eager=True)`` at the same
call sites — identical semantics and plans, durability instead of
job-failure on executor loss.  Bounded (query/report-grain) and
iterative-loop pins stay local at every scale; the three-tier decision
rule is in SCALE.md.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # broadcast conversion) — the scale-out replacement for the reference's
    # hand-pinned shuffle.partitions=4.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / mapInPandas path (10-100x over row UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow-optimized execution for plain @udf Python UDFs too (Spark 3.5+):
    # batches rows over Arrow instead of pickling one at a time.  Semantics
    # are unchanged — the udfs.py tier contrast (expr vs python_udf vs
    # pandas_udf) stays meaningful; this just removes gratuitous pickling
    # cost from the slow tier.
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
    # Parquet scan hygiene: pushdown + pruning are the difference between
    # reading 100 TB and reading the 2 columns a query needs.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Runtime bloom-filter join pruning: on a selective fact-dim join the
    # optimizer injects a bloom filter built from the dim side into the
    # fact scan, skipping shuffle input that can never match — a large win
    # at 100 TB where the fact side dwarfs every dimension.  (No effect on
    # tiny local data; the knob exists so cluster deployments inherit it.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # The testdata's events.ts is parquet TIMESTAMP(NANOS), which Spark
    # rejects by default; read it as a long (nanos since epoch) and convert
    # at the source (sources/readers.py:load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "hadoop-pyspark-streaming-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured, so tests and bench share one code path.
    ``shuffle_partitions`` defaults to the live ``defaultParallelism``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    for k, v in {**DEFAULT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
