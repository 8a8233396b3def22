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

Compiled whole-stage-codegen classes sit in one JVM-global LRU cache
(``spark.sql.codegen.cache.maxEntries``), a static conf sized here to the
catalog's generated-class working set so repeated plans reuse their
classes; it applies only when ``get_spark`` builds the session, and a
vanilla session keeps Spark's 100 entries.

Pins: an operator materialises a frame that several consumers read, or
an iterative loop's round, with :func:`pin`.  A pin truncates lineage, so
a local pin lost with its executor fails the job.  The rule is one conf:
when ``spark.checkpoint.dir`` (or ``SparkContext.setCheckpointDir``)
names a fault-tolerant directory, every pin is a reliable checkpoint
written there and survives executor loss; otherwise every pin is
executor-local.  Local runs and a vanilla session set no directory.
Under ``get_spark`` a reliable pin's files are deleted once its frame is
garbage-collected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
    # Compiled whole-stage-codegen classes live in a JVM-global LRU cache
    # whose default of 100 entries is below the working set of a session
    # that re-runs its plans: the full catalog compiles 2,451 classes at
    # sf0.001, so cycling through it misses on every lookup and recompiles
    # (and re-JITs) every class on every run.  4096 is the next power of
    # two above that.  A static conf: it takes effect only when this
    # factory builds the JVM's first session; a vanilla session (the
    # driver's __spark_entry__ path) keeps 100.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # A reliable pin's rdd-* directory is deleted once its frame is
    # garbage-collected; without this a long-lived session's checkpoint
    # directory keeps every pin it ever wrote.  Static, like the above.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
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


def pin(df: DataFrame) -> DataFrame:
    """Materialise ``df`` now, truncating its lineage: a reliable
    checkpoint when the context has a checkpoint directory, else a local
    one (module docstring)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
