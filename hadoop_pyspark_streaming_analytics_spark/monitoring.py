"""Pipeline observability: in-flight metrics without extra actions.

At 100 TB, "count the rows twice" is not a monitoring strategy — every
extra action is another full scan.  Spark provides two zero-cost hooks:

* ``DataFrame.observe`` + ``Observation`` — named aggregates computed as a
  side effect of the job that already runs (metrics ride the existing
  scan; no second action).  :func:`observed` wraps the idiom.
* ``StreamingQueryListener`` — per-micro-batch progress (input rows,
  duration, state size) pushed by the engine.  :class:`ProgressCollector`
  accumulates them for tests/dashboards.

:func:`codegen_compiles` reads the JVM's codegen compile counter, so a
run can show whether it reused its compiled classes.

All three are JVM-side instrumentation; nothing here adds a Python hot
path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def observed(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach named side-effect metrics to ``df``'s next action.

    Returns (df, observation); read ``observation.get`` AFTER an action
    runs.  Default metrics when none given: row count.
    """
    obs = Observation(name)
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("rows"),)
    return df.observe(obs, *metrics), obs


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far (every
    codegen cache miss, driver and local executors alike)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class ProgressCollector(StreamingQueryListener):
    """Accumulates micro-batch progress events: total input rows and the
    per-batch numInputRows sequence — the lag/throughput signal the
    reference eyeballed in console warnings, as queryable data."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, int]] = []  # (batchId, numInputRows)

    # StreamingQueryListener abstract surface
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append((int(p.batchId), int(p.numInputRows)))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    @property
    def total_input_rows(self) -> int:
        return sum(n for _, n in self.batches)
