"""The session factory's defaults (shuffle partitions, codegen cache) and
its one pin rule."""

from __future__ import annotations

import ast
import gc
import pathlib
import time

import hadoop_pyspark_streaming_analytics_spark as pkg
from hadoop_pyspark_streaming_analytics_spark.monitoring import codegen_compiles
from hadoop_pyspark_streaming_analytics_spark.plans import CATALOG
from hadoop_pyspark_streaming_analytics_spark.session import get_spark, pin

from .oracle import compare

#: Modules still calling ``localCheckpoint`` directly, until their sites
#: move to ``pin``; the list only shrinks.
RAW_PIN_MODULES = {
    "operators/corpus.py",
    "operators/profiling.py",
    "operators/retrieval.py",
}


def test_default_shuffle_partitions_follow_parallelism(spark):
    """Unpinned, the initial shuffle partition count (and so a new stateful
    query's state-store count) is one per core of the live context."""
    try:
        assert get_spark() is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_repeated_queries_reuse_compiled_classes(spark):
    """A cycle of plans whose classes overflow Spark's 100-entry codegen
    cache compiles nothing on its second pass: the cache holds the
    session's working set instead of thrashing."""
    assert not spark.streams.active  # nothing else may compile meanwhile
    queries = [f"id + {k} AS x" for k in range(75)]  # ~2 classes each

    def run_all() -> None:
        for q in queries:
            spark.range(1).selectExpr(q).collect()

    run_all()
    before = codegen_compiles(spark)
    run_all()
    assert codegen_compiles(spark) - before == 0



def test_pin_is_durable_under_a_checkpoint_dir(spark, sf_dir, tmp_path):
    """With a checkpoint dir every pin is a reliable checkpoint written
    there, and a pinned catalog entry still matches its oracle; with the
    dir unset, pins are executor-local again and write nothing."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None

    def written() -> int:
        return len(list(tmp_path.glob("*/rdd-*")))

    sc.setCheckpointDir(str(tmp_path))
    try:
        # held: an unreferenced pin's dir goes at the next JVM GC
        first = pin(spark.range(10))
        assert first.count() == 10
        assert written() == 1
        spec = next(s for s in CATALOG if s.name == "dedup_minhash_lsh")
        compare(spec, spark, sf_dir)
        assert written() > 1
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    before = written()
    assert pin(spark.range(10)).count() == 10
    assert written() == before


def test_unreferenced_pins_leave_the_checkpoint_dir(spark, tmp_path):
    """A reliable pin's ``rdd-*`` dir is deleted once its frame is
    garbage-collected, so a long-lived session's checkpoint dir does not
    keep every pin it ever wrote."""
    sc = spark.sparkContext

    def written() -> int:
        return len(list(tmp_path.glob("*/rdd-*")))

    sc.setCheckpointDir(str(tmp_path))
    try:
        df = pin(spark.range(10))
        assert df.count() == 10 and written() == 1
        del df
        deadline = time.monotonic() + 60
        while written() and time.monotonic() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.5)
        assert written() == 0
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def _local_checkpoint_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "localCheckpoint"
    ]


def test_raw_local_checkpoints_only_in_pin():
    """``session.pin`` is the package's one ``localCheckpoint`` call, apart
    from the modules in ``RAW_PIN_MODULES``."""
    root = pathlib.Path(pkg.__file__).parent
    trees = {
        p.relative_to(root).as_posix(): ast.parse(p.read_text())
        for p in root.rglob("*.py")
    }
    raw = {m for m, tree in trees.items() if _local_checkpoint_calls(tree)}
    assert raw == RAW_PIN_MODULES | {"session.py"}
    session = trees["session.py"]
    pin_def = next(
        n for n in session.body if isinstance(n, ast.FunctionDef) and n.name == "pin"
    )
    assert _local_checkpoint_calls(session) == _local_checkpoint_calls(pin_def)
