#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 24 --trace 0

Run from the repository root.  The run writes its inputs and outputs under
``.perfbench_run/`` there, prints a readable report, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ledger with ``--trace 1``).  Metric definitions: ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "hadoop_pyspark_streaming_analytics_spark"
SPEC = os.path.join(ROOT, "BENCHMARK.json")

def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_stamp(spark, seed: int) -> dict:
    sc = spark.sparkContext
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "seed": seed,
    }


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM; the JVM exits when its stdin
    closes, and its Python workers follow it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(SPEC):
        fail(f"run from a full checkout: {ENGINE}/ and BENCHMARK.json must sit next to perfbench/")
    sys.path.insert(0, ROOT)
    from perfbench import probes
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    with open(SPEC) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, run_id)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    # Spark scratch space and temp files stay inside the checkout; the
    # engine itself gets the same cores-from-host setting as the test tier.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"

    wl = WORKLOADS[args.workload](args.seed, work)
    tree = probes.ProcTree()
    tracer = probes.Tracer(run_id)
    layer: dict[str, float] = {}
    spark = None
    try:
        wl.prepare()
        t0 = time.perf_counter()
        from hadoop_pyspark_streaming_analytics_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl.warmup(spark)
        t2 = time.perf_counter()
        tracer.add("session start", "session", t0, t1, None)
        tracer.add("warm-up", "session", t1, t2, None)
        layer["session.start_s"], layer["session.warmup_s"] = t1 - t0, t2 - t1

        ledger = probes.Ledger(spark) if args.trace else None
        n_units = wl.units(args.seconds)
        setup_s = probes.process_age_s()
        steal0 = probes.steal_ticks()
        cpu0 = tree.cpu_s()
        tree.start_sampling()
        ops, traced_s, probe_s = [], 0.0, 0.0
        t_first = time.perf_counter()
        for u in range(n_units):
            u0 = time.perf_counter()
            probe = probes.NULL_PROBE
            if args.trace:
                probe = probes.Probe(ledger, tracer, layer, tracer.add("unit", "run", u0, u0, None))
                with probe.costed():
                    ledger.collect()  # jobs between units belong to none
                    py0 = tree.python_worker_cpu_s()
            ops.extend(wl.unit(u, probe))
            if args.trace:
                with probe.costed():
                    probe.add("functions.python_cpu_s", tree.python_worker_cpu_s() - py0)
                u1 = time.perf_counter()
                tracer.close(probe.parent, u1)
                traced_s += u1 - u0
                probe_s += probe.cost_s
        wall_s = time.perf_counter() - t_first
        cpu_s = tree.cpu_s() - cpu0
        rss = tree.stop_sampling()
        steal1 = probes.steal_ticks()
        gauges = wl.gauges() if args.trace else {}
        props = wl.properties()
        stamp = host_stamp(spark, args.seed)
        # share of the host's CPU time taken by the hypervisor while timing
        stamp["steal_share"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
        t3 = time.perf_counter()
        check_errors = wl.check()
        t4 = time.perf_counter()
    finally:
        wl.stop()
        if spark is not None:
            stop_jvm(spark)
        if not tree.wait_children(60):
            print("perfbench: child processes still running after 60 s", file=sys.stderr)
    phases = {"timed_s": wall_s, "check_s": t4 - t3, "stop_s": time.perf_counter() - t4}

    # Result: an operation fails if it raised or its output check failed;
    # a failed stream check fails every step, as they produced the output.
    failed_ops = [
        (name, err or check_errors.get(name) or next(iter(check_errors.values()), None))
        for name, _, err in ops
        if err or name in check_errors or (wl.kind == "stream" and check_errors)
    ]
    attempted, failed = len(ops), len(failed_ops)
    latencies = [lat for _, lat, _ in ops]
    # Each operation's median over the timed units, combined across
    # operations by geometric mean: which query happens to sit in the
    # middle of a mixed list of cheap and dear queries does not move it.
    per_op: dict[str, list[float]] = {}
    for name, lat, _ in ops:
        per_op.setdefault(name.split("#")[0], []).append(lat)
    op_p50_s = statistics.geometric_mean(statistics.median(v) for v in per_op.values())

    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_s": (op_p50_s, "s"),
        "cpu_s": (cpu_s, "s"),
        "rss_mb": (statistics.median(rss) / 2**20, "MB"),
        "peak_rss_mb": (max(rss) / 2**20, "MB"),
        "error_rate": (failed / attempted, "ratio"),
        f"{'query' if wl.kind == 'batch' else 'batch'}_p50_s": (statistics.median(latencies), "s"),
    }
    metrics["rows_per_s"] = (wl.timed_rows(n_units) / wall_s, "rows/s")
    if args.trace:
        per_unit = {k: v / n_units for k, v in layer.items() if not k.startswith("session.")}
        layer.update(per_unit)
        layer.update(gauges)
        ex_run = layer.get("operators.executor_run_s", 0.0)
        layer["operators.cpu_ratio"] = layer.get("operators.executor_cpu_s", 0.0) / ex_run if ex_run else 0.0
        layer["error_rate"] = failed / attempted
        # the probe's own time: ledger reads, progress reads, span building
        layer["trace.overhead_ratio"] = probe_s / traced_s
        tracer.write(os.path.join(base, "spans", f"{run_id}.json"))

    units_of = {m["name"]: m["unit"] for m in declared}
    values = {name: metrics[name][0] for name in units_of if name in metrics}
    values.update({name: layer.get(name, 0.0) for name in units_of if name not in metrics})
    report = {
        "workload": args.workload,
        "units": n_units,
        "host": stamp,
        "inputs": props,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "per_layer": {k: round(v, 6) for k, v in sorted(layer.items())},
        "self_s": tracer.self_times() if args.trace else {},
        "failures": dict(failed_ops[:20]),
        "op_samples": {n: [round(x, 4) for x in v] for n, v in per_op.items()},
        "warmup_s": getattr(wl, "warm_times", {}),
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "check_s": getattr(wl, "check_times", {}),
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} units={n_units} host={json.dumps(stamp)}")
    print(f"# inputs {json.dumps(props)}")
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for k, v in sorted(layer.items()):
        print(f"# {k} = {v:.6g} {layer_units.get(k, '')}")
    for name, err in failed_ops[:5]:
        print(f"# FAILED {name}: {err}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units_of.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
