"""Measurement probes taken from outside the engine.

* :class:`ProcTree` reads CPU time and resident memory of this process and
  every descendant (the Spark JVM and its Python workers) from ``/proc``.
* :class:`Ledger` reads the in-process Spark UI REST API after each timed
  call and attributes the new jobs, stages and SQL executions to it.
* :class:`Probe` books both into the per-layer ledger around each timed
  call of a traced run and counts its own time; :data:`NULL_PROBE` stands
  in for it in untraced runs.
* :class:`Tracer` keeps spans in memory; a traced run writes them at its end.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK


class ProcTree:
    """CPU seconds and RSS of the process tree rooted at this process."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, list[str]]:
        stats, children = {}, {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (st := _stat(int(name))) is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _cpu(st: list[str]) -> float:
        # utime, stime and the reaped children's cutime, cstime
        return sum(int(x) for x in st[11:15]) / _TICK

    def cpu_s(self) -> float:
        return sum(self._cpu(st) for st in self._tree().values())

    def python_worker_cpu_s(self) -> float:
        """CPU of Python processes below the JVM (the UDF/Arrow workers)."""
        tree = self._tree()
        jvms = {p for p in tree if p != self.root and _comm(p) == "java"}
        total = 0.0
        for pid, st in tree.items():
            if _comm(pid).startswith("python") and _has_ancestor(tree, pid, jvms):
                total += self._cpu(st)
        return total

    def wait_children(self, timeout_s: float) -> bool:
        """Wait until no process below this one is left."""
        end = time.monotonic() + timeout_s
        while len(self._tree()) > 1:
            if time.monotonic() > end:
                return False
            time.sleep(0.1)
        return True

    def rss_bytes(self) -> int:
        return sum(int(st[21]) for st in self._tree().values()) * _PAGE

    def start_sampling(self, period_s: float = 0.05) -> None:
        """Sample the tree's RSS in a thread until :meth:`stop_sampling`."""
        self._samples = [self.rss_bytes()]
        self._stop.clear()

        def loop():
            while not self._stop.wait(period_s):
                self._samples.append(self.rss_bytes())

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampling(self) -> list[int]:
        """The RSS samples taken since :meth:`start_sampling`, in bytes."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        return self._samples + [self.rss_bytes()]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _has_ancestor(tree: dict[int, list[str]], pid: int, anc: set[int]) -> bool:
    while pid in tree:
        pid = int(tree[pid][1])
        if pid in anc:
            return True
    return False


def _epoch_s(stamp: str | None) -> float | None:
    """Spark UI time stamps look like ``2024-01-16T00:00:00.000GMT``."""
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


#: Per-layer metric <- (stage fields of the UI REST API summed, scale).
STAGE_FIELDS = {
    "operators.tasks": (("numCompleteTasks",), 1),
    "operators.executor_run_s": (("executorRunTime",), 1e-3),
    "operators.executor_cpu_s": (("executorCpuTime",), 1e-9),
    "operators.jvm_gc_s": (("jvmGcTime",), 1e-3),
    "operators.shuffle_read_bytes": (("shuffleReadBytes",), 1),
    "operators.shuffle_write_bytes": (("shuffleWriteBytes",), 1),
    "operators.spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "sources.input_bytes": (("inputBytes",), 1),
    "sources.input_records": (("inputRecords",), 1),
    "sinks.output_bytes": (("outputBytes",), 1),
    "sinks.output_records": (("outputRecords",), 1),
}


class Ledger:
    """Per-call work read from the Spark UI REST API.

    :meth:`collect` sums the jobs, completed stages and SQL executions
    that finished since its previous call, so calling it after every timed
    call keeps the UI's retention limits from dropping anything.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[tuple[int, int]] = set()
        self.next_sql = 0
        self.collect()  # everything before now belongs to nobody

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self) -> dict:
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self.seen_jobs]
        jobs = [j for j in jobs if j["status"] != "RUNNING"]
        self.seen_jobs.update(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._get("/stages?status=complete")
            if s["stageId"] in stage_ids
            and (s["stageId"], s["attemptId"]) not in self.seen_stages
        ]
        self.seen_stages.update((s["stageId"], s["attemptId"]) for s in stages)
        sql = self._get(f"/sql?details=true&planDescription=false&offset={self.next_sql}&length=10000")
        sql = [e for e in sql if e.get("status") != "RUNNING"]
        if sql:
            self.next_sql = max(e["id"] for e in sql) + 1
        sums = {
            "operators.stages": len(stages),
            "operators.plan_nodes": sum(len(e.get("nodes", [])) for e in sql),
        }
        for metric, (fields, scale) in STAGE_FIELDS.items():
            sums[metric] = scale * sum(s.get(f, 0) for s in stages for f in fields)
        spans = [
            (j["jobId"], _epoch_s(j.get("submissionTime")), _epoch_s(j.get("completionTime")))
            for j in jobs
        ]
        return {"jobs": len(jobs), "sums": sums, "job_spans": spans}


#: Streaming micro-batch phases, in execution order, and their layer.
PHASE_LAYERS = (
    ("latestOffset", "sources"),
    ("getBatch", "sources"),
    ("walCommit", "streaming"),
    ("queryPlanning", "streaming"),
    ("addBatch", "operators"),
    ("commitOffsets", "streaming"),
)


class Probe:
    """Probe of a unit in a traced run: reads the ledger after every call,
    sums the per-layer metrics into ``totals`` and records spans.
    ``cost_s`` is the time spent inside the probe, which an untraced run
    does not spend: the tracing overhead."""

    enabled = True

    def __init__(self, ledger, tracer, totals: dict, parent: int) -> None:
        self.ledger, self.tracer, self.totals = ledger, tracer, totals
        self.parent = parent
        self.cost_s = 0.0
        self._depth = 0
        self._phases: list[tuple] = []
        self._op_span = parent

    @contextmanager
    def costed(self):
        """Book the time inside to ``cost_s``; nested blocks count once."""
        self._depth += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._depth -= 1
            if not self._depth:
                self.cost_s += time.perf_counter() - t0

    def add(self, metric: str, value: float) -> None:
        self.totals[metric] = self.totals.get(metric, 0.0) + value

    def _book(self, row: dict, jobs_metric: str) -> None:
        self.add(jobs_metric, row["jobs"])
        for metric, value in row["sums"].items():
            self.add(metric, value)

    def phase(self, layer: str, name: str, t0: float, t1: float) -> None:
        with self.costed():
            row = self.ledger.collect()
            if layer == "plans":
                self.add("plans.build_s", t1 - t0)
                self._book(row, "plans.build_jobs")
            else:
                self.add("operators.exec_s", t1 - t0)
                self._book(row, "operators.jobs")
            self._phases.append((name, layer, t0, t1, row))

    def op(self, name: str, t0: float, t1: float) -> None:
        with self.costed():
            if not self._phases:  # a stream step: all of it is execution
                self.phase("operators", f"{name}.exec", t0, t1)
            self._op_span = self.tracer.add(name, "run", t0, t1, self.parent)
            for pname, layer, p0, p1, row in self._phases:
                span = self.tracer.add(pname, layer, p0, p1, self._op_span)
                for job, s, e in row["job_spans"]:
                    if s is not None and e is not None:
                        self.tracer.add_epoch(f"job {job}", "jobs", s, e, span)
            self._phases = []

    def batch_span(self, query: str, progress: dict) -> None:
        """Spans of one micro-batch and its phases, laid out in order from
        the trigger's start time."""
        dur = progress.get("durationMs", {})
        start = _epoch_s(progress["timestamp"].replace("Z", "GMT"))
        total = dur.get("triggerExecution", 0) / 1e3
        span = self.tracer.add_epoch(
            f"{query} batch {progress['batchId']}", "streaming", start, start + total, self._op_span
        )
        t = start
        for phase, layer in PHASE_LAYERS:
            d = dur.get(phase, 0) / 1e3
            self.tracer.add_epoch(phase, layer, t, t + d, span)
            t += d

    def stage_spans(self, stages: list[tuple[str, str, float]], end: float) -> None:
        """Spans of (name, layer, seconds) splits, laid back to back so the
        last ends at ``end``."""
        t = end - sum(secs for _, _, secs in stages)
        for name, layer, secs in stages:
            self.tracer.add(name, layer, t, t + secs, self._op_span)
            t += secs


class _NullProbe:
    """Probe of a unit in an untraced run: records nothing."""

    enabled = False

    def phase(self, *a) -> None: ...
    def op(self, *a) -> None: ...
    def add(self, *a) -> None: ...


NULL_PROBE = _NullProbe()


class Tracer:
    """In-memory spans: name, layer, start, end, parent and run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        # perf_counter and wall clock, for spans that come as epoch seconds
        self._t0, self._wall0 = time.perf_counter(), time.time()

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "layer": layer,
                "start": round(start - self._t0, 6),
                "end": round(end - self._t0, 6),
                "parent": parent,
                "run_id": self.run_id,
            }
        )
        return len(self.spans) - 1

    def close(self, span: int, end: float) -> None:
        """Set the end of a span opened with ``end == start``."""
        self.spans[span]["end"] = round(end - self._t0, 6)

    def add_epoch(self, name: str, layer: str, start: float, end: float, parent: int) -> int:
        shift = self._t0 - self._wall0
        return self.add(name, layer, start + shift, end + shift, parent)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the time of its children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, s["end"] - s["start"] - c)
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "self_s": self.self_times(), "spans": self.spans}, f)
