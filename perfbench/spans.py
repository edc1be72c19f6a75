"""Tracing for the benchmark's traced mode, plus the process-tree RSS sampler.

Spans are recorded from the benchmark's own code around each call into the
engine's public functions; nothing inside the engine is instrumented.  Spark
counters for one operation are read from outside the package: every
operation runs under its own job group, and afterwards the application
status store (jobs, stages, tasks) and the SQL status store (executed-plan
SQL metrics of every query the operation ran) are read for that group.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory and written out once at the end of the run.

    A span is (name, start, end, parent index, op id).  When disabled,
    :meth:`span` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered by
        direct children (children never overlap: the client is serial)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_PY_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "size of files read": "scan_bytes",
}


def _parse_metric(text: str) -> float:
    """SQL status-store metrics are stored formatted: either a bare value
    ('244.2 KiB', '0 ms', '4') or 'total (min, med, max ...)\\n<total> (...)'.
    Returns the total in bytes, milliseconds or units."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([-\d.,]+)\s*(\w+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


class SparkCounters:
    """Per-operation Spark counters read from the status stores.  Each
    store object is serialized to JSON inside the JVM (with the Jackson
    mapper Spark's REST API uses), so reading one costs one gateway call
    rather than one per field."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._first_exec = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)
        self._first_exec = self.sql.executionsCount()

    def end(self, op_id: str, df=None) -> dict[str, float]:
        c: dict[str, float] = defaultdict(float)
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases().values().iterator()
            while phases.hasNext():
                c["spark.planning_ms"] += phases.next().durationMs()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(op_id):
            c["spark.jobs"] += 1
            for sid in self._json(self.app.job(job_id))["stageIds"]:
                self._add_stage(c, sid)
        for e in self._json(self.sql.executionsList(self._first_exec, 1 << 30)):
            values = self._json(self.sql.executionMetrics(e["executionId"]))
            seen = set()
            for m in e["metrics"]:
                key = _PY_METRICS.get(m["name"])
                acc = str(m["accumulatorId"])
                if key is None or acc in seen or acc not in values:
                    continue
                seen.add(acc)
                c[key] += _parse_metric(values[acc])
        self.sc.setJobGroup(None, None)
        return dict(c)

    def _add_stage(self, c, sid: int) -> None:
        attempts = self._json(self.app.stageData(sid, False, None, False, None))
        if not attempts or attempts[0]["numCompleteTasks"] == 0:  # skipped stage
            return
        s = attempts[0]
        c["spark.stages"] += 1
        c["spark.tasks"] += s["numTasks"]
        c["spark.executor_run_ms"] += s["executorRunTime"]
        c["spark.executor_cpu_ms"] += s["executorCpuTime"] / 1e6
        c["spark.gc_ms"] += s["jvmGcTime"]
        c["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
        c["spark.shuffle_fetch_wait_ms"] += s["shuffleFetchWaitTime"]
        c["spark.output_bytes"] += s["outputBytes"]
        for t in self._json(self.app.taskList(sid, s["attemptId"], 100_000)):
            c["spark.scheduler_delay_ms"] += t["schedulerDelay"]


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked workers are not counted
    twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, read from /proc."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc as the sum of
    their proportional set sizes."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        total = sum(_pss_bytes(pid) for pid in process_tree(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)
