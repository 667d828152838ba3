"""Spans and counters around the benchmark's calls into the engine.

Everything here observes the engine from outside: the benchmark opens a
span around each public call it makes, tags the Spark jobs of each call
with a job group it sets, and reads execution counts afterwards from
Spark's status tracker, its SQL status store (whose plan graph is the AQE
final plan) and a streaming listener it registers. Nothing inside the
engine is instrumented.

Spans and counters stay in memory and are written as one JSON file when
the run ends. An untraced run uses ``NullTracer``, whose calls do nothing.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class NullTracer:
    @contextmanager
    def span(self, name: str, label: str | None = None):
        yield

    def add(self, counter: str, value: float = 1) -> None:
        pass


class Tracer(NullTracer):
    """Spans (name, start, end, parent, run id, optional label) and named
    counters.

    One stack serves all threads: the benchmark's operations run one at a
    time, and the streaming callback that loads the store runs while the
    calling thread waits inside its own span, so the top of the stack is
    the right parent."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, label: str | None = None):
        with self._lock:
            rec = {
                "name": name,
                "label": label,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "run_id": self.run_id,
            }
            self.spans.append(rec)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.remove(idx)

    def add(self, counter: str, value: float = 1) -> None:
        with self._lock:
            self.counters[counter] += value

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time of its child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"] - child[i]) * 1000
        return dict(out)

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": spans, "counters": self.counters,
                 "self_ms": self.self_ms(), **extra},
                fh, indent=1, sort_keys=True,
            )
            fh.write("\n")


# ---------------------------------------------------------------------------
# Spark-side counts
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_TABLE = re.compile(r"/([A-Za-z_]+)\.parquet")
_PYTHON_NODES = ("Python", "InPandas", "InArrow", "PythonUDTF")


def metric_value(text: str) -> float:
    """A SQL metric as the status store formats it: ``"1,234"``, ``"1.2 MiB"``
    or, over several tasks, ``"total (min, med, max ...)\\n1.2 MiB (...)"``.
    Sizes come back in bytes and times in ms."""
    line = text.strip().splitlines()[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkProbe:
    """Job groups, status-tracker counts and SQL metrics of one operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()

    def group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores are complete."""
        self.jsc.listenerBus().waitUntilEmpty()

    def executions(self) -> int:
        return self.store.executionsCount()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def job_counts(self, job_ids) -> dict[str, int]:
        stages = tasks = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def sql_metrics(self, first_execution: int) -> dict:
        """Summed SQL metrics of every SQL execution from index
        ``first_execution`` on."""
        out = defaultdict(float)
        scans: dict[str, int] = defaultdict(int)
        n = self.store.executionsCount() - first_execution
        if n <= 0:
            return {"scans": {}}
        execs = self.store.executionsList(first_execution, n)
        for k in range(execs.size()):
            eid = execs.apply(k).executionId()
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                metrics = node.metrics()
                got = {}
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        got[m.name()] = metric_value(v.get())
                if name.startswith("Scan "):
                    t = _TABLE.search(node.desc())
                    if t:  # a catalog table, not an RDD or checkpoint
                        scans[t.group(1)] += 1
                    out["scan_bytes"] += got.get("size of files read", 0.0)
                    out["scan_files"] += got.get("number of files read", 0.0)
                out["shuffle_bytes"] += got.get("shuffle bytes written", 0.0)
                out["spill_bytes"] += got.get("spill size", 0.0)
                if any(p in name for p in _PYTHON_NODES):
                    out["python_rows"] += got.get("number of output rows", 0.0)
        out["scans"] = dict(scans)
        return dict(out)


class ProgressListener(StreamingQueryListener):
    """Collects the progress of every streaming micro-batch that read rows."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            with self._lock:
                self.batches.append(dict(p.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        deadline = time.monotonic() + timeout
        while len(self.batches) < n and time.monotonic() < deadline:
            time.sleep(0.01)
