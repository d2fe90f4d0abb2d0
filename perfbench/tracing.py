"""Outside-in tracing: spans kept in memory around every call the
benchmark makes into sparkh3, with per-span counters read from Spark's
own status stores. Nothing in sparkh3 is instrumented.

* jobs / stages / tasks come from the status tracker, through a job
  group the tracer sets around each span;
* per-node SQL metrics (Python-worker time and bytes, shuffle bytes,
  scan bytes, written files) come from the SQL status store, taking
  every execution recorded between two ``executionsCount()`` readings.
  That store sees the execution that actually ran, parquet writes
  included, where ``df.queryExecution()`` would report zeros.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60,
    "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_MAP_KEY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")


def _number(text: str) -> float:
    m = _VALUE.match(text)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(unit, 1.0)


def parse_metric(text: str) -> tuple[float, float]:
    """(total, max per task) of one SQL metric as Spark formats it, in
    bytes, milliseconds or a plain count. Handles the plain form
    (``1,360``, ``13.4 KiB``, ``591 ms``) and the per-task form
    ``total (min, med, max (stageId: taskId))\\n60.1 KiB (15.0 KiB,
    15.0 KiB, 15.0 KiB (stage 0.0: task 0))``."""
    text = text.strip()
    if "\n" not in text:
        v = _number(text)
        return v, v
    body = text.split("\n", 1)[1]
    total = _number(body)
    inner = body[body.index("(") + 1 :]
    parts = inner.split(", ")
    if len(parts) < 3:
        raise ValueError(f"unparseable per-task SQL metric {text!r}")
    return total, _number(parts[2])


def parse_metric_map(text: str) -> dict[int, str]:
    """Scala ``Map(accumulatorId -> formatted value, ...)`` toString into
    a dict. Values may hold ", " and newlines but never " -> "."""
    text = text.strip()
    if text.endswith(")"):
        text = text[:-1]
    keys = list(_MAP_KEY.finditer(text))
    out = {}
    for i, m in enumerate(keys):
        end = keys[i + 1].start() if i + 1 < len(keys) else len(text)
        out[int(m.group(1))] = text[m.end() : end]
    return out


# SQL metric names on Spark 4.1 -> counter they add to. Not read: "time
# to start/initialize Python workers", which on reused workers grows with
# the age of the worker rather than with the call (16.4 s, 20.8 s, 24.6 s
# on three successive 2 s writes).
_SQL_COUNTERS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "size of files read": "scan_bytes",
    "number of files read": "files_read",
    "number of written files": "written_files",
    "written output": "written_bytes",
}
SQL_COUNTERS = sorted(set(_SQL_COUNTERS.values())) + [
    "python_nodes", "exchanges", "shuffle_max_task_bytes", "scan_rows",
]


class StatusReader:
    """Reads counters for a span from the driver's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def executions(self) -> int:
        return int(self.store.executionsCount())

    def drain(self) -> None:
        """Wait until the listeners have seen every event posted so far,
        so the stores hold the finished span's jobs and metrics."""
        self.bus.waitUntilEmpty(30_000)

    def job_counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numTasks > 0:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def sql_counters(self, first: int, last: int) -> dict[str, float]:
        out = dict.fromkeys(SQL_COUNTERS, 0.0)
        if last <= first:
            return out
        execs = self.store.executionsList(first, last - first)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = parse_metric_map(self.store.executionMetrics(eid).toString())
            nodes = self.store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = _PLAN_METRIC.findall(node.metrics().toString())
                if name == "Exchange":
                    out["exchanges"] += 1
                if any(m[0] == "time to run Python workers" for m in metrics):
                    out["python_nodes"] += 1
                for mname, acc, _kind in metrics:
                    raw = values.get(int(acc))
                    if mname == "number of output rows" and name.startswith("Scan"):
                        counter = "scan_rows"
                    elif mname in _SQL_COUNTERS:
                        counter = _SQL_COUNTERS[mname]
                    else:
                        continue
                    if raw is None:
                        continue
                    total, top = parse_metric(raw)
                    out[counter] += total
                    if counter == "shuffle_bytes":
                        out["shuffle_max_task_bytes"] = max(
                            out["shuffle_max_task_bytes"], top
                        )
        return out


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, op: int | None = None, kind: str = "call"):
        yield {}


class Tracer:
    """Spans in memory: name, start, end, parent, op id, kind ('call' for
    a public sparkh3 call, 'action' for the Spark action after it, 'op'
    for one iteration/request, 'kernel' for a driver-side kernel call)
    and the span's counters. Each span that reaches Spark runs under a
    job group of its own; a nested span's jobs belong to it alone."""

    def __init__(self, spark):
        self.reader = StatusReader(spark)
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None, kind: str = "call"):
        t_book = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        rec = {
            "id": self._seq, "name": name, "kind": kind,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent or {}).get("op"),
        }
        spark_side = kind in ("call", "action")
        if spark_side:
            rec["group"] = f"perfbench-{self._seq}"
            self.sc.setJobGroup(rec["group"], name)
            first = self.reader.executions()
        self._stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - t_book
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_book = time.perf_counter()
            self._stack.pop()
            if spark_side:
                self.reader.drain()
                rec.update(self.reader.job_counts(rec["group"]))
                rec.update(self.reader.sql_counters(first, self.reader.executions()))
                if parent is not None and "group" in parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t_book

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


class RssSampler:
    """Peak resident memory of this process and every descendant (the JVM
    and its Python workers): the largest sum of their resident sets over
    samples taken from /proc on a daemon thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        rss: dict[int, tuple[str, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            pid = int(entry)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = (stat[stat.index("(") + 1 : stat.rindex(")")], int(fields[21]) * self._page)
        by_command: dict[str, int] = {}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in rss:
                command, size = rss[pid]
                by_command[command] = by_command.get(command, 0) + size
            todo.extend(children.get(pid, ()))
        total = sum(by_command.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_command = by_command
