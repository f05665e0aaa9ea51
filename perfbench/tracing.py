"""Spans, the traced snapshot store, Spark stage metrics and process sampling.

Everything here observes the program from outside: spans wrap calls into
the layers' public functions, the store subclass times the snapshot writes
the frontier makes through its ``store=`` argument, stage metrics come from
the Spark monitoring REST API, and memory is read from ``/proc``.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from crawler_spark.sources.tables import SnapshotStore


class Tracer:
    """In-memory span log: (name, start, end, parent, run id) plus attributes.

    Disabled tracers record nothing, so untraced runs pay no tracing cost.
    Only the driver thread opens nested spans; other threads add finished
    spans under whatever span the driver thread has open.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent,
             "run": self.run_id, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": parent, "run": self.run_id, **attrs}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def within(self, name: str, outer: dict) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and outer["start"] <= s["start"] and s["end"] <= outer["end"]
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class TracingStore(SnapshotStore):
    """SnapshotStore that records a span per table write and state commit,
    with the bytes each write put on disk."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def _record_write(self, table: str, start: float, version: int) -> None:
        path = next(v.path for v in self.versions(table) if v.version == version)
        self.tracer.add(
            "tables.write", start, time.time(), table=table, bytes=dir_bytes(path)
        )

    def write(self, table, df, meta=None, partition_by=None, append=False):
        t0 = time.time()
        v = super().write(table, df, meta, partition_by, append)
        self._record_write(table, t0, v)
        return v

    def write_local(self, table, rows, schema, meta=None, append=False):
        t0 = time.time()
        v = super().write_local(table, rows, schema, meta, append)
        self._record_write(table, t0, v)
        return v

    def commit_state(self, state):
        t0 = time.time()
        super().commit_state(state)
        self.tracer.add("tables.commit_state", t0, time.time())


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


# ------------------------------------------------------- Spark REST API --


def _epoch(ts: str) -> float:
    # "2026-10-17T03:30:01.606GMT"
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkRest:
    """Completed-stage metrics from the Spark monitoring REST API. Needs
    ``spark.ui.enabled``; queried only after the timed operations."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def stages(self) -> list[dict]:
        out = []
        for s in self._get("stages?status=complete"):
            if not s.get("completionTime"):
                continue
            out.append({
                "stage": s["stageId"], "attempt": s["attemptId"],
                "end": _epoch(s["completionTime"]),
                "run_s": s["executorRunTime"] / 1000.0,
                "shuffle_write_bytes": s["shuffleWriteBytes"],
                "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
            })
        return out

    def task_run_s(self, stage: dict) -> list[float]:
        tasks = self._get(
            f"stages/{stage['stage']}/{stage['attempt']}/taskList?length=100000"
        )
        return [t["taskMetrics"]["executorRunTime"] / 1000.0 for t in tasks if "taskMetrics" in t]


def jvm_gc_s(spark) -> float:
    """Cumulative garbage-collection time of the Spark JVM, from its
    management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def stages_in(stages: list[dict], start: float, end: float) -> list[dict]:
    """Stages that completed inside [start, end] (REST times are ms)."""
    return [s for s in stages if start - 0.001 <= s["end"] <= end + 0.001]


# ------------------------------------------------------------ processes --


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by a process tree, reaped
    children included. Time the hypervisor stole is not in it."""
    total = 0
    for pid in process_tree(root) + [os.getpid()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) divided among them, so a sum over
    a process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of a process tree — the Spark JVM
    and its Python workers — sampled from a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 1.0):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(pss_bytes(p) for p in process_tree(self.root_pid)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class StealMeter:
    """Share of CPU time the hypervisor gave to other guests, from /proc/stat."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    def __init__(self):
        self._s0, self._t0 = self._read()

    def pct(self) -> float:
        s1, t1 = self._read()
        return 100.0 * (s1 - self._s0) / max(1, t1 - self._t0)
