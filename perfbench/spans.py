"""Spans, Spark counters and memory sampling recorded from the
benchmark's side of each layer boundary.

The engine carries no tracing code. Each span sets a Spark job group
before it calls into a layer; after the run, Spark's status store is
read once and every job, with its stages, is attributed to the span
whose group it carries (or, for jobs launched on Spark's own threads,
the innermost span open when it was submitted).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
             "shuffle_read", "shuffle_write", "spill")


class Tracer:
    """One span per call: name, start, end, parent span and run id.
    Spans stay in memory until ``write``. Disabled, ``span`` only
    yields, so the untraced run pays nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{outer['id']}",
                                    outer["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def attribute(self) -> None:
        """Read jobs and stages from the status store and store each
        span's own counters under ``own`` and its subtree's under
        ``total``."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        stages = {}
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for s in conv.asJava(store.stageList(
                jvm.java.util.ArrayList(), False, False, no_quantiles,
                jvm.java.util.ArrayList())):
            if s.status().toString() != "COMPLETE":
                continue
            stages[s.stageId()] = {
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled()}
        for rec in self.spans:
            rec["own"] = dict.fromkeys(_COUNTERS, 0)
        seen_stages = set()
        for j in conv.asJava(store.jobsList(jvm.java.util.ArrayList())):
            rec = self._owner(j)
            if rec is None:
                continue
            own = rec["own"]
            own["jobs"] += 1
            for sid in conv.asJava(j.stageIds()):
                st = stages.get(sid)
                if st is None or sid in seen_stages:
                    continue
                seen_stages.add(sid)
                own["stages"] += 1
                for k, v in st.items():
                    own[k] += v
        for rec in reversed(self.spans):       # children before parents
            tot = rec.setdefault("total", dict.fromkeys(_COUNTERS, 0))
            for k in _COUNTERS:
                tot[k] += rec["own"][k]
            if rec["parent"] is not None:
                ptot = self.spans[rec["parent"]].setdefault(
                    "total", dict.fromkeys(_COUNTERS, 0))
                for k in _COUNTERS:
                    ptot[k] += tot[k]
        for rec in self.spans:
            child_s = sum(c["end"] - c["start"] for c in self.spans
                          if c["parent"] == rec["id"])
            rec["self_s"] = (rec["end"] - rec["start"]) - child_s

    def _owner(self, job) -> dict | None:
        group = job.jobGroup()
        if group.isDefined() and group.get().startswith("perfbench-"):
            return self.spans[int(group.get().split("-", 1)[1])]
        sub = job.submissionTime()
        if not sub.isDefined():
            return None
        t = sub.get().getTime() / 1000.0
        inner = None
        for rec in self.spans:
            if rec["start"] <= t <= rec["end"]:
                inner = rec          # later spans nest inside earlier ones
        return inner

    def find(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: duration minus the time its child
    spans cover, summed over every span of that name."""
    out: dict[str, float] = {}
    for rec in spans:
        out[rec["name"]] = out.get(rec["name"], 0.0) + rec["self_s"]
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of a
    process and its descendants. Unlike wall time, it does not count
    time the host gave to other tenants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / (1024 * 1024)


class RssSampler:
    """Samples the RSS of this process and its descendants (the JVM
    and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval)
