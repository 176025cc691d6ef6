"""Measurement probes: in-memory spans, a /proc memory sampler and a reader
for Spark's monitoring REST API. Nothing here runs inside the program;
spans wrap the benchmark's own calls into the program's public functions.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from statistics import median


def pct(values, q: float) -> float:
    """The q-th percentile (linear interpolation), requiring at least ten
    samples beyond it so a tail figure is never read off a handful."""
    import numpy as np

    n = len(values)
    beyond = n * (100 - q) / 100 if q > 50 else n / 2
    if beyond < 10:
        raise RuntimeError(f"p{q:g} needs >= 10 samples beyond it, have {n} samples")
    return float(np.percentile(values, q))


def overhead(traced: float, plain: float) -> dict:
    """Tracing overhead: a figure of the traced run minus the untraced."""
    return {"trace.overhead_s": traced - plain, "trace.overhead_share": (traced - plain) / plain}


class Tracer:
    """Spans kept in memory: (name, start, end, parent), written at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among its sharers. Plain RSS would count a forked child (the JVM spawns
    helpers, Spark forks Python workers) as a second copy of its parent."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and the
    Python workers it forks), summed as PSS and sampled from /proc on a
    background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in _descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class SparkRest:
    """Spark's monitoring REST API (needs ``spark.ui.enabled``)."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self, group: str) -> set[int]:
        return {j["jobId"] for j in self.get("/jobs") if j.get("jobGroup") == group}

    def stage_stats(self, job_ids: set[int]) -> dict:
        """Shuffle bytes written by the jobs' stages, and task skew: the
        median over shuffle-reading stages of max/median task run time."""
        stage_ids = {s for j in self.get("/jobs") if j["jobId"] in job_ids for s in j["stageIds"]}
        shuffle, skews = 0, []
        for s in self.get("/stages?status=complete"):
            if s["stageId"] not in stage_ids:
                continue
            shuffle += s["shuffleWriteBytes"]
            if s["shuffleReadBytes"] > 0:
                q = self.get(f"/stages/{s['stageId']}/{s['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
                if q[0] > 0:
                    skews.append(q[1] / q[0])
        return {"shuffle_bytes": shuffle, "task_skew": median(skews) if skews else 1.0}

    def session_rows(self, tag: str) -> tuple[int, int]:
        """(sessions formed, sessions emitted), summed over the SQL
        executions whose description contains ``tag``: rows into and out
        of the first Filter above ``MergingSessions``, the zero-deny filter."""
        formed = emitted = 0
        for e in self.get("/sql?details=true&planDescription=false&length=100000"):
            if tag not in e.get("description", ""):
                continue
            nodes = {n["nodeId"]: n for n in e["nodes"]}
            parent = {ed["fromId"]: ed["toId"] for ed in e["edges"]}
            node = next((i for i, n in nodes.items() if n["nodeName"] == "MergingSessions"), None)
            counted = None
            while node is not None and nodes[node]["nodeName"] != "Filter":
                if _rows(nodes[node]) is not None:
                    counted = node
                node = parent.get(node)
            if node is not None and counted is not None:
                formed += _rows(nodes[counted])
                emitted += _rows(nodes[node])
        return formed, emitted


def _rows(node) -> int | None:
    for m in node["metrics"]:
        if m["name"] == "number of output rows":
            return int(m["value"].replace(",", ""))
    return None
