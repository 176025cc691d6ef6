"""live_tail: the streaming job, open loop.

``stream_denied_sessions`` → ``format_session_result`` →
``write_kafka_file_twin`` with the default trigger watches a tree into
which pre-rendered files are ``rename``d on a fixed schedule. Latency is
accounted outside-in: each landed file is mapped to its micro-batch
through the checkpoint's file-source log, each emitted session to its
micro-batch through the sink's ``batch_id=`` directories, and a batch's
time is the modification time of its commit-log entry.
"""

from __future__ import annotations

import json
import os
import sys
import time
from bisect import bisect_left
from collections import Counter
from statistics import median
from urllib.parse import unquote, urlparse

import numpy as np

import gen
from oracle import Sessions
from probes import RssSampler, SparkRest, overhead, pct

#: the warm-up run of set-up replays this many files, a few per batch, so
#: the stateful batch path is compiled and warm before the measured run
WARM_FILES = 8
WARM_FILES_PER_BATCH = 2
#: all date dirs of the generated trees are at or after this date, so the
#: date filter is on the path but drops nothing
MIN_DATE = "20240101"
DRAIN_TIMEOUT_S = 60
#: latency is sampled from this share of the run on: batches keep speeding
#: up over the first ~100 files as the JIT settles and the session state
#: fills its 2-day watermark window, so earlier files measure the ramp
STEADY_FROM = 0.5


class LiveTail:
    name = "live_tail"

    def __init__(self, seconds: float):
        self.n_files = int(seconds * gen.LIVE_FILES_PER_S)

    def generate(self, seed: int, work: str) -> None:
        self.work, self.seed, self.run_tag = work, seed, "run"
        self.inp = self._render("run", self.n_files)
        self.warm_inp = self._render("warm", WARM_FILES)

    def _render(self, tag: str, n_files: int):
        return gen.make_live(self.seed, os.path.join(self.work, tag, "stage"),
                             os.path.join(self.work, tag, "watch"), n_files)

    def oracle(self) -> None:
        ev = self.inp.events
        self.sessions = Sessions(ev, ev.valid())

    def _start(self, spark, tag: str, warm: bool = False):
        from flink_audit_sessions_example_spark.config import AppConfig
        from flink_audit_sessions_example_spark.functions.formatting import format_session_result
        from flink_audit_sessions_example_spark.streaming.pipeline import (
            stream_denied_sessions, write_kafka_file_twin)

        base = os.path.join(self.work, tag)
        cfg = AppConfig(audit_path=os.path.join(base, "watch"), audit_min_date=MIN_DATE,
                        session_gap_seconds=gen.GAP_SECONDS,
                        watermark_delay=gen.WATERMARK_DELAY)
        sessions = stream_denied_sessions(
            spark, cfg, max_files_per_trigger=WARM_FILES_PER_BATCH if warm else None)
        return write_kafka_file_twin(
            format_session_result(sessions), out_dir=os.path.join(base, "out"),
            checkpoint_dir=os.path.join(base, "ckpt"), available_now=warm)

    def warm(self, spark) -> None:
        """One available-now run of the same job over a small tree."""
        w = self.warm_inp
        for src, dst in [w.primer, *zip(w.staged, w.targets)]:
            os.rename(src, dst)
        q = self._start(spark, "warm", warm=True)
        q.awaitTermination(120)
        q.stop()

    def traced(self, engine, spark, seconds: float, tracer) -> dict:
        """An untraced streaming run, then a second one over a fresh copy of
        the input with Spark's UI on; its progress reports become spans."""
        with tracer.span("live_tail.untraced"):
            plain = self.measure(spark, seconds)
        spark = engine.start(ui=True)
        self.inp, self.run_tag = self._render("traced", self.n_files), "traced"
        self.oracle()
        with tracer.span("live_tail.traced") as root:
            res = self.measure(spark, seconds, rest=SparkRest(spark.sparkContext))
        for p in res["progress"]:
            tracer.add("pipeline.batch", p["start"], p["end"], root["id"], **p["attrs"])
        key = "ingest_latency_p50_s"
        return {
            "attempted": plain["attempted"] + res["attempted"],
            "failed": plain["failed"] + res["failed"],
            "metrics": {**res["layers"], **overhead(res["metrics"][key], plain["metrics"][key])},
        }

    def measure(self, spark, seconds: float, rest: SparkRest | None = None) -> dict:
        inp, tag = self.inp, self.run_tag
        ckpt = os.path.join(self.work, tag, "ckpt")
        out = os.path.join(self.work, tag, "out")
        q = self._start(spark, tag)
        try:
            os.rename(*inp.primer)
            _wait(lambda: _commits(ckpt), "the primer batch to commit", q)
            n = inp.n_regular
            due = time.time() + 0.05 + np.arange(n + 1) / gen.LIVE_FILES_PER_S
            landed = np.zeros(n + 1)
            with RssSampler() as rss:
                for i in range(n + 1):
                    if i == n:
                        # offered load stops: files landed, not yet committed
                        backlog = _backlog(ckpt, inp.targets[:n])
                    pause = due[i] - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    os.rename(inp.staged[i], inp.targets[i])
                    landed[i] = time.time()
                sentinel = _path_key(inp.targets[n])
                _wait(lambda: _drained(ckpt, sentinel), "the sentinel's sessions", q)
            progress = [json.loads(p.json) for p in q.recentProgress]
            run_id = str(q.runId)
        finally:
            q.stop()
        res = self._account(ckpt, out, due, landed)
        res["metrics"]["peak_rss_mb"] = rss.peak_mb
        res["layers"] = {"backlog_files": backlog, "late_max_s": float(np.max(landed - due))}
        if rest is not None:
            res["layers"].update(self._layers(progress, rest, run_id, res, ckpt))
            res["progress"] = [{
                "start": _iso(p["timestamp"]),
                "end": _iso(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000,
                "attrs": {"batch": p["batchId"], "rows": p["numInputRows"],
                          "durations_ms": p["durationMs"], "state": p["stateOperators"]},
            } for p in progress]
        return res

    def _account(self, ckpt: str, out: str, due, landed) -> dict:
        """Map files and sessions to batches; every miss is a failure."""
        inp, n = self.inp, self.inp.n_regular
        file_batch = _file_batches(ckpt)
        commit_t = _commits(ckpt)
        fails: Counter = Counter()
        batch_of = []
        for path, t_land in zip(inp.targets, landed):
            b = file_batch.get(_path_key(path))
            if b is None or len(b) != 1 or min(b) not in commit_t:
                fails["file never committed or consumed twice"] += 1
                batch_of.append(None)
                continue
            b = min(b)
            if commit_t[b] < t_land:
                fails["file committed before it landed"] += 1
                batch_of.append(None)
                continue
            batch_of.append(b)
        steady = int(n * STEADY_FROM)
        ingest = [commit_t[b] - due[i] for i, b in enumerate(batch_of[:n])
                  if b is not None and i >= steady]

        out_batch: dict[str, list[int]] = {}
        values = []
        for d in os.listdir(out):
            if d.startswith("batch_id="):
                b = int(d.split("=", 1)[1])
                for v in _values(os.path.join(out, d)):
                    out_batch.setdefault(v, []).append(b)
                    values.append(v)
        fails["session missing, wrong or duplicated"] += self.sessions.mismatches(values)
        delay_ms = gen.WATERMARK_DELAY_S * 1000
        emit = []
        for v, end_ms in self.sessions.emitted.items():
            j = int(np.searchsorted(inp.file_max_ts, end_ms + delay_ms, side="left"))
            bs = out_batch.get(v)
            if j >= n or not bs or len(bs) != 1 or batch_of[j] is None:
                continue  # closed by the sentinel, or already failed above
            if bs[0] <= batch_of[j] or bs[0] not in commit_t:
                fails["session emitted before the file that closes it"] += 1
                continue
            if j >= steady:
                emit.append(commit_t[bs[0]] - due[j])
        if min(ingest + emit, default=0) < 0:
            raise RuntimeError("negative latency: file/batch mapping is wrong")
        last = batch_of[n - 1]
        job_s = (commit_t[last] if last is not None else max(commit_t.values())) - due[0]
        n_valid = int(inp.events.valid()[inp.events.file < n].sum())
        failed = sum(fails.values())
        if failed:
            print(f"perfbench: live_tail failures {dict(fails)}", file=sys.stderr)
        return {
            "attempted": len(self.sessions.emitted) + n + 1,
            "failed": failed,
            "job_s": job_s,
            "emitted": len(values),
            "metrics": {
                "events_per_s": n_valid / job_s,
                "ingest_latency_p50_s": pct(ingest, 50),
                "ingest_latency_p90_s": pct(ingest, 90),
                "emit_latency_p50_s": pct(emit, 50),
                "emit_latency_p99_s": pct(emit, 99),
                "job_s": job_s,
            },
        }

    def _layers(self, progress: list[dict], rest: SparkRest, run_id: str, res: dict,
                ckpt: str) -> dict:
        """Per-batch progress durations and state-operator metrics, plus
        shuffle, skew and row counts of the stream's jobs from REST."""
        data = [p for p in progress if p["numInputRows"] > 0]

        def p50(key, rows=data):
            return median(p["durationMs"].get(key, 0) for p in rows)

        def state(key):
            return [p["stateOperators"][0][key] for p in progress if p["stateOperators"]]

        first = min(_iso(p["timestamp"]) for p in progress)
        last = max(_iso(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
                   for p in progress)
        busy = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000
        jobs = rest.job_ids(run_id)
        stats = rest.stage_stats(jobs)
        # foreachBatch runs the stateful plan without SQL metrics; the
        # state operator's evictions are the sessions it closed
        formed = sum(state("numRowsRemoved"))
        lines = sum(p["numInputRows"] for p in progress)
        n_valid = int(self.inp.events.valid().sum())
        return {
            "audit_source.lines": lines,
            "audit_source.valid_ratio": n_valid / lines,
            "audit_source.files_listed": len(_source_log(ckpt)),
            "audit_source.list_ms_p50": p50("latestOffset", progress),
            "sessionize.shuffle_bytes": stats["shuffle_bytes"],
            "sessionize.task_skew": stats["task_skew"],
            "sessionize.sessions_formed": formed,
            "sessionize.emit_ratio": res["emitted"] / formed if formed else 0.0,
            "sessionize.state_rows": max(state("numRowsTotal")),
            "sessionize.state_bytes": max(state("memoryUsedBytes")),
            "sessionize.state_commit_ms_p50": median(state("commitTimeMs")),
            "sessionize.state_update_ms_p50": median(state("allUpdatesTimeMs")),
            "sessionize.late_rows_dropped": sum(state("numRowsDroppedByWatermark")),
            "pipeline.batches": len(progress),
            "pipeline.rows_per_batch_p50": median(p["numInputRows"] for p in data),
            "pipeline.trigger_ms_p50": p50("triggerExecution"),
            "pipeline.planning_ms_p50": p50("queryPlanning"),
            "pipeline.add_batch_ms_p50": p50("addBatch"),
            "pipeline.wal_ms_p50": p50("walCommit"),
            "pipeline.offsets_commit_ms_p50": p50("commitOffsets"),
            "pipeline.idle_share": max(0.0, 1 - busy / (last - first)),
            "pipeline.sink_rows": res["emitted"],
        }


def _iso(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _path_key(path: str) -> str:
    return os.path.realpath(path)


def _source_log(ckpt: str) -> dict[str, set[int]]:
    """File path → the ids of the file-source log entries that record it
    (regular entries and compacted ``.compact`` ones alike). These ids
    count the source's own log, which skips no-data micro-batches, so they
    are not micro-batch ids."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, set[int]] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                entries = f.read().splitlines()[1:]
        except FileNotFoundError:  # compacted away between list and open
            continue
        for line in entries:
            e = json.loads(line)
            out.setdefault(_path_key(unquote(urlparse(e["path"]).path)), set()).add(e["batchId"])
    return out


def _file_batches(ckpt: str) -> dict[str, set[int]]:
    """File path → the micro-batches that consumed it. Micro-batch ``b``
    consumed the source-log entries after the previous batch's offset up to
    its own, as its offsets-log entry records."""
    d = os.path.join(ckpt, "offsets")
    offsets = []  # (source log offset, micro-batch), in batch order
    for n in sorted((int(n) for n in os.listdir(d) if n.isdigit()) if os.path.isdir(d) else ()):
        with open(os.path.join(d, str(n))) as f:
            offsets.append((json.loads(f.read().splitlines()[2])["logOffset"], n))
    ends = [o for o, _ in offsets]
    out = {}
    for path, ids in _source_log(ckpt).items():
        out[path] = {offsets[i][1] for i in (bisect_left(ends, e) for e in ids) if i < len(ends)}
    return out


def _commits(ckpt: str) -> dict[int, float]:
    """Batch id → commit time (the commit-log entry's modification time)."""
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
            for n in os.listdir(d) if n.isdigit()}


def _backlog(ckpt: str, landed_paths: list[str]) -> int:
    committed = _commits(ckpt)
    done = {p for p, bs in _file_batches(ckpt).items() if bs & committed.keys()}
    return sum(1 for p in landed_paths if _path_key(p) not in done)


def _drained(ckpt: str, sentinel: str) -> bool:
    """The batch after the sentinel's has committed: the sentinel moved the
    watermark past every session, and that batch evicted them."""
    b = _file_batches(ckpt).get(sentinel)
    return bool(b) and (min(b) + 1) in _commits(ckpt)


def _wait(cond, what: str, query) -> None:
    end = time.time() + DRAIN_TIMEOUT_S
    while not cond():
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > end:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.02)


def _values(d: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(d).column("value").to_pylist()
