"""backfill: the reference pipeline in batch mode, closed loop.

Each job is ``read_audits`` → ``audit_denied_sessions`` →
``format_session_result`` over the whole generated tree, written as
parquet. The next job starts when the previous one has finished.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from statistics import median

import gen
from oracle import Sessions
from probes import RssSampler, SparkRest, Tracer, overhead

MIN_JOBS = 3
#: jobs per phase of the traced run, untraced and traced
TRACED_JOBS = 2
PREFIX_REPS = 1


class Backfill:
    name = "backfill"

    def generate(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.inp = gen.make_backfill(seed, os.path.join(work, "audit"))
        self.out = os.path.join(work, "out")

    def oracle(self) -> None:
        ev = self.inp.events
        self.sessions = Sessions(ev, ev.valid(self.inp.file_kept))

    def job(self, spark, out_dir: str) -> None:
        from flink_audit_sessions_example_spark.functions.formatting import format_session_result
        from flink_audit_sessions_example_spark.operators.sessionize import audit_denied_sessions
        from flink_audit_sessions_example_spark.sources.audit_source import read_audits

        audits = read_audits(spark, self.inp.root, self.inp.min_date)
        sessions = audit_denied_sessions(audits, gap_seconds=gen.GAP_SECONDS)
        format_session_result(sessions).write.mode("overwrite").parquet(out_dir)

    def warm(self, spark) -> None:
        self.job(spark, os.path.join(self.out, "warm"))

    def measure(self, spark, seconds: float, min_jobs: int = MIN_JOBS) -> dict:
        """Closed loop for ``seconds`` (at least ``min_jobs`` jobs); every
        job's output is checked against the oracle after the loop."""
        walls, dirs = [], []
        with RssSampler() as rss:
            end = time.perf_counter() + seconds
            while len(walls) < min_jobs or time.perf_counter() < end:
                d = os.path.join(self.out, f"job{len(walls)}")
                t = time.perf_counter()
                self.job(spark, d)
                walls.append(time.perf_counter() - t)
                dirs.append(d)
        print(f"perfbench: backfill jobs {[round(w, 2) for w in walls]} s", file=sys.stderr)
        failed = sum(self.sessions.mismatches(_values(d)) for d in dirs)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        job_s = median(walls)
        return {
            "attempted": len(walls) * len(self.sessions.emitted),
            "failed": failed,
            "job_s": job_s,
            "metrics": {
                "events_per_s": self.inp.valid_lines / job_s,
                # a batch job sees every file at its start and commits every
                # session at its end: each file's and each session's latency
                # is the job's wall time
                "ingest_latency_p50_s": job_s,
                "ingest_latency_p90_s": job_s,
                "emit_latency_p50_s": job_s,
                "emit_latency_p99_s": job_s,
                "job_s": job_s,
                "peak_rss_mb": rss.peak_mb,
            },
        }

    def traced(self, engine, spark, seconds: float, tracer: Tracer) -> dict:
        """Untraced jobs, then the same jobs and the prefix stages with
        Spark's UI on, one corpus_ops pass and a ``local[1]`` baseline job."""
        import corpus

        with tracer.span("backfill.untraced"):
            plain = self.measure(spark, 0, min_jobs=TRACED_JOBS)
        spark = engine.start(ui=True)
        with tracer.span("backfill.traced"):
            res = self.measure(spark, 0, min_jobs=TRACED_JOBS)
        layers = {**self._prefixes(spark, tracer), **overhead(res["job_s"], plain["job_s"])}
        corpus_layers, corpus_failed = corpus.run_pass(spark, self.seed, self.work, tracer)
        layers.update(corpus_layers)
        spark = engine.start(master_cores=1)
        with tracer.span("baseline.local1"):
            one = self.measure(spark, 0, min_jobs=1)
        layers["baseline.local1_job_s"] = one["job_s"]
        layers["baseline.local1_events_per_s"] = one["metrics"]["events_per_s"]
        runs = (plain, res, one)
        return {
            "attempted": sum(r["attempted"] for r in runs) + len(corpus.KEYS),
            "failed": sum(r["failed"] for r in runs) + corpus_failed,
            "metrics": layers,
        }

    def _prefixes(self, spark, tracer: Tracer) -> dict:
        """Prefix stages scan → parse → sessionize → format, each forced
        on its own; a layer's self time is its prefix minus the shorter
        one, so a layer as thin as formatting can read a little below zero
        by the jobs' run-to-run noise. Spark's REST API gives shuffle
        bytes, skew and row counts."""
        from pyspark.sql import functions as F

        from flink_audit_sessions_example_spark.functions.formatting import format_session_result
        from flink_audit_sessions_example_spark.operators.sessionize import audit_denied_sessions
        from flink_audit_sessions_example_spark.sources.audit_source import (
            read_audit_lines, read_audits)

        sc, rest, inp = spark.sparkContext, SparkRest(spark.sparkContext), self.inp

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        for rep in range(PREFIX_REPS):
            with tracer.span("backfill.prefixes", rep=rep):
                with tracer.span("audit_source.list"):
                    lines = read_audit_lines(spark, inp.root, inp.min_date)
                with tracer.span("audit_source.scan"):
                    noop(lines)
                with tracer.span("audit_source.read_audits"):
                    noop(read_audits(spark, inp.root, inp.min_date))
                sc.setJobGroup(f"sessionize{rep}", f"sessionize prefix {rep}")
                with tracer.span("sessionize.prefix"):
                    sessions = audit_denied_sessions(
                        read_audits(spark, inp.root, inp.min_date), gap_seconds=gen.GAP_SECONDS)
                    noop(sessions)
                sc.setJobGroup("format", "format prefix")
                with tracer.span("formatting.prefix"):
                    noop(format_session_result(sessions))
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        def med(name):
            return median(tracer.durations(name))

        stats = rest.stage_stats(rest.job_ids("sessionize0"))
        formed, emitted = rest.session_rows("sessionize prefix 0")
        n_lines = read_audit_lines(spark, inp.root, inp.min_date).count()
        n_valid = read_audits(spark, inp.root, inp.min_date).count()
        listed = len(read_audit_lines(spark, inp.root).inputFiles())
        kept = (read_audit_lines(spark, inp.root, inp.min_date)
                .select(F.input_file_name()).distinct().count())
        return {
            "audit_source.scan_s": med("audit_source.scan"),
            "audit_source.parse_s": med("audit_source.read_audits") - med("audit_source.scan"),
            "audit_source.lines": n_lines,
            "audit_source.valid_ratio": n_valid / n_lines,
            "audit_source.files_listed": listed,
            "audit_source.files_pruned": listed - kept,
            "audit_source.list_ms_p50": 1000 * med("audit_source.list"),
            "sessionize.self_s": med("sessionize.prefix") - med("audit_source.read_audits"),
            "sessionize.shuffle_bytes": stats["shuffle_bytes"],
            "sessionize.task_skew": stats["task_skew"],
            "sessionize.sessions_formed": formed,
            "sessionize.emit_ratio": emitted / formed if formed else 0.0,
            "formatting.self_s": med("formatting.prefix") - med("sessionize.prefix"),
        }


def _values(out_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(out_dir).column("value").to_pylist()
