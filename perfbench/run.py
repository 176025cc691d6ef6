"""Audit-sessions benchmark.

    python3 perfbench/run.py --workload {backfill,live_tail} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work/``; the engine runs at ``local[<cores>]`` in this one
process and is driven only through the package's public functions. Every
output is checked against an independent DuckDB oracle. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. A run with a wrong output prints its
result with ``"correct": false`` and exits 1.

Workloads (``BENCHMARK.json`` says why each exists):

- ``backfill``: closed loop of batch jobs over a generated multi-day tree.
- ``live_tail``: the streaming job fed open-loop by ``rename(2)`` of
  pre-rendered files, ``LIVE_FILES_PER_S`` per second.

End-to-end metrics, on both workloads:

- ``setup_s``: input generation + session start + warm-up; set-up runs
  ``SETUP_REPS`` times (the first also launches the JVM), median reported.
- ``job_s``: backfill: median job wall time. live_tail: first file due →
  commit of the batch holding the last regular file.
- ``events_per_s``: valid audit lines / ``job_s``.
- ``ingest_latency_p50_s``/``_p90_s``: live_tail: a file's due landing time
  → commit of the batch that consumed it. ``emit_latency_p50_s``/``_p99_s``:
  due time of the first file whose max event time reaches a session's end
  plus the watermark delay → commit of the batch whose sink output holds
  it. Both are sampled over the second half of the landed files
  (``live_tail.STEADY_FROM``); sessions closed only by the final sentinel
  are not sampled. In a backfill job every file is available at its start
  and every session is committed at its end, so there all four equal the
  median job's wall time.
- ``peak_rss_mb``: peak resident memory of the JVM and its Python workers
  over the measured region, summed as PSS so pages a forked child shares
  with its parent count once. The heap is fixed and touched at start
  (``engine.HEAP``), so the figure moves with memory outside the heap.

Failures (sessions missing, wrong or duplicated; landed files never
committed or committed twice; corpus queries that differ from their
oracle) are the ``failed`` count against ``attempted``; their ratio is the
failed share. ``backlog_files`` (files landed but not committed when the
offered load stops) and the lander's ``late_max_s`` are reported with the
per-layer metrics.

The traced run measures the workload untraced, then again with Spark's UI
(REST API) on and spans around each call into the package; the difference
is ``trace.overhead_s``. Layers not on a workload's path read 0. Backfill's
traced run also makes one ``corpus_ops`` pass over the registered corpus
queries and a single-core (``local[1]``) baseline job; spans are written to
``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WORKLOADS = ("backfill", "live_tail")


def _metric_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _workload(name: str, seconds: float):
    if name == "backfill":
        from backfill import Backfill

        return Backfill()
    from live_tail import LiveTail

    return LiveTail(seconds)


def untraced(engine, wl, seed: int, seconds: float, work: str) -> dict:
    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.generate(seed, os.path.join(work, f"setup{rep}"))
        spark = engine.start()
        wl.warm(spark)
        setups.append(time.perf_counter() - t)
        if rep:
            shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)
    wl.oracle()
    res = wl.measure(spark, seconds)
    res["metrics"]["setup_s"] = median(setups)
    print(f"perfbench: set-ups {[round(s, 2) for s in setups]} s", file=sys.stderr)
    return res


def traced(engine, wl, seed: int, seconds: float, work: str) -> dict:
    from probes import Tracer

    tracer = Tracer()
    with tracer.span("setup"):
        wl.generate(seed, os.path.join(work, "setup0"))
        spark = engine.start()
        wl.warm(spark)
        wl.oracle()
    res = wl.traced(engine, spark, seconds, tracer)
    tracer.write(os.path.join(HERE, ".work", "traces", f"{wl.name}-seed{seed}.json"))
    top = [f"{s['name']} {s['end'] - s['start']:.1f}" for s in tracer.spans if s["parent"] is None]
    print(f"perfbench: traced phases (s): {', '.join(top)}", file=sys.stderr)
    return res


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import flink_audit_sessions_example_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_units()

    from engine import Engine

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    engine = Engine(work, ROOT)
    wl = _workload(args.workload, args.seconds)
    try:
        run = traced if args.trace else untraced
        res = run(engine, wl, args.seed, args.seconds, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    units = layer_units if args.trace else e2e_units
    values = res["metrics"]
    if args.trace:
        values = {**{k: 0 for k in units}, **values}
    missing = [k for k in units if k not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    correct = res["failed"] == 0
    if not correct:
        print(f"perfbench: {res['failed']} of {res['attempted']} operations failed "
              "their oracle check", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
