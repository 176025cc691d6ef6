"""corpus_ops pass: registered queries over generated corpus tables.

Each query's output is written as parquet inside the timed pass and
compared with its registered DuckDB SQL afterwards.
"""

from __future__ import annotations

import os
import sys

import gen
from oracle import corpus_oracle, normalized

KEYS = (
    "graph_pagerank", "dedup_cluster", "dedup_minhash", "dedup_embed_cluster",
    "agg_mad_outliers", "text_ngram_novelty", "win_session",
)


def run_pass(spark, seed: int, work: str, tracer) -> tuple[dict, int]:
    """One pass over ``KEYS``; returns (per-layer metrics, failed queries)."""
    import __spark_entry__ as entry

    data = os.path.join(work, "corpus")
    tables = list(gen.make_corpus(seed, data))
    queries, oracles = entry.queries(), entry.oracle_sql()
    out = os.path.join(work, "corpus-out")
    layers = {}
    with tracer.span("corpus_ops.pass") as whole:
        for k in KEYS:
            with tracer.span(f"corpus_ops.{k}") as q:
                queries[k](spark, data).write.mode("overwrite").parquet(os.path.join(out, k))
            layers[f"corpus_ops.{k}_s"] = q["end"] - q["start"]
    layers["corpus_ops.job_s"] = whole["end"] - whole["start"]
    with tracer.span("corpus_ops.check"):
        failed = _check(data, tables, oracles, out)
    return layers, failed


def _check(data: str, tables: list[str], oracles: dict, out: str) -> int:
    import pyarrow.parquet as pq

    failed = 0
    for k in KEYS:
        got = pq.read_table(os.path.join(out, k))
        cols, rows = corpus_oracle(data, tables, oracles[k])
        mine = normalized(got.column_names, zip(*[got.column(c).to_pylist() for c in got.column_names]))
        if sorted(cols) != sorted(got.column_names) or mine != normalized(cols, rows):
            print(f"corpus_ops: {k} differs from its DuckDB oracle", file=sys.stderr)
            failed += 1
    return failed
