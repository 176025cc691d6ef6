"""Optimization round 16 gates: the size-derived range-partition
default and the CC/pagerank loop reshapes."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_audit_sessions_example_spark.operators import dedup as D
from flink_audit_sessions_example_spark.operators import quantiles as Q
from flink_audit_sessions_example_spark.operators.graph import pagerank
from flink_audit_sessions_example_spark.operators.quantiles import (
    _MAX_RANGE_PARTITIONS,
    _NO_STATS_SIZE,
    _derived_range_partitions,
    _range_partitions_for,
)


PAIRS = [Row(id_a=2, id_b=5), Row(id_a=5, id_b=9), Row(id_a=20, id_b=30)]
EXPECT = {2: 2, 5: 2, 9: 2, 20: 20, 30: 20}


def test_derived_range_partitions_tracks_input_size(spark):
    """VERDICT r15 item 3: the default range-partition count derives
    from the input size estimate (~256 MB per partition), floored at
    defaultParallelism — never the bare core count at scale. A tiny
    relation floors; a relation whose Catalyst estimate is ~100 GB
    derives hundreds of partitions; a stat-less leaf (an RDD-backed
    relation reports Long.MaxValue, rescaled by any projection above
    it) falls back to the floor, while a real estimate too big for the
    range clamps to the maximum."""
    dp = spark.sparkContext.defaultParallelism
    tiny = spark.range(100).select(
        F.col("id").alias("g"), F.col("id").cast("double").alias("v")
    )
    assert _derived_range_partitions(tiny) == dp

    # ~96 GB estimate without materializing anything: a cross join's
    # size estimate multiplies its children's
    big = (
        spark.range(2_000_000)
        .select(F.col("id").alias("a"))
        .crossJoin(spark.range(3_000).select(F.col("id").alias("b")))
    )
    n = _derived_range_partitions(big)
    # ~6e9 rows of two longs ⇒ a few hundred to a few thousand 256 MB
    # chunks depending on Catalyst's per-row accounting — the gate is
    # that it TRACKS the size (far above the core-count floor, well
    # below the clamp), not the exact constant
    assert dp < n <= _MAX_RANGE_PARTITIONS
    assert 100 <= n <= 100_000

    pinned = tiny.localCheckpoint(eager=False)
    assert _derived_range_partitions(pinned) == dp
    # a narrowing projection rescales the sentinel to ~2^62 at the root
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2.0)]), "g long, v double"
    ).select("g")
    assert _derived_range_partitions(rdd_backed) == dp

    # only the sentinel means "no estimate": any real estimate, however
    # far past the range (multi-join overshoot), clamps to the maximum
    assert _range_partitions_for(None, dp) == dp
    assert _range_partitions_for(1 << 61, dp) == _MAX_RANGE_PARTITIONS
    assert _range_partitions_for(_NO_STATS_SIZE, dp) == _MAX_RANGE_PARTITIONS
    assert _range_partitions_for(0, dp) == dp


def test_mad_pass_gets_size_derived_partitions(spark, monkeypatch):
    """mad_outliers' second percentile pass reads a pinned relation, so
    its range-partition count is derived from the input before the pin
    and passed explicitly — never left to the pinned leaf's estimate or
    the bare defaultParallelism."""
    dp = spark.sparkContext.defaultParallelism
    derived = dp + 5
    monkeypatch.setattr(Q, "_derived_range_partitions", lambda df: derived)
    calls = []
    real = Q.exact_grouped_percentiles

    def spy(df, **kw):
        calls.append(kw)
        return real(df, **kw)

    monkeypatch.setattr(Q, "exact_grouped_percentiles", spy)
    df = spark.createDataFrame(
        [Row(g="a", v=float(i)) for i in range(10)] + [Row(g="a", v=100.0)]
    )
    flagged = Q.mad_outliers(df, group_col="g", value_col="v").collect()
    mad_pass = [kw for kw in calls if kw["value_col"] == "_absdev"]
    assert len(mad_pass) == 1
    assert mad_pass[0].get("n_range_partitions") == derived
    assert [r.v for r in flagged if r.is_outlier] == [100.0]


def test_cooccurrence_hot_token_stays_linear(spark):
    """Skew gate (VERDICT r15 item 6): a Zipf-degenerate document — one
    token repeated n times — may NOT explode quadratically. Pair
    emission is positional (each token pairs only with the next
    ``window`` positions), so the hot token yields exactly
    ``n·window − window·(window+1)/2`` self-pairs, all collapsing
    map-side into ONE (w,w) group — never the n²/2 a posting-list
    self-join would emit."""
    from flink_audit_sessions_example_spark.operators.text import (
        cooccurrence_pairs,
    )

    n, window = 1000, 3
    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(["hot"] * n))]
    )
    rows = cooccurrence_pairs(
        df, window=window, min_count=1
    ).collect()
    assert len(rows) == 1  # one (hot, hot) group, not a pair matrix
    expected = n * window - window * (window + 1) // 2
    assert rows[0].pair_count == expected


def test_cc_union_round_and_pagerank_union_iteration(spark):
    """The r16 one-join round shapes are not silently wrong on the
    smallest interesting graphs: a vertex with no in-edges in the
    directed pagerank graph still gets its teleport rank (the union
    zero-leg), and CC labeling is unchanged."""
    got = {
        r.doc_id: r.cluster_id
        for r in D.near_dup_clusters(spark.createDataFrame(PAIRS)).collect()
    }
    assert got == EXPECT
    # 1 -> 2 -> 3: vertex 1 has no in-edges; with the pre-r16 LEFT join
    # gone, the union leg must still emit its (1-d) base rank
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3)]
    )
    ranks = {
        r.vertex: r.rank
        for r in pagerank(
            edges, damping=0.85, max_iter=3, exact_scale=10**9
        ).collect()
    }
    assert set(ranks) == {1, 2, 3}
    # vertex 3 is dangling, so every vertex also receives a share of
    # its mass; vertex 1 (no in-edges) gets ONLY teleport + that share
    # — strictly the smallest, and present at all only via the zero-leg
    assert ranks[1] == min(ranks.values())
    assert sum(ranks.values()) == pytest.approx(3.0, abs=1e-3)
    assert ranks[3] > ranks[2] > ranks[1] > 0
