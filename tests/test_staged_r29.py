"""Checks for ``plans/staged_r29.py`` beyond oracle parity. Hash
parity and non-vacuity of every key are covered by
``tests/test_oracle_parity.py`` like any other registration; this
file pins content non-vacuity for the degenerate-but-hash-matching
variants a broken producer could still emit."""

from __future__ import annotations

import math

from conftest import SF_DIR

from flink_audit_sessions_example_spark.plans.staged_r29 import (
    Q21_LATE_DAYS,
    Q22_BIG_ORDER,
    STAGED_R29_QUERIES,
)


def test_staged_r29_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a Q21 with a dead EXISTS or NOT-EXISTS leg, a Q22 whose
    threshold or anti-join never fires, a trade balance whose legs
    don't reconcile to zero, temperature weights that don't flatten,
    and an entropy outside its information-theoretic bounds."""
    from pyspark.sql import functions as F

    from flink_audit_sessions_example_spark.sources import load_table

    # Q21: both correlation legs are ALIVE — the qualifying
    # (order, supplier) pairs (Σ numwait) are a strict subset of ALL
    # late pairs: the multi-supplier EXISTS kills single-supplier
    # orders and the only-late NOT-EXISTS kills multi-late orders.
    # (Supplier-level counts saturate at tiny SF — 10 suppliers — so
    # the subset must be checked at pair granularity.)
    waiting = STAGED_R29_QUERIES["rel_waiting_suppliers"](
        spark, SF_DIR
    ).collect()
    assert len(waiting) >= 1
    assert all(r.numwait >= 1 for r in waiting)
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    late_pairs = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            > Q21_LATE_DAYS
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .count()
    )
    assert 0 < sum(r.numwait for r in waiting) < late_pairs

    # Q22: the scalar threshold AND the anti join both bite — qualified
    # customers are a strict subset of above-threshold customers, which
    # are a strict subset of all customers
    acq = STAGED_R29_QUERIES["rel_cust_acquisition"](
        spark, SF_DIR
    ).collect()
    n_qualified = sum(r.n_cust for r in acq)
    assert n_qualified >= 1
    assert all(r.acctbal_cents > 0 for r in acq)
    customer = load_table(spark, SF_DIR, "customer")
    pos = customer.where("c_acctbal > 0")
    above = pos.join(
        pos.agg(F.avg("c_acctbal").alias("a")).hint("broadcast")
    ).where("c_acctbal > a")
    n_above = above.count()
    assert 0 < n_qualified < n_above, "anti join never fired"
    assert n_above < customer.count()
    # the excluded ones really placed a big order
    assert (
        orders.where(F.col("o_totalprice") > Q22_BIG_ORDER).count() > 0
    )

    # trade balance: every line exports from exactly one nation and
    # imports into exactly one, so the corpus-wide balance is zero
    # (exact cent math; the only noise is the final /10000.0 rounding)
    tb = STAGED_R29_QUERIES["rel_nation_trade_balance"](
        spark, SF_DIR
    ).collect()
    assert len(tb) >= 5
    assert abs(sum(r.balance for r in tb)) < 1e-4
    assert sum(r.export_rev for r in tb) > 0
    # both legs vary by nation (a dead join would flatline one side)
    assert len({r.export_rev for r in tb}) > 1
    assert len({r.import_rev for r in tb}) > 1

    # temperature mix: weights are a flattened distribution — they sum
    # to 1, majority languages are downsampled (boost < 1), minority
    # upsampled (boost > 1), and the ordering of p is preserved
    mix = STAGED_R29_QUERIES["corpus_temperature_mix"](
        spark, SF_DIR
    ).collect()
    assert abs(sum(r.weight for r in mix) - 1.0) < 1e-4
    assert abs(sum(r.p_natural for r in mix) - 1.0) < 1e-4
    top = max(mix, key=lambda r: r.p_natural)
    low = min(mix, key=lambda r: r.p_natural)
    assert top.boost < 1 < low.boost, "temperature did not flatten"
    by_p = sorted(mix, key=lambda r: r.p_natural)
    assert [r.lang for r in by_p] == [
        r.lang for r in sorted(mix, key=lambda r: r.weight)
    ]

    # collision entropy: 0 < H2 <= log2(vocab), 1 <= effective vocab
    # <= actual vocab, diversity in (0, 1] — and the distribution is
    # really non-uniform (eff_vocab strictly below n_distinct)
    ent = STAGED_R29_QUERIES["text_token_entropy"](
        spark, SF_DIR
    ).collect()
    assert len(ent) >= 2
    for r in ent:
        assert r.n_tokens > r.n_distinct > 1
        assert 0 < r.renyi2_bits <= math.log2(r.n_distinct) + 1e-9
        assert 1.0 <= r.eff_vocab < r.n_distinct
        assert 0 < r.diversity <= 1.0


def test_log2_cross_engine_divergence_is_bounded_ulps(spark):
    """The measured basis of the tfidf no-log rule AND of the Rényi-2
    design's safety: JVM vs DuckDB ``log2`` DISAGREE on a large share
    of integer inputs (measured r15: 55,821 of the first 200,000 —
    which is why any Σ-of-logs oracle is barred: thousands of 1-ulp
    terms accumulate past the ROUND-6 boundary), but every divergence
    is a FEW ULPS at most (measured max: 2). That bound is what makes
    a SINGLE log2 per output row over a bit-identical rational safe
    under ROUND 6 (residual ~1e-15 vs a 5e-7 boundary). If an engine
    upgrade ever widens the divergence materially, this fails with a
    readable message instead of as an opaque driver hash mismatch."""
    import math
    import struct

    import duckdb

    def bits(x: float) -> int:
        return struct.unpack("<q", struct.pack("<d", x))[0]

    # IEEE doubles round-trip EXACTLY through both client paths
    # (py4j/Arrow and duckdb's fetch), so bit comparison is faithful.
    n = 200_000
    spark_vals = [
        r.v
        for r in (
            spark.range(1, n + 1)
            .selectExpr("log2(cast(id as double)) AS v")
            .orderBy("id")
            .collect()
        )
    ]
    con = duckdb.connect()
    try:
        duck_vals = [
            row[0]
            for row in con.sql(
                f"""
                SELECT log2(CAST(i AS DOUBLE))
                FROM generate_series(1, {n}) t(i) ORDER BY i
                """
            ).fetchall()
        ]
    finally:
        con.close()
    assert len(spark_vals) == len(duck_vals) == n
    worst = max(
        abs(bits(a) - bits(b))
        for a, b in zip(spark_vals, duck_vals)
    )
    assert worst <= 8, f"log2 diverges by {worst} ulps — ROUND-6 unsafe"
    # sanity of the fold-free design constraint: both engines agree
    # bit-for-bit on exact powers of two at least
    for k in range(0, 17):
        assert spark_vals[2**k - 1] == duck_vals[2**k - 1] == float(k)
    # python's libm is a third, independent referee for the magnitude
    assert all(
        abs(a - math.log2(i + 1)) < 1e-12
        for i, a in enumerate(spark_vals[:1000])
    )
