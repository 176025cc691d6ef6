"""Checks for ``plans/staged_r30.py`` beyond oracle parity. Hash
parity and non-vacuity of every key are covered by
``tests/test_oracle_parity.py`` like any other registration; this
file pins content non-vacuity for the degenerate-but-hash-matching
variants a broken producer could still emit."""

from __future__ import annotations

from conftest import SF_DIR

from flink_audit_sessions_example_spark.plans.staged_r30 import (
    KN_MIN_CONT,
    NOVELTY_SHARDS,
    STAGED_R30_QUERIES,
)


def test_staged_r30_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a regression whose slope/r² legs are dead, a cosine
    histogram collapsed into one bucket (or fed by a wrong pairing),
    continuation counts that just mirror raw frequency, a novelty
    curve that never decays or loses doc mass, and a TV distance
    outside [0, 1] or identical across languages."""
    from pyspark.sql import functions as F

    from flink_audit_sessions_example_spark.sources import load_table

    # OLS: every series regresses (n_days >= 2), r2 in [0, 1] when
    # defined, and the fitted line is non-trivial (not all slopes 0)
    tr = STAGED_R30_QUERIES["win_linreg_trend"](spark, SF_DIR).collect()
    assert len(tr) >= 2
    for r in tr:
        assert r.n_days >= 2
        if r.r2 is not None:
            assert -1e-9 <= r.r2 <= 1 + 1e-9
    assert any(abs(r.slope) > 0 for r in tr)
    # closed form equals Spark's own covariance/variance regression
    ev = load_table(spark, SF_DIR, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("y"))
    ref = (
        daily.select(
            "event_type",
            F.datediff(
                F.col("d"), F.lit("2024-01-01").cast("date")
            ).cast("double").alias("x"),
            F.col("y").cast("double").alias("y"),
        )
        .groupBy("event_type")
        .agg((F.covar_pop("x", "y") / F.var_pop("x")).alias("slope"))
        .collect()
    )
    ref_slopes = {r.event_type: r.slope for r in ref}
    for r in tr:
        assert abs(r.slope - ref_slopes[r.event_type]) < 1e-4

    # cosine histogram: pairs conserved (n-1 adjacent pairs), spread
    # over more than one bucket, every bucket's bounds inside [-1, 1]
    # and consistent with its bucket index
    hist = STAGED_R30_QUERIES["embed_cosine_hist"](
        spark, SF_DIR
    ).collect()
    n_vec = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_pairs for r in hist) == n_vec - 1
    assert len(hist) > 1, "all cosines in one bucket"
    for r in hist:
        assert -1 - 1e-9 <= r.min_cos <= r.max_cos <= 1 + 1e-9
        assert r.bucket / 10 - 1e-6 <= r.min_cos
        assert r.max_cos < (r.bucket + 1) / 10 + 1e-6

    # KN continuation: cont_types never exceeds right_count, the
    # threshold bites, and the ranking genuinely differs from raw
    # frequency somewhere (the Francisco property)
    kn = STAGED_R30_QUERIES["lm_kn_discount"](spark, SF_DIR).collect()
    assert len(kn) >= 5
    for r in kn:
        assert KN_MIN_CONT <= r.cont_types <= r.right_count
        assert 0 < r.kn_cont_prob < 1
    by_cont = sorted(kn, key=lambda r: (-r.cont_types, r.w2))
    by_raw = sorted(kn, key=lambda r: (-r.right_count, r.w2))
    assert [r.w2 for r in by_cont] != [r.w2 for r in by_raw], (
        "continuation order identical to raw frequency — suspicious"
    )

    # novelty curve: all shards present, doc mass conserved, the
    # cumulative distinct is monotone and ends at the true distinct
    # count, and novelty is a true RATE in (0, 1]
    nv = sorted(
        STAGED_R30_QUERIES["corpus_novelty_curve"](
            spark, SF_DIR
        ).collect(),
        key=lambda r: r.shard,
    )
    assert [r.shard for r in nv] == list(range(NOVELTY_SHARDS))
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r.n_docs for r in nv) == docs.count()
    true_distinct = (
        docs.select(
            F.md5(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                )
            ).alias("fp")
        )
        .distinct()
        .count()
    )
    assert nv[-1].cum_distinct == true_distinct
    assert all(
        a.cum_distinct <= b.cum_distinct for a, b in zip(nv, nv[1:])
    )
    assert all(0 <= r.novelty <= 1 for r in nv)
    assert nv[0].novelty == 1.0, "first shard must be all-novel"

    # TV divergence: in (0, 1], differs across languages (a collapsed
    # join would flatline it), and the vocab accounting is consistent
    tv = STAGED_R30_QUERIES["text_lang_divergence"](
        spark, SF_DIR
    ).collect()
    assert len(tv) >= 2
    for r in tv:
        assert 0 < r.tv_distance <= 1 + 1e-9
        assert 0 <= r.n_common <= r.n_union
    assert len({r.tv_distance for r in tv}) > 1
