"""Checks for ``plans/staged_r16.py`` beyond oracle parity. Hash
parity and non-vacuity of every key are covered by
``tests/test_oracle_parity.py`` like any other registration; this
file pins content non-vacuity for the degenerate-but-hash-matching
variants a broken producer could still emit."""

from __future__ import annotations

from conftest import SF_DIR
from registry_checks import assert_keys_live_and_identical, assert_sets_consistent

from flink_audit_sessions_example_spark.plans import staged_r16
from flink_audit_sessions_example_spark.plans.staged_r16 import (
    STAGED_R16_QUERIES,
)


def test_staged_r16_sets_are_consistent():
    assert_sets_consistent(staged_r16)


def test_staged_r16_keys_are_live_and_identical():
    assert_keys_live_and_identical(staged_r16)


def test_staged_r16_content_is_nonvacuous(spark):
    """All-zero variants would hash-match a broken producer: the
    attribution table must credit at least one conversion, the domain
    table must see real duplicates, and the cluster report must cover
    multi-member clusters from more than one source fingerprint."""
    attr = {
        r.event_type: r
        for r in STAGED_R16_QUERIES["win_attribution"](
            spark, SF_DIR
        ).collect()
    }
    assert sum(r.n_last_touch for r in attr.values()) >= 1
    assert all(r.n_touches >= r.n_last_touch for r in attr.values())
    dom = STAGED_R16_QUERIES["web_domain_stats"](spark, SF_DIR).collect()
    assert sum(r.n_dups for r in dom) >= 1
    stats = STAGED_R16_QUERIES["dedup_cluster_stats"](
        spark, SF_DIR
    ).collect()
    assert all(r.n_members >= 2 for r in stats)
    assert len(stats) >= 1
