"""Checks for ``plans/staged_r15.py`` beyond oracle parity. Hash
parity and non-vacuity of every key are covered by
``tests/test_oracle_parity.py`` like any other registration; this
file pins detection non-vacuity for the audit relations (a planted burst
that flags nothing, or a calibration table with zero duplicates,
would hash-match a broken detector — the dq_freshness
planted-defect rule)."""

from __future__ import annotations

from conftest import SF_DIR
from registry_checks import assert_keys_live_and_identical, assert_sets_consistent

from flink_audit_sessions_example_spark.plans import staged_r15
from flink_audit_sessions_example_spark.plans.staged_r15 import (
    STAGED_R15_QUERIES,
)


def test_staged_r15_sets_are_consistent():
    assert_sets_consistent(staged_r15)


def test_staged_r15_keys_are_live_and_identical():
    assert_keys_live_and_identical(staged_r15)


def test_staged_r15_detection_is_nonvacuous(spark):
    """The hash-checked relations must actually DETECT something at the
    gate SF: the planted burst flags outlier windows, the calibration
    table sees real duplicate docs, and the edit-distance join emits
    pairs (all-zero variants would still hash-match a broken plant)."""
    anom = STAGED_R15_QUERIES["dq_rate_anomaly"](spark, SF_DIR)
    assert anom.where("is_outlier").count() >= 1
    calib = STAGED_R15_QUERIES["dq_quality_calibration"](spark, SF_DIR)
    assert calib.agg({"n_dups": "sum"}).collect()[0][0] >= 1
    pairs = STAGED_R15_QUERIES["sim_edit_pairs"](spark, SF_DIR)
    assert pairs.count() >= 1
