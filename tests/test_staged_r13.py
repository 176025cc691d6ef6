"""Registry checks for ``plans/staged_r13.py``: its queries pair up with
its oracles, and every key resolves in the merged registry to the
identical callable and oracle string. Hash parity and non-vacuity of
every key are covered by ``tests/test_oracle_parity.py``."""

from __future__ import annotations

from registry_checks import assert_keys_live_and_identical, assert_sets_consistent

from flink_audit_sessions_example_spark.plans import staged_r13


def test_staged_r13_sets_are_consistent():
    assert_sets_consistent(staged_r13)


def test_staged_r13_keys_are_live_and_identical():
    assert_keys_live_and_identical(staged_r13)
