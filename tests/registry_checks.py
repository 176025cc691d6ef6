"""Registry checks shared by the per-module plan tests: a plan module
pairs every query with an oracle, and each of its keys reaches the
merged registry verbatim — resolving to the IDENTICAL callable and
oracle string, because a divergent copy would shadow the tested object
with an untested one."""

from __future__ import annotations

from flink_audit_sessions_example_spark import plans


def assert_sets_consistent(*modules) -> None:
    for module in modules:
        queries, oracles = plans.plan_dicts(module)
        assert set(queries) == set(oracles), module.__name__


def assert_keys_live_and_identical(*modules) -> None:
    for module in modules:
        queries, oracles = plans.plan_dicts(module)
        for key, fn in queries.items():
            assert key in plans.QUERIES, f"key not in registry: {key}"
            assert plans.QUERIES[key] is fn, f"registry shadows query: {key}"
        for key, sql in oracles.items():
            assert key in plans.ORACLES, f"oracle not in registry: {key}"
            assert plans.ORACLES[key] is sql, f"registry shadows oracle: {key}"
