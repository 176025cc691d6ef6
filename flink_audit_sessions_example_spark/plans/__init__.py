"""Query registry — the engine's public query surface.

``QUERIES`` maps every implemented operator key from SURVEY.md §2 to a
callable ``(spark, sf_dir) -> DataFrame``; ``ORACLES`` maps the same keys to
equivalent DuckDB SQL. ``__spark_entry__.py`` re-exports both.

The registry is the flat merge of the plan modules in ``PLAN_MODULES``,
in list order. ``queries`` names its pair ``QUERIES`` / ``ORACLES``;
every other module prefixes its own name (``staged_r11`` →
``STAGED_R11_QUERIES`` / ``STAGED_R11_ORACLES``). A key defined by two
modules raises at import: one module would silently shadow the other's
tested callable or oracle. A new plan module is registered by adding it
to ``PLAN_MODULES``; ``tests/test_plans.py`` fails if one is left out.
"""

from . import (
    extended,
    queries,
    round10,
    round12,
    staged,
    staged_r11,
    staged_r12,
    staged_r13,
    staged_r14,
    staged_r15,
    staged_r16,
    staged_r17,
    staged_r18,
    staged_r19,
    staged_r20,
    staged_r21,
    staged_r22,
    staged_r23,
    staged_r24,
    staged_r25,
    staged_r26,
    staged_r27,
    staged_r28,
    staged_r29,
    staged_r30,
)
from .queries import flagship  # noqa: F401

PLAN_MODULES = (
    queries,
    extended,
    staged,
    round10,
    round12,
    staged_r11,
    staged_r12,
    staged_r13,
    staged_r14,
    staged_r15,
    staged_r16,
    staged_r17,
    staged_r18,
    staged_r19,
    staged_r20,
    staged_r21,
    staged_r22,
    staged_r23,
    staged_r24,
    staged_r25,
    staged_r26,
    staged_r27,
    staged_r28,
    staged_r29,
    staged_r30,
)


def plan_dicts(module) -> "tuple[dict, dict]":
    """The ``(*_QUERIES, *_ORACLES)`` pair a plan module defines."""
    name = module.__name__.rpartition(".")[2]
    prefix = "" if module is queries else f"{name.upper()}_"
    return getattr(module, f"{prefix}QUERIES"), getattr(module, f"{prefix}ORACLES")


def _merge(dicts) -> dict:
    # A hard raise, not an assert: `python -O` strips asserts, and this
    # is exactly the integrity check that must survive optimized runs.
    merged: dict = {}
    for d in dicts:
        shadowed = merged.keys() & d.keys()
        if shadowed:
            raise ValueError(f"plan modules shadow each other: {sorted(shadowed)}")
        merged.update(d)
    return merged


QUERIES = _merge(plan_dicts(m)[0] for m in PLAN_MODULES)
ORACLES = _merge(plan_dicts(m)[1] for m in PLAN_MODULES)
