"""Registry loading must fail loudly: a broken query module silently
shrinking queries()/oracle_sql() would invisibly narrow the driver's
checked surface (VERDICT r1, "What's wrong" #3)."""

from __future__ import annotations

import importlib
import sys

import pytest


def test_broken_query_module_fails_loudly():
    saved = {k: v for k, v in sys.modules.items() if k.startswith("sparksent")}
    for k in list(sys.modules):
        if k.startswith("sparksent"):
            del sys.modules[k]
    # None in sys.modules makes `import sparksent.queries_tpch` raise
    # ImportError — simulates a module whose import fails
    sys.modules["sparksent.queries_tpch"] = None
    try:
        reg = importlib.import_module("sparksent.registry")
        with pytest.raises(ImportError):
            reg.queries()
    finally:
        for k in list(sys.modules):
            if k.startswith("sparksent"):
                del sys.modules[k]
        sys.modules.update(saved)


def test_registry_full_surface_loads():
    from sparksent.registry import oracle_sql, queries

    qs, osql = queries(), oracle_sql()
    assert len(qs) >= 58
    # every oracle belongs to a registered query
    assert set(osql) <= set(qs)


def test_bench_names_are_registered():
    """bench.py derives HEADLINE/CAPABILITY from the registry's
    "capability" tag, so a renamed query or a dropped tag would silently
    move a query into the headline sum.  Pin: the capability tier is
    exactly the three documented names, the tiers are disjoint, and
    together they are queries() in order."""
    import bench
    from sparksent.registry import queries

    qs = list(queries())
    assert set(bench.CAPABILITY) == {
        "grouped_mode_event_type",
        "doc_sentiment_mllib",
        "bpe_merges",
    }
    assert not set(bench.HEADLINE) & set(bench.CAPABILITY)
    assert sorted(bench.HEADLINE + bench.CAPABILITY) == sorted(qs)
    assert bench.HEADLINE == [n for n in qs if n not in bench.CAPABILITY]


def test_every_registered_query_is_benched_and_pinned():
    """Pin-coverage gate (round-11 continuation): a fresh full bench
    revealed six round-9 registrations had NEVER received
    BASELINE_BENCH pins — each round's regression tracking silently
    excluded them.  Enforce the two invariants that would have caught
    it: every registered query is timed by bench.py (HEADLINE or
    CAPABILITY), and every registered query has a pin in
    BASELINE_BENCH.json."""
    import json
    import os

    import bench
    from sparksent.registry import queries

    qs = set(queries())
    benched = set(bench.HEADLINE) | set(bench.CAPABILITY)
    unbenched = qs - benched
    assert not unbenched, f"registered but never timed: {sorted(unbenched)}"
    base = json.load(
        open(os.path.join(os.path.dirname(bench.__file__), "BASELINE_BENCH.json"))
    )
    unpinned = qs - set(base["queries"])
    assert not unpinned, f"registered but never pinned: {sorted(unpinned)}"
