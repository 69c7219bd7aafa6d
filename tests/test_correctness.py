"""Mirror of the driver's t2 gate: every queries() entry with an
oracle must hash-match DuckDB at sf0.01, and every entry's plan must
pass the plan audit's flags (tools/plan_audit.py)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tools.compare import compare
from tools.plan_audit import fingerprint, flags, plan_of

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert flags(name, fingerprint(plan_of(df))) == [], name
    if name not in ORACLES:
        # rows-only contract: must run and return a stable schema
        assert df.count() >= 0
        return
    result = compare(df, ORACLES[name], sf_dir)
    assert result["cols_match"], f"{name}: column mismatch {result}"
    assert result["rows_match"], f"{name}: row count mismatch {result}"
    assert result["values_match"], f"{name}: value mismatch {result.get('first_diffs')}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_gate_priority_is_exact_permutation_of_queries():
    """The driver walks queries() in _GATE_PRIORITY's insertion order
    with a ~50-key budget; a key missing from the list silently never
    gets gated, and a stale extra key is silently dropped by
    _ordered's `if k in mapping` guard — so only this test catches
    drift between _GATE_PRIORITY and queries().
    Pin: exact permutation, no dupes."""
    gp = entry_mod._GATE_PRIORITY
    assert len(gp) == len(set(gp)), "duplicate keys in _GATE_PRIORITY"
    assert set(gp) == set(QUERIES), (
        set(gp) ^ set(QUERIES)
    )
