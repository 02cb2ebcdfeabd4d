"""The driver-gate contract: exactly 50 curated gates, every
registered query oracle-backed, names stable.

The driver value-checks the FIRST 50 queries() entries against
oracle_sql() — a GATE_ORDER typo (a name that is not a registered
query, a gate without an oracle, a 49- or 51-entry list) silently
weakens the round's correctness evidence.  Pin it."""

import importlib.util
import sys
from pathlib import Path

# the entry module of the checkout this test file belongs to
ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def _entry():
    if "spark_entry_under_test" in sys.modules:
        return sys.modules["spark_entry_under_test"]
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", ENTRY)
    m = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_under_test"] = m
    spec.loader.exec_module(m)
    return m


def test_gate_window_is_exactly_50_oracle_backed():
    e = _entry()
    assert len(e.GATE_ORDER) == 50
    assert len(set(e.GATE_ORDER)) == 50, "duplicate gate names"
    q = e.queries()
    o = e.oracle_sql()
    assert list(q) == list(e.GATE_ORDER)
    missing = [n for n in q if n not in o]
    assert not missing, f"gates without oracles: {missing}"


def test_every_registered_query_has_an_oracle():
    e = _entry()
    allq = e._all_queries()
    allo = {**e.oracle_sql(), **e.extra_oracle_sql()}
    unknown = [n for n in e.GATE_ORDER if n not in allq]
    assert not unknown, f"GATE_ORDER names not registered: {unknown}"
    # every query value-checkable: an entry without an oracle only
    # gets the weaker rows-only check — keep the set empty
    missing = sorted(set(allq) - set(allo))
    assert not missing, f"queries without oracles: {missing}"
    orphans = sorted(set(allo) - set(allq))
    assert not orphans, f"oracles without queries: {orphans}"


def test_bench_headline_names_are_registered():
    e = _entry()
    import bench
    allq = e._all_queries()
    unknown = [n for n in bench.HEADLINE if n not in allq]
    assert not unknown, f"bench headline names not registered: {unknown}"
