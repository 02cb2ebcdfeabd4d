"""The query registry and the driver-gate contract derived from it.

The driver value-checks the first 50 queries() entries against
oracle_sql().  Both are projections of registry(), which pairs every
builder with its oracle, so a query without an oracle cannot be
written.  A GATE_ORDER typo (an unregistered name, a duplicate, a 49-
or 51-entry list) would still silently weaken the gate evidence:
pin it."""

import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
# the entry module of the checkout this test file belongs to
ENTRY = REPO / "__spark_entry__.py"


def _entry():
    if "spark_entry_under_test" in sys.modules:
        return sys.modules["spark_entry_under_test"]
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", ENTRY)
    m = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_under_test"] = m
    spec.loader.exec_module(m)
    return m


def test_every_entry_pairs_a_builder_with_an_oracle():
    for name, (fn, sql) in _entry().registry().items():
        assert callable(fn), name
        assert isinstance(sql, str) and sql.strip(), name


def test_gate_window_is_exactly_50_oracle_backed():
    e = _entry()
    reg = e.registry()
    assert len(e.GATE_ORDER) == 50
    assert len(set(e.GATE_ORDER)) == 50, "duplicate gate names"
    unknown = [n for n in e.GATE_ORDER if n not in reg]
    assert not unknown, f"GATE_ORDER names not registered: {unknown}"
    assert {"kg_extract_text", "kg_edges"} <= set(e.GATE_ORDER)
    assert list(e.queries()) == list(e.GATE_ORDER)
    assert list(e.oracle_sql()) == list(e.GATE_ORDER)


def test_sf1_bench_names_are_registered():
    sys.path.insert(0, str(REPO / "tools"))
    import bench_sf1
    reg = _entry().registry()
    unknown = [n for n in bench_sf1.DEFAULT if n not in reg]
    assert not unknown, f"bench_sf1 names not registered: {unknown}"
