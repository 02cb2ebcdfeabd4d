"""The oracle harness goes red when the code is wrong.

``tools/check_queries.compare`` runs a registry entry's builder on
Spark and its oracle on DuckDB.  Each case below checks one query
family twice: as shipped it must compare OK, and with one policy
constant of the code under test mutated it must FAIL.  A harness that stays green under
these mutations would prove nothing about the code it gates.

The sf0.001 testdata comes from ``$SPARK_GRAFT_TEST_SF_DIR``, by default
the sf0.001 directory that ``TESTDATA.md`` names, not from a path
relative to the checkout, so a copy of the checkout runs it too.
"""

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF = Path(os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))

sys.path.insert(0, str(REPO / "tools"))
import check_queries  # noqa: E402

pytestmark = pytest.mark.skipif(not SF.is_dir(),
                                reason=f"needs the sf0.001 testdata at {SF} "
                                       "($SPARK_GRAFT_TEST_SF_DIR)")


def _failures(spark, name):
    entry = check_queries.entry_mod.registry()[name]
    con = check_queries.oracle_connection(str(SF))
    try:
        return check_queries.compare(spark, con, str(SF), {name: entry})
    finally:
        con.close()


def test_pagerank_damping_mutation_fails(spark, monkeypatch):
    assert _failures(spark, "kg_pagerank") == []
    monkeypatch.setattr("ferenda_spark.operators.rank.DAMPING_PCT", 80)
    assert _failures(spark, "kg_pagerank") == ["kg_pagerank"]


def test_gopher_band_edge_mutation_fails(spark, monkeypatch):
    assert _failures(spark, "gopher_rules_docs") == []
    monkeypatch.setattr(
        "ferenda_spark.operators.textstats.GOPHER_MIN_MEAN_LEN", 5.0)
    assert _failures(spark, "gopher_rules_docs") == ["gopher_rules_docs"]


def test_citation_class_regex_mutation_fails(spark, monkeypatch):
    from ferenda_spark.grammar import citations
    from ferenda_spark.grammar.combinators import Rx
    from ferenda_spark.operators import fused
    assert _failures(spark, "kg_citation_classes") == []
    # one-digit numbers: "[RFC 791]" no longer matches the rfc class.
    # The triple Column is cached per JVM, so the cache is emptied for
    # the mutated build; undoing the patch restores the cached Column
    # built from the shipped classes.
    monkeypatch.setattr(citations, "NUM", Rx(r"\d"))
    monkeypatch.setattr(citations, "CLASSES", citations.build_classes())
    monkeypatch.setattr(fused, "_TRIPLE_ARRAY", (None, None))
    assert _failures(spark, "kg_citation_classes") == [
        "kg_citation_classes"]
