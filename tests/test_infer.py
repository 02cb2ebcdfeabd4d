"""RDFS materialization (ρdf fragment) and owl:sameAs
canonicalization — exact entailment sets on hand graphs, cycle
termination, and the broadcast-only plan shape."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators import infer
from ferenda_spark.operators.infer import (
    rdfs_materialize,
    sameas_canonicalize,
    sameas_map,
)

TRIPLE = "subj string, pred string, obj string"


def _t(spark, rows):
    return spark.createDataFrame(rows, TRIPLE)


@pytest.fixture(scope="module")
def graph(spark):
    schema = [
        ("c:A", infer.SUBCLASS, "c:B"),
        ("c:B", infer.SUBCLASS, "c:C"),
        ("p:p", infer.SUBPROP, "p:q"),
        ("p:q", infer.SUBPROP, "p:r"),
        ("p:q", infer.DOMAIN, "c:DomQ"),
        ("p:r", infer.RANGE, "c:RngR"),
    ]
    instance = [
        ("x", infer.RDF_TYPE, "c:A"),
        ("x", "p:p", "y"),
    ]
    return _t(spark, schema + instance), _t(spark, schema), \
        _t(spark, instance)


EXPECTED = {
    # originals
    ("x", infer.RDF_TYPE, "c:A"), ("x", "p:p", "y"),
    ("c:A", infer.SUBCLASS, "c:B"), ("c:B", infer.SUBCLASS, "c:C"),
    ("p:p", infer.SUBPROP, "p:q"), ("p:q", infer.SUBPROP, "p:r"),
    ("p:q", infer.DOMAIN, "c:DomQ"), ("p:r", infer.RANGE, "c:RngR"),
    # rdfs11 / rdfs5 closure triples
    ("c:A", infer.SUBCLASS, "c:C"), ("p:p", infer.SUBPROP, "p:r"),
    # rdfs7
    ("x", "p:q", "y"), ("x", "p:r", "y"),
    # rdfs2 through the subproperty chain (p ⊑ q, dom(q))
    ("x", infer.RDF_TYPE, "c:DomQ"),
    # rdfs3 through the subproperty chain (p ⊑* r, rng(r))
    ("y", infer.RDF_TYPE, "c:RngR"),
    # rdfs9 over the asserted type
    ("x", infer.RDF_TYPE, "c:B"), ("x", infer.RDF_TYPE, "c:C"),
}


def test_rdfs_materialize_exact_fixpoint(graph):
    mixed, _, _ = graph
    got = {tuple(r) for r in rdfs_materialize(mixed).collect()}
    assert got == EXPECTED


def test_rdfs_separate_schema_matches_mixed(graph):
    mixed, schema, instance = graph
    got = {tuple(r) for r in
           rdfs_materialize(instance, schema=schema).collect()}
    assert got == EXPECTED


def test_rdfs_subclass_cycle_terminates(spark):
    """Mutual subClassOf (equivalent classes) must close, not loop:
    each class entails the other's instances, self-loops dropped."""
    g = _t(spark, [
        ("c:X", infer.SUBCLASS, "c:Y"),
        ("c:Y", infer.SUBCLASS, "c:X"),
        ("a", infer.RDF_TYPE, "c:X"),
    ])
    got = {tuple(r) for r in rdfs_materialize(g).collect()}
    assert got == {
        ("c:X", infer.SUBCLASS, "c:Y"), ("c:Y", infer.SUBCLASS, "c:X"),
        ("a", infer.RDF_TYPE, "c:X"), ("a", infer.RDF_TYPE, "c:Y"),
    }


def test_rdfs_no_schema_is_identity(spark):
    g = _t(spark, [("a", "p:x", "b"), ("a", "p:x", "b"),
                   ("b", infer.RDF_TYPE, "c:K")])
    got = sorted(tuple(r) for r in rdfs_materialize(g).collect())
    assert got == [("a", "p:x", "b"), ("b", infer.RDF_TYPE, "c:K")]


@pytest.fixture(scope="module")
def identity_graph(spark):
    return _t(spark, [
        # chain m2:1 ~ m1:1 ~ d:1  (canonical must be d:1)
        ("m1:1", infer.SAME_AS, "d:1"),
        ("m2:1", infer.SAME_AS, "m1:1"),
        ("m1:2", infer.SAME_AS, "d:2"),
        # edges in mixed spellings that must collapse
        ("m1:1", "p:cites", "m1:2"),
        ("d:1", "p:cites", "d:2"),
        ("m2:1", "p:cites", "d:9"),
        ("d:8", "p:notes", "untouched"),
    ])


def test_sameas_map_min_canonical(identity_graph):
    m = {r["node"]: r["canon"] for r in
         sameas_map(identity_graph).collect()}
    assert m == {"m1:1": "d:1", "m2:1": "d:1", "m1:2": "d:2"}


def test_sameas_canonicalize_rewrites_and_collapses(identity_graph):
    got = sorted(tuple(r) for r in
                 sameas_canonicalize(identity_graph).collect())
    assert got == [
        ("d:1", "p:cites", "d:2"),       # two spellings collapsed
        ("d:1", "p:cites", "d:9"),       # subj rewritten via chain
        ("d:8", "p:notes", "untouched"),
    ]


def test_sameas_no_links_is_identity(spark):
    g = _t(spark, [("a", "p:x", "b")])
    assert [tuple(r) for r in sameas_canonicalize(g).collect()] == \
        [("a", "p:x", "b")]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rdfs_instance_side_never_merge_joins(graph):
    """Every rule application must be a broadcast join the ABox
    streams through — a SortMergeJoin would shuffle the corpus once
    per rule."""
    mixed, _, _ = graph
    plan = _plan(rdfs_materialize(mixed))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_sameas_rewrite_is_broadcast(identity_graph):
    # sameas_map materializes the node-scale map before it returns, so
    # the plan left is the corpus-rewrite path
    plan = _plan(sameas_canonicalize(identity_graph))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_strict_closure_driver_equals_distributed(spark):
    """The driver BFS (``_py_strict_closure``, the small-TBox path)
    and the distributed fixpoint are the same function: identical
    pair sets on chains, diamonds, cycles, self-loops and random
    digraphs."""
    import random
    from ferenda_spark.operators.infer import (_py_strict_closure,
                                               _strict_closure)
    rnd = random.Random(7)
    cases = [
        [("a", "b"), ("b", "c"), ("c", "d")],                # chain
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],    # diamond
        [("a", "b"), ("b", "a"), ("b", "c")],                # cycle
        [("a", "a")],                                        # self-loop
    ] + [
        [(f"n{rnd.randrange(8)}", f"n{rnd.randrange(8)}")
         for _ in range(12)]
        for _ in range(3)
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "sub string, sup string")
        fast = _py_strict_closure(pairs)
        slow = {tuple(r) for r in _strict_closure(df).collect()}
        assert fast == slow, pairs


def test_strict_closure_empty(spark):
    from ferenda_spark.operators.infer import _strict_closure
    df = spark.createDataFrame([], "sub string, sup string")
    assert _strict_closure(df).collect() == []


def test_closed_schema_local_equals_distributed(spark, graph,
                                               monkeypatch):
    """The driver-side (local-relation) ClosedSchema and the
    distributed-fixpoint one must be the same closure — and
    rdfs_materialize must produce the identical graph through both."""
    from ferenda_spark.operators.infer import ClosedSchema
    mixed, schema, instance = graph
    local = ClosedSchema(schema)
    want = {tuple(r) for r in
            rdfs_materialize(instance, schema=schema).collect()}
    monkeypatch.setattr(infer, "_DRIVER_CLOSURE_MAX", 0)
    dist = ClosedSchema(schema)
    for name in ("sc", "sp", "eff_dom", "eff_rng", "triples"):
        a = {tuple(r) for r in getattr(local, name).collect()}
        b = {tuple(r) for r in getattr(dist, name).collect()}
        assert a == b, name
    got = {tuple(r) for r in
           rdfs_materialize(instance, schema=schema).collect()}
    assert got == want == EXPECTED


def test_owl_inverse_symmetric_transitive_exact(spark):
    """The three OWL property rules reach their joint fixpoint: an
    inverse assertion feeds the closure, the closure mirrors back to
    the inverse, symmetric doubles, no declarations = identity."""
    from ferenda_spark.operators.infer import owl_property_materialize
    g = _t(spark, [
        ("p:next", infer.RDF_TYPE, "owl:TransitiveProperty"),
        ("p:prev", "owl:inverseOf", "p:next"),
        ("p:near", infer.RDF_TYPE, "owl:SymmetricProperty"),
        ("a", "p:next", "b"),
        ("c", "p:prev", "b"),          # means b p:next c
        ("x", "p:near", "y"),
        ("q", "p:plain", "r"),
    ])
    got = {tuple(r) for r in owl_property_materialize(g).collect()}
    assert got == {
        ("p:next", infer.RDF_TYPE, "owl:TransitiveProperty"),
        ("p:prev", "owl:inverseOf", "p:next"),
        ("p:near", infer.RDF_TYPE, "owl:SymmetricProperty"),
        ("a", "p:next", "b"), ("c", "p:prev", "b"),
        ("x", "p:near", "y"), ("q", "p:plain", "r"),
        # inverse of the asserted pair + symmetric double
        ("b", "p:prev", "a"), ("b", "p:next", "c"),
        ("y", "p:near", "x"),
        # closure through the inverse-derived hop, mirrored back
        ("a", "p:next", "c"), ("c", "p:prev", "a"),
    }


def test_owl_no_declarations_identity(spark):
    from ferenda_spark.operators.infer import owl_property_materialize
    g = _t(spark, [("a", "p:x", "b"), ("a", "p:x", "b")])
    assert [tuple(r) for r in owl_property_materialize(g).collect()] \
        == [("a", "p:x", "b")]


def test_owl_symmetric_transitive_same_pred(spark):
    """A predicate that is BOTH symmetric and transitive (the
    skos:exactMatch shape) closes over the symmetric double — the
    whole chain becomes a clique both ways."""
    from ferenda_spark.operators.infer import owl_property_materialize
    g = _t(spark, [
        ("p:eq", infer.RDF_TYPE, "owl:SymmetricProperty"),
        ("p:eq", infer.RDF_TYPE, "owl:TransitiveProperty"),
        ("a", "p:eq", "b"),
        ("c", "p:eq", "b"),
    ])
    got = {(r["subj"], r["obj"]) for r in
           owl_property_materialize(g).collect()
           if r["pred"] == "p:eq"}
    # a~b, c~b → {a,b,c} fully connected minus self-loops... except
    # the closure DOES derive self-pairs (a→b→a); assert the clique
    assert {(u, v) for u in "abc" for v in "abc"} - got <= set()
    assert ("a", "c") in got and ("c", "a") in got


def test_owl_symmetric_and_inverse_on_same_pred(spark):
    """A property that is symmetric AND has an inverse derives BOTH
    swaps per assertion — the swap map is a multimap, not a dict."""
    from ferenda_spark.operators.infer import owl_property_materialize
    g = _t(spark, [
        ("p:p", "owl:inverseOf", "p:q"),
        ("p:p", infer.RDF_TYPE, "owl:SymmetricProperty"),
        ("a", "p:p", "b"),
    ])
    got = {tuple(r) for r in owl_property_materialize(g).collect()}
    assert ("b", "p:q", "a") in got      # inverse derivation
    assert ("b", "p:p", "a") in got      # symmetric derivation
    # and the symmetric double re-derives through the inverse too
    assert ("a", "p:q", "b") in got


def test_owl_multiple_inverses_all_derive(spark):
    from ferenda_spark.operators.infer import owl_property_materialize
    g = _t(spark, [
        ("p:p", "owl:inverseOf", "p:q"),
        ("p:p", "owl:inverseOf", "p:r"),
        ("a", "p:p", "b"),
    ])
    got = {tuple(r) for r in owl_property_materialize(g).collect()}
    assert ("b", "p:q", "a") in got and ("b", "p:r", "a") in got
