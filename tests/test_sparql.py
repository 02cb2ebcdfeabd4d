"""Mini-SPARQL compiler (operators/sparql.py) — the reference's
annotation-query subset (res/sparql/annotations.rq,
sources/tech/res/sparql/rfc-annotations.rq, interpolation at
documentrepository.py:1829-1891) compiled to DataFrame plans."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators.sparql import (
    ANNOTATIONS_RQ,
    RFC_ANNOTATIONS_RQ,
    construct_annotations,
    parse_sparql,
    sparql_query,
)

SCHEMA = ("subj string, pred string, obj string, obj_is_literal boolean, "
          "obj_datatype string, obj_lang string")


def _edges(spark):
    rows = [
        ("A", "dcterms:title", "Doc A", True, None, "en"),
        ("A", "rdf:type", "bibo:Document", False, None, None),
        ("A#S1", "dcterms:isPartOf", "A", False, None, None),
        ("A#S1.1", "dcterms:isPartOf", "A#S1", False, None, None),
        ("B", "dcterms:references", "A#S1", False, None, None),
        ("B", "dcterms:title", "Doc B", True, None, None),
        ("C", "rfc:obsoletes", "A", False, None, None),
        ("C", "dcterms:title", "Doc C", True, None, None),
        ("C", "dcterms:references", "Z", False, None, None),
        ("D", "rfc:updates", "A", False, None, None),
        ("E", "dcterms:references", "B", False, None, None),
        ("E", "dcterms:issued", "2001-01", True, "xsd:gYearMonth", None),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _triples(df):
    return {tuple(r) for r in df.collect()}


def test_annotations_construct(spark):
    """annotations.rq semantics: triples of the doc + its isPartOf*
    parts, plus isReferencedBy back-links onto the cited parts."""
    got = _triples(construct_annotations(_edges(spark), "A"))
    assert got == {
        ("A", "dcterms:title", "Doc A", True, None, "en"),
        ("A", "rdf:type", "bibo:Document", False, None, None),
        ("A#S1", "dcterms:isPartOf", "A", False, None, None),
        ("A#S1.1", "dcterms:isPartOf", "A#S1", False, None, None),
        # B cites A#S1: B's own triples + the back-link
        ("B", "dcterms:references", "A#S1", False, None, None),
        ("B", "dcterms:title", "Doc B", True, None, None),
        ("A#S1", "dcterms:isReferencedBy", "B", False, None, None),
    }


def test_rfc_annotations_construct(spark):
    """rfc-annotations.rq: literal self-metadata, referencer metadata
    (minus unrelated references), updater/obsoleter metadata, and the
    inverse isObsoletedBy/isUpdatedBy/isReferencedBy links."""
    got = _triples(sparql_query(_edges(spark), RFC_ANNOTATIONS_RQ,
                                {"uri": "A"}))
    assert got == {
        # arm 1: non-IRI metadata of A itself
        ("A", "dcterms:title", "Doc A", True, None, "en"),
        # arm 3: C obsoletes A, D updates A → their metadata minus
        # dcterms:references (C references Z is excluded by FILTER)
        ("C", "dcterms:title", "Doc C", True, None, None),
        ("C", "rfc:obsoletes", "A", False, None, None),
        ("D", "rfc:updates", "A", False, None, None),
        # arms 4/5 → inverse links in the template
        ("A", "rfc:isObsoletedBy", "C", False, None, None),
        ("A", "rfc:isUpdatedBy", "D", False, None, None),
    }


def test_transitive_references_select(spark):
    """references+ is transitive: E → B → A#S1."""
    got = sparql_query(
        _edges(spark),
        "SELECT DISTINCT ?s WHERE { ?s dcterms:references+ <A#S1> . }")
    assert {r["s"] for r in got.collect()} == {"B", "E"}
    # and * includes the zero-length path (the target itself)
    got0 = sparql_query(
        _edges(spark),
        "SELECT DISTINCT ?s WHERE { ?s dcterms:references* <A#S1> . }")
    assert {r["s"] for r in got0.collect()} == {"A#S1", "B", "E"}


def test_select_join_and_filters(spark):
    q = """
    SELECT ?doc ?title WHERE {
      ?doc dcterms:title ?title .
      ?doc dcterms:references ?t .
      FILTER(strstarts(str(?t), "A"))
    }
    """
    got = sparql_query(_edges(spark), q)
    assert {(r["doc"], r["title"]) for r in got.collect()} == {
        ("B", "Doc B")}


def test_filter_in_and_isuri(spark):
    q = """
    SELECT DISTINCT ?s WHERE {
      ?s ?p ?o .
      FILTER(?p in (rfc:updates, rfc:obsoletes) && !isUri(?o))
    }
    """
    assert sparql_query(_edges(spark), q).count() == 0
    q2 = """
    SELECT DISTINCT ?s WHERE {
      ?s ?p ?o . FILTER(?p = dcterms:issued && !isUri(?o))
    }
    """
    assert {r["s"] for r in sparql_query(_edges(spark), q2).collect()} \
        == {"E"}


def test_predicate_object_list_and_bind(spark):
    q = """
    SELECT ?r ?p ?o WHERE {
      ?s dcterms:references <A#S1> ;
         ?p ?o .
      BIND(?s as ?r)
    }
    """
    got = sparql_query(_edges(spark), q)
    assert {(r["r"], r["p"], r["o"]) for r in got.collect()} == {
        ("B", "dcterms:references", "A#S1"),
        ("B", "dcterms:title", "Doc B"),
    }


def test_union_unbound_vars_dropped_in_construct(spark):
    """Template rows with an unbound slot are dropped (SPARQL spec)."""
    q = """
    CONSTRUCT { <X> ex:u ?u . <X> ex:v ?v . }
    WHERE {
      { ?u rfc:updates <A> . } UNION { ?v rfc:obsoletes <A> . }
    }
    """
    got = _triples(sparql_query(_edges(spark), q))
    assert got == {
        ("X", "ex:u", "D", False, None, None),
        ("X", "ex:v", "C", False, None, None),
    }


def test_parse_prefix_and_distinct():
    q = parse_sparql("""
    PREFIX dcterms: <http://purl.org/dc/terms/>
    SELECT DISTINCT ?a ?b WHERE { ?a dcterms:x ?b . }
    """)
    assert q.form == "select" and q.distinct
    assert q.select_vars == ["a", "b"]


def test_parse_errors():
    with pytest.raises(ValueError, match="unsupported query form"):
        parse_sparql("INSERT DATA { <a> <b> <c> }")
    with pytest.raises(ValueError, match="unterminated group"):
        parse_sparql("SELECT ?s WHERE { ?s ?p ?o .")


def test_select_unbound_var_raises(spark):
    with pytest.raises(ValueError, match="unbound vars"):
        sparql_query(_edges(spark),
                     "SELECT ?s ?zz WHERE { ?s ?p ?o . }").collect()
    # unbound var inside FILTER is a compile-time error too
    with pytest.raises(ValueError, match="unbound"):
        sparql_query(_edges(spark),
                     "SELECT ?s WHERE { ?s ?p ?o . FILTER(?q = ?s) }")


def test_params_interpolation(spark):
    got = sparql_query(_edges(spark),
                       "SELECT ?p WHERE { <%(who)s> ?p <A> . }",
                       {"who": "D"})
    assert [r["p"] for r in got.collect()] == ["rfc:updates"]


def test_var_var_star_path(spark):
    """var—pred*—var: closure pairs plus the zero-length identity
    over the node universe."""
    got = sparql_query(
        _edges(spark),
        "SELECT ?a ?b WHERE { ?a dcterms:isPartOf* ?b . "
        "FILTER(strstarts(str(?a), \"A#S1.\")) }")
    assert {(r["a"], r["b"]) for r in got.collect()} == {
        ("A#S1.1", "A#S1.1"),          # zero-length
        ("A#S1.1", "A#S1"),
        ("A#S1.1", "A"),
    }


def test_optional_left_join(spark):
    """OPTIONAL keeps solutions whose optional pattern has no match
    (sfs_changes.rq shape: optional identifier/title decoration)."""
    q = """
    SELECT ?doc ?title WHERE {
      ?doc rfc:obsoletes <A> .
      OPTIONAL { ?doc dcterms:missingpred ?title . }
    }
    """
    got = sparql_query(_edges(spark), q).collect()
    assert [(r["doc"], r["title"]) for r in got] == [("C", None)]
    q2 = """
    SELECT ?doc ?title WHERE {
      ?doc rfc:obsoletes <A> .
      OPTIONAL { ?doc dcterms:title ?title . }
    }
    """
    got2 = sparql_query(_edges(spark), q2).collect()
    assert [(r["doc"], r["title"]) for r in got2] == [("C", "Doc C")]


def test_describe_with_subdocs_shape(spark):
    """The reference's describe-with-subdocs.rq core: referencer →
    isPartOf* root decoration with OPTIONAL metadata and a target
    prefix filter (sources/legal/se/res/sparql/
    describe-with-subdocs.rq)."""
    rows = [
        ("R", "dcterms:references", "A#S1", False, None, None),
        ("R", "dcterms:isPartOf", "RDOC", False, None, None),
        ("R", "dcterms:identifier", "R-id", True, None, None),
        ("RDOC", "rdf:type", "bibo:Document", False, None, None),
        ("RDOC", "dcterms:identifier", "RDOC-id", True, None, None),
        # a referencer with NO identifier — OPTIONAL must keep it
        ("Q", "dcterms:references", "A#S2", False, None, None),
        ("Q", "dcterms:isPartOf", "RDOC", False, None, None),
        # a referencer whose target misses the prefix filter
        ("X", "dcterms:references", "B#S1", False, None, None),
        ("X", "dcterms:isPartOf", "RDOC", False, None, None),
    ]
    edges = spark.createDataFrame(rows, SCHEMA)
    q = """
    CONSTRUCT {
      ?target dcterms:isReferencedBy ?referer .
      ?referer dcterms:isPartOf ?rootdoc ;
               dcterms:identifier ?refid .
      ?rootdoc rdf:type ?roottype .
    }
    WHERE {
      ?referer dcterms:references ?target ;
               dcterms:isPartOf* ?rootdoc .
      ?rootdoc rdf:type ?roottype ;
               dcterms:identifier ?rootid .
      OPTIONAL { ?referer dcterms:identifier ?refid . }
      FILTER(STRSTARTS(STR(?target), "%(uri)s#"))
    }
    """
    got = _triples(sparql_query(edges, q, {"uri": "A"}))
    assert got == {
        ("A#S1", "dcterms:isReferencedBy", "R", False, None, None),
        ("R", "dcterms:isPartOf", "RDOC", False, None, None),
        ("R", "dcterms:identifier", "R-id", True, None, None),
        ("A#S2", "dcterms:isReferencedBy", "Q", False, None, None),
        ("Q", "dcterms:isPartOf", "RDOC", False, None, None),
        ("RDOC", "rdf:type", "bibo:Document", False, None, None),
    }


def test_graph_scope(spark):
    """GRAPH <g> filters a quad store's graph column; without the
    column the clause scopes to the whole (single-graph) store."""
    quads = spark.createDataFrame(
        [("S", "p:x", "1", False, None, None, "g1"),
         ("S", "p:x", "2", False, None, None, "g2")],
        SCHEMA + ", graph string")
    q = 'SELECT ?o WHERE { GRAPH <g1> { ?s p:x ?o . } }'
    assert [r["o"] for r in sparql_query(quads, q).collect()] == ["1"]
    # single-graph store: clause is a no-op scope
    got = sparql_query(_edges(spark),
                       'SELECT ?o WHERE { GRAPH <any> '
                       '{ <A> dcterms:title ?o . } }')
    assert [r["o"] for r in got.collect()] == ["Doc A"]


def test_repeated_var_in_pattern(spark):
    rows = [("S", "p:loop", "S", False, None, None),
            ("S", "p:loop", "T", False, None, None)]
    edges = spark.createDataFrame(rows, SCHEMA)
    got = sparql_query(edges, "SELECT ?s WHERE { ?s p:loop ?s . }")
    assert [r["s"] for r in got.collect()] == ["S"]


# -- parser robustness (hypothesis) -----------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_TOKENS = st.sampled_from([
    "SELECT", "CONSTRUCT", "WHERE", "OPTIONAL", "GRAPH", "FILTER",
    "BIND", "UNION", "PREFIX", "{", "}", "(", ")", ".", ";", ",",
    "=", "!=", "&&", "||", "!", "*", "+", "?s", "?p", "?o", "a",
    "dcterms:title", "<http://x/y>", '"lit"', "isUri", "strstarts",
    "str", "in", "as",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_TOKENS, min_size=0, max_size=25))
def test_parser_never_crashes_unstructured(toks):
    """Arbitrary token soup must either parse or raise ValueError —
    never an IndexError/AttributeError/TypeError escape."""
    try:
        parse_sparql(" ".join(toks))
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_parser_accepts_generated_selects(data):
    """Constructively generated well-formed SELECTs always parse and
    project the declared variables."""
    n_vars = data.draw(st.integers(1, 3))
    vars_ = [f"v{i}" for i in range(n_vars)]
    n_pat = data.draw(st.integers(1, 3))
    pats = []
    for _ in range(n_pat):
        s = data.draw(st.sampled_from(["?v0", "<http://d/1>"]))
        p = data.draw(st.sampled_from(
            ["dcterms:title", "?v1" if n_vars > 1 else "a"]))
        o = data.draw(st.sampled_from(
            ['"x"', "?v2" if n_vars > 2 else "<http://d/2>"]))
        pats.append(f"{s} {p} {o} .")
    q = parse_sparql(
        f"SELECT {' '.join('?' + v for v in vars_)} "
        f"WHERE {{ {' '.join(pats)} }}")
    assert q.form == "select" and q.select_vars == vars_
    assert len(q.where.items) == n_pat


def test_review_fix_parser_errors():
    """Leading UNION, truncated FILTER, and genuinely-unsupported
    trailing clauses raise ValueError (no hang, no AttributeError).
    ORDER BY/LIMIT/OFFSET/GROUP BY are supported now; HAVING and
    modifiers on CONSTRUCT are not and must stay loud."""
    for bad in ["SELECT ?s WHERE { UNION }",
                "SELECT ?s WHERE { FILTER (",
                "SELECT ?s WHERE { ?s ?p ?o . } HAVING (?s)",
                "SELECT ?s WHERE { ?s ?p ?o . } ORDER BY",
                "SELECT ?s WHERE { ?s ?p ?o . } GROUP BY",
                "CONSTRUCT { ?s ?p ?o . } WHERE { ?s ?p ?o . } LIMIT 5"]:
        with pytest.raises(ValueError):
            parse_sparql(bad)


def test_isuri_across_union_positions(spark):
    """isUri holds for a var bound at SUBJECT position in one UNION
    arm and object position in another (review fix: union padding
    marks subject/pred bindings as IRIs, not unknown)."""
    q = """
    SELECT ?v WHERE {
      { ?v rfc:updates <A> . } UNION { <B> dcterms:references ?v . }
      FILTER(isUri(?v))
    }
    """
    got = {r["v"] for r in sparql_query(_edges(spark), q).collect()}
    assert got == {"D", "A#S1"}


# --- round-4 features: modifiers, aggregates, prefix normalization, ---------
# --- lazy star zero-arm, fixpoint closures, closure memoization -------------

def test_order_by_limit_offset(spark):
    """ORDER BY / LIMIT / OFFSET compile to a deterministic page — the
    reference's API-shaped queries sort and page (wsgiapp.py:388-435,
    triplestore.py:138-152)."""
    q = """
    SELECT ?s ?o WHERE { ?s dcterms:title ?o . }
    ORDER BY DESC(?s) LIMIT 2
    """
    got = [(r["s"], r["o"]) for r in sparql_query(_edges(spark), q).collect()]
    assert got == [("C", "Doc C"), ("B", "Doc B")]
    q2 = """
    SELECT ?s WHERE { ?s dcterms:title ?o . }
    ORDER BY ?s LIMIT 2 OFFSET 1
    """
    got2 = [r["s"] for r in sparql_query(_edges(spark), q2).collect()]
    assert got2 == ["B", "C"]
    # ORDER BY + LIMIT must be a distributed top-k (TakeOrdered), not
    # a single-partition global sort
    plan = sparql_query(_edges(spark), q)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_count_group_by(spark):
    q = """
    SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o . }
    GROUP BY ?p ORDER BY DESC(?n) ?p
    """
    got = [(r["p"], r["n"]) for r in sparql_query(_edges(spark), q).collect()]
    # two predicates tie at n=3; ?p ascending breaks the tie
    assert got[:2] == [("dcterms:references", 3), ("dcterms:title", 3)]
    assert dict(got)["rfc:updates"] == 1


def test_count_star_and_distinct(spark):
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o . }"
    assert sparql_query(_edges(spark), q).collect()[0]["n"] == 12
    q2 = "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s ?p ?o . }"
    assert sparql_query(_edges(spark), q2).collect()[0]["n"] == 7
    # non-aggregate var missing from GROUP BY is loud, not silent
    with pytest.raises(ValueError):
        sparql_query(_edges(spark),
                     "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o . }")


def test_sum_avg_min_max_aggregates(spark):
    """The full aggregate set: MIN/MAX lexical over string terms,
    SUM/AVG numeric via try_cast (non-numeric terms ignored),
    SUM(DISTINCT) deduplicates values."""
    rows = [
        ("A", "p:score", "2", True, None, None),
        ("A", "p:score", "2", True, None, None),
        ("A", "p:score", "3.5", True, None, None),
        ("A", "p:score", "n/a", True, None, None),  # ignored by SUM/AVG
        ("B", "p:score", "10", True, None, None),
    ]
    edges = spark.createDataFrame(rows, SCHEMA)
    q = """
    SELECT ?s (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
           (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (COUNT(?v) AS ?n)
    WHERE { ?s p:score ?v . } GROUP BY ?s ORDER BY ?s
    """
    got = {r["s"]: r for r in sparql_query(edges, q).collect()}
    assert got["A"]["total"] == 7.5
    assert got["A"]["mean"] == 2.5          # 7.5 / 3 numeric terms
    assert got["A"]["lo"] == "2"            # lexical min over strings
    assert got["A"]["hi"] == "n/a"          # lexical max
    assert got["A"]["n"] == 4               # COUNT keeps every term
    assert got["B"]["total"] == 10.0
    qd = ("SELECT ?s (SUM(DISTINCT ?v) AS ?t) WHERE "
          "{ ?s p:score ?v . } GROUP BY ?s ORDER BY ?s")
    dist = {r["s"]: r["t"] for r in sparql_query(edges, qd).collect()}
    assert dist["A"] == 5.5                 # 2 + 3.5, dup dropped
    with pytest.raises(ValueError, match="AVG.DISTINCT"):
        sparql_query(edges, "SELECT (AVG(DISTINCT ?v) AS ?m) WHERE "
                            "{ ?s p:score ?v . }")
    with pytest.raises(ValueError, match="SUM"):
        sparql_query(edges, "SELECT (SUM(*) AS ?m) WHERE "
                            "{ ?s p:score ?v . }")
    with pytest.raises(ValueError, match="unsupported aggregate"):
        sparql_query(edges, "SELECT (MEDIAN(?v) AS ?m) WHERE "
                            "{ ?s p:score ?v . }")


def test_group_concat_and_sample(spark):
    """GROUP_CONCAT emits sorted order with the declared separator
    (deterministic where the spec leaves order open); SAMPLE is the
    deterministic minimum; DISTINCT dedups the concat."""
    rows = [
        ("A", "p:tag", "x", True, None, None),
        ("A", "p:tag", "m", True, None, None),
        ("A", "p:tag", "m", True, None, None),
        ("B", "p:tag", "z", True, None, None),
    ]
    edges = spark.createDataFrame(rows, SCHEMA)
    q = ('SELECT ?s (GROUP_CONCAT(?v; SEPARATOR=", ") AS ?tags) '
         '(SAMPLE(?v) AS ?any) WHERE { ?s p:tag ?v . } '
         'GROUP BY ?s ORDER BY ?s')
    got = {r["s"]: (r["tags"], r["any"])
           for r in sparql_query(edges, q).collect()}
    assert got["A"] == ("m, m, x", "m")
    assert got["B"] == ("z", "z")
    qd = ('SELECT ?s (GROUP_CONCAT(DISTINCT ?v) AS ?tags) WHERE '
          '{ ?s p:tag ?v . } GROUP BY ?s ORDER BY ?s')
    dd = {r["s"]: r["tags"] for r in sparql_query(edges, qd).collect()}
    assert dd["A"] == "m x"      # default separator is one space
    with pytest.raises(ValueError, match="SEPARATOR"):
        sparql_query(edges, 'SELECT (GROUP_CONCAT(?v; SEP="x") AS ?t) '
                            'WHERE { ?s p:tag ?v . }')


def test_filter_range_comparisons(spark):
    """FILTER > >= < <= compare lexically over string terms — the
    zero-padded date range shape of the reference's API queries."""
    edges = _edges(spark)
    q = """
    SELECT ?s ?d WHERE {
      ?s dcterms:issued ?d .
      FILTER(?d >= "2001-01" && ?d < "2002-01")
    }
    """
    got = [(r["s"], r["d"]) for r in sparql_query(edges, q).collect()]
    assert got == [("E", "2001-01")]
    q2 = 'SELECT ?s WHERE { ?s dcterms:issued ?d . FILTER(?d > "2001-01") }'
    assert sparql_query(edges, q2).collect() == []


def test_having_clause(spark):
    """HAVING over a projected alias, over a fresh aggregate call
    (hidden slot, one aggregation pass), without any SELECT
    aggregate, with conjoined constraints — and the error cases."""
    edges = _edges(spark)
    q = """
    SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o . }
    GROUP BY ?p HAVING (?n >= 3) ORDER BY ?p
    """
    got = [(r["p"], r["n"]) for r in sparql_query(edges, q).collect()]
    assert got == [("dcterms:references", 3), ("dcterms:title", 3)]
    # aggregate call in HAVING, not projected
    q2 = """
    SELECT ?p WHERE { ?s ?p ?o . }
    GROUP BY ?p HAVING (COUNT(DISTINCT ?s) > 2) ORDER BY ?p
    """
    got2 = [r["p"] for r in sparql_query(edges, q2).collect()]
    assert got2 == ["dcterms:references", "dcterms:title"]
    # conjunction of two parenthesized constraints
    q3 = """
    SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o . }
    GROUP BY ?p HAVING (?n >= 2) (MIN(?s) = "A#S1") ORDER BY ?p
    """
    got3 = [(r["p"], r["n"]) for r in sparql_query(edges, q3).collect()]
    assert got3 == [("dcterms:isPartOf", 2)]
    with pytest.raises(ValueError, match="undefined names"):
        sparql_query(edges, "SELECT ?p (COUNT(?s) AS ?n) WHERE "
                            "{ ?s ?p ?o . } GROUP BY ?p "
                            "HAVING (?nope > 1)")
    with pytest.raises(ValueError, match="empty HAVING"):
        sparql_query(edges, "SELECT ?p (COUNT(?s) AS ?n) WHERE "
                            "{ ?s ?p ?o . } GROUP BY ?p "
                            "HAVING ORDER BY ?p")
    with pytest.raises(ValueError, match="HAVING over unbound"):
        sparql_query(edges, "SELECT ?p (COUNT(?s) AS ?n) WHERE "
                            "{ ?s ?p ?o . } GROUP BY ?p "
                            "HAVING (SUM(?ghost) > 1)")


def test_prefix_normalization(spark):
    """Full IRIs under engine vocabulary namespaces and CURIEs under
    query-declared alias prefixes both land on the stored CURIE
    spelling (ADVICE r3: a query writing the dcterms IRI in full must
    not silently return empty)."""
    q = """
    SELECT ?s WHERE {
      ?s <http://purl.org/dc/terms/references> <A#S1> .
    }
    """
    assert {r["s"] for r in sparql_query(_edges(spark), q).collect()} \
        == {"B"}
    q2 = """
    PREFIX dct: <http://purl.org/dc/terms/>
    SELECT ?s WHERE { ?s dct:references <A#S1> . }
    """
    assert {r["s"] for r in sparql_query(_edges(spark), q2).collect()} \
        == {"B"}


def test_closure_memoized_per_compile(spark, monkeypatch):
    """One sparql_query compile builds at most ONE closure per
    (predicate, bound) — the describe-with-subdocs shape walks the
    same predicate twice (VERDICT r3 #3)."""
    import ferenda_spark.operators.analytics as analytics
    calls = []
    real = analytics.transitive_closure

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(analytics, "transitive_closure", counted)
    q = """
    SELECT DISTINCT ?a ?b WHERE {
      ?a dcterms:isPartOf* <A> .
      ?b dcterms:isPartOf+ <A> .
    }
    """
    got = sparql_query(_edges(spark), q)
    assert {(r["a"], r["b"]) for r in got.collect()} == {
        (a, b) for a in ("A", "A#S1", "A#S1.1") for b in ("A#S1", "A#S1.1")}
    assert len(calls) == 1


def test_star_zero_arm_pruned(spark):
    """A var-var ``pred*`` joined with a bound side semi-join-prunes
    the node universe BEFORE the distinct (VERDICT r3 #2): the
    executed plan carries a LeftSemi and the results still include the
    zero-length identity rows."""
    q = """
    SELECT DISTINCT ?part ?anc WHERE {
      ?part dcterms:isPartOf* ?anc .
      ?x dcterms:references ?part .
    }
    """
    out = sparql_query(_edges(spark), q)
    got = {(r["part"], r["anc"]) for r in out.collect()}
    # referenced parts: A#S1 (by B), Z (by C), B (by E)
    assert got == {("A#S1", "A#S1"), ("A#S1", "A"),
                   ("Z", "Z"), ("B", "B")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_fixpoint_closure_deep_chain(spark):
    """Default (no max_depth) iterates to fixpoint: a 12-deep
    references chain — deeper than the old bound of 8 — still reaches
    the far end (ADVICE r3: bounded paths silently dropped
    solutions)."""
    rows = [(f"N{i}", "dcterms:references", f"N{i+1}", False, None, None)
            for i in range(12)]
    edges = spark.createDataFrame(rows, SCHEMA)
    got = sparql_query(
        edges, "SELECT ?s WHERE { ?s dcterms:references+ <N12> . }")
    assert {r["s"] for r in got.collect()} == {f"N{i}" for i in range(12)}
    # and an explicit shallow bound still bounds
    got8 = sparql_query(
        edges, "SELECT ?s WHERE { ?s dcterms:references+ <N12> . }",
        max_depth=3)
    assert {r["s"] for r in got8.collect()} == {"N9", "N10", "N11"}


def test_ground_pattern_multiplicity(spark):
    """A fully-ground pattern in a group is an existence check — it
    must not duplicate the other patterns' rows once per matching edge
    (ADVICE r3: df.select() crossJoin gave wrong multiplicities for
    non-DISTINCT SELECT)."""
    q = """
    SELECT ?t WHERE {
      <A> rdf:type <bibo:Document> .
      <B> dcterms:title ?t .
    }
    """
    got = [r["t"] for r in sparql_query(_edges(spark), q).collect()]
    assert got == ["Doc B"]
    # ground pattern that matches nothing → empty group
    q2 = """
    SELECT ?t WHERE {
      <A> rdf:type <bibo:Nothing> .
      <B> dcterms:title ?t .
    }
    """
    assert sparql_query(_edges(spark), q2).count() == 0


def test_graph_scoped_path_closures_not_cross_cached(spark):
    """The per-compile closure cache is keyed by GRAPH scope: the same
    predicate walked inside GRAPH <g1> and GRAPH <g2> closes over
    DIFFERENT edge subsets — reusing g1's closure for g2 would return
    wrong solutions on a quad store."""
    rows = [("A", "dcterms:isPartOf", "B", False, None, None, "g1"),
            ("B", "dcterms:isPartOf", "C", False, None, None, "g1"),
            ("A", "dcterms:isPartOf", "X", False, None, None, "g2")]
    quads = spark.createDataFrame(
        rows, SCHEMA + ", graph string")
    q1 = ("SELECT DISTINCT ?x ?x2 WHERE { GRAPH <g1> "
          "{ <A> dcterms:isPartOf+ ?x . } "
          "GRAPH <g2> { <A> dcterms:isPartOf+ ?x2 . } }")
    got = sparql_query(quads, q1)
    # g1 closure: B, C (two hops); g2 must NOT see C through g1's cache
    assert ({(r["x"], r["x2"]) for r in got.collect()}
            == {("B", "X"), ("C", "X")})
    q2 = ("SELECT DISTINCT ?x WHERE { GRAPH <g2> "
          "{ <A> dcterms:isPartOf+ ?x . } }")
    assert {r["x"] for r in sparql_query(quads, q2).collect()} == {"X"}


def test_fixpoint_closure_set_semantics_on_duplicate_edges(spark):
    """Duplicate input edge rows must not duplicate closure pairs in
    the fixpoint path (the bounded path dedups via min(depth); the
    fixpoint path returns `seen` directly)."""
    from ferenda_spark.operators.analytics import transitive_closure
    rows = [("a", "b"), ("a", "b"), ("b", "c")]   # (a,b) twice
    edges = spark.createDataFrame(rows, "child string, parent string")
    got = transitive_closure(edges, max_depth=None).collect()
    pairs = [(r["descendant"], r["ancestor"]) for r in got]
    assert sorted(pairs) == [("a", "b"), ("a", "c"), ("b", "c")]
    assert len(pairs) == len(set(pairs))          # strict set semantics


def test_filter_not_exists_and_exists(spark):
    """FILTER NOT EXISTS = left-anti on shared vars; FILTER EXISTS =
    left-semi; a no-shared-vars subpattern is a pure existence probe."""
    edges = _edges(spark)
    # docs that reference something but are NOT referenced themselves
    q = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:references ?o .
      FILTER NOT EXISTS { ?x dcterms:references ?s . }
    }
    """
    got = {r["s"] for r in sparql_query(edges, q).collect()}
    refs = {(r["subj"], r["obj"]) for r in
            edges.filter(F.col("pred") == "dcterms:references")
            .select("subj", "obj").collect()}
    srcs = {s for s, _ in refs}
    cited = {o for _, o in refs}
    assert got == srcs - cited and got

    q2 = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:references ?o .
      FILTER EXISTS { ?x dcterms:references ?s . }
    }
    """
    got2 = {r["s"] for r in sparql_query(edges, q2).collect()}
    assert got2 == srcs & cited
    assert got | got2 == srcs and not (got & got2)

    # no shared vars: probe keeps/drops ALL rows
    probe_hit = sparql_query(edges, """
    SELECT ?s WHERE { ?s dcterms:references ?o .
      FILTER NOT EXISTS { ?a dcterms:isPartOf ?b . } }""")
    assert probe_hit.count() == 0          # isPartOf edges exist
    probe_miss = sparql_query(edges, """
    SELECT ?s WHERE { ?s dcterms:references ?o .
      FILTER NOT EXISTS { ?a rdf:nosuch ?b . } }""")
    assert probe_miss.count() == len(refs)

    # plan shape: anti/semi, not a row-multiplying join
    plan = (sparql_query(edges, q)
            ._jdf.queryExecution().executedPlan().toString())
    assert "LeftAnti" in plan



def test_ask_form(spark):
    edges = _edges(spark)
    got = sparql_query(edges,
                       "ASK { ?s rfc:updates <A> . }").collect()
    assert [r["ask"] for r in got] == [True]
    got = sparql_query(edges,
                       "ASK WHERE { ?s rfc:updates <Nope> . }").collect()
    assert [r["ask"] for r in got] == [False]


def test_describe_forms(spark):
    edges = _edges(spark)
    # constant resource: all stored triples with that subject
    got = _triples(sparql_query(edges, "DESCRIBE <C>"))
    assert got == {
        ("C", "rfc:obsoletes", "A", False, None, None),
        ("C", "dcterms:title", "Doc C", True, None, None),
        ("C", "dcterms:references", "Z", False, None, None),
    }
    # var form: described set comes from the WHERE bindings
    got = _triples(sparql_query(
        edges, "DESCRIBE ?d WHERE { ?d dcterms:references <A#S1> . }"))
    assert got == {
        ("B", "dcterms:references", "A#S1", False, None, None),
        ("B", "dcterms:title", "Doc B", True, None, None),
    }
    # mixed constants + vars union their descriptions
    got = _triples(sparql_query(
        edges, "DESCRIBE <D> ?d WHERE { ?d rfc:obsoletes <A> . }"))
    assert {s for s, *_ in got} == {"C", "D"}
    import pytest as _p
    with _p.raises(ValueError, match="WHERE"):
        parse_sparql("DESCRIBE ?d")
    with _p.raises(ValueError, match="unbound"):
        sparql_query(edges,
                     "DESCRIBE ?zz WHERE { ?d rfc:updates <A> . }")


def test_path_sequence_alternative_inverse(spark):
    """Property-path composition per the spec's algebra translation:
    sequence chains fresh vars, alternative is UNION, inverse swaps
    endpoints, and closures compose inside sequences."""
    edges = _edges(spark)
    # sequence: who references something that isPartOf* A?
    q = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:references / dcterms:isPartOf* <A> .
    }
    """
    assert {r["s"] for r in sparql_query(edges, q).collect()} == {"B"}
    # inverse: <A> ^isPartOf ?x == ?x isPartOf A
    q2 = "SELECT ?x WHERE { <A> ^dcterms:isPartOf ?x . }"
    assert {r["x"] for r in sparql_query(edges, q2).collect()} == \
        {"A#S1"}
    # alternative: docs that obsolete OR update A
    q3 = """
    SELECT DISTINCT ?s WHERE {
      ?s rfc:obsoletes | rfc:updates <A> .
    }
    """
    assert {r["s"] for r in sparql_query(edges, q3).collect()} == \
        {"C", "D"}
    # inverse closure: everything under A via ^isPartOf*
    q4 = "SELECT DISTINCT ?x WHERE { <A> ^dcterms:isPartOf* ?x . }"
    assert {r["x"] for r in sparql_query(edges, q4).collect()} == \
        {"A", "A#S1", "A#S1.1"}
    # alternation of sequences, each arm its own fresh chain
    q5 = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:references / dcterms:isPartOf | rfc:obsoletes <A> .
    }
    """
    assert {r["s"] for r in sparql_query(edges, q5).collect()} == \
        {"B", "C"}
    # paths stay illegal in CONSTRUCT templates
    with pytest.raises(ValueError, match="CONSTRUCT template"):
        sparql_query(edges, "CONSTRUCT { ?s dcterms:references / "
                            "dcterms:isPartOf ?o . } WHERE "
                            "{ ?s ?p ?o . }")
    with pytest.raises(ValueError, match="inverse path"):
        sparql_query(edges, "SELECT ?s WHERE { ?s ^?p <A> . }")


def test_zero_or_one_path(spark):
    """``pred?`` — SPARQL 1.1 ZeroOrOnePath: identity ∪ one step,
    in all four endpoint shapes and inside sequences."""
    edges = _edges(spark)
    # var–const: itself plus direct children
    q = "SELECT DISTINCT ?x WHERE { ?x dcterms:isPartOf? <A> . }"
    assert {r["x"] for r in sparql_query(edges, q).collect()} == \
        {"A", "A#S1"}
    # const–var
    q2 = "SELECT DISTINCT ?x WHERE { <A#S1.1> dcterms:isPartOf? ?x . }"
    assert {r["x"] for r in sparql_query(edges, q2).collect()} == \
        {"A#S1.1", "A#S1"}
    # var–var, joined (the deferred zero-arm path): every doc with a
    # title, optionally hopping one isPartOf up, that B references
    q3 = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:isPartOf? ?t .
      <B> dcterms:references ?s .
    }
    """
    assert {r["s"] for r in sparql_query(edges, q3).collect()} == \
        {"A#S1"}
    # sequence composition: one optional hop then the closure
    q4 = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:isPartOf? / dcterms:isPartOf* <A> .
    }
    """
    assert {r["s"] for r in sparql_query(edges, q4).collect()} == \
        {"A", "A#S1", "A#S1.1"}
    # const–const: zero-length identity is unconditionally true
    q5 = "ASK { <Z> dcterms:isPartOf? <Z> . }"
    assert sparql_query(edges, q5).first()["ask"] is True
    q6 = "ASK { <A#S1> dcterms:isPartOf? <A> . }"
    assert sparql_query(edges, q6).first()["ask"] is True
    q7 = "ASK { <A> dcterms:isPartOf? <A#S1.1> . }"
    assert sparql_query(edges, q7).first()["ask"] is False
    # ? in a CONSTRUCT template stays illegal
    with pytest.raises(ValueError, match="CONSTRUCT template"):
        sparql_query(edges, "CONSTRUCT { ?s dcterms:isPartOf? ?o . } "
                            "WHERE { ?s ?p ?o . }")


def test_zero_or_one_path_keeps_literal_objects(spark):
    """``pred?`` over a literal-valued predicate: the one-step arm
    holds the literal edges, as a plain ``pred`` pattern does, and the
    object variable keeps their term kind, datatype and language."""
    edges = _edges(spark)
    q = "SELECT ?t WHERE { <A> dcterms:title? ?t . }"
    assert {r["t"] for r in sparql_query(edges, q).collect()} == \
        {"A", "Doc A"}
    q2 = ("SELECT ?x ?t WHERE { ?x dcterms:title? ?t . "
          "FILTER isLiteral(?t) }")
    assert {tuple(r) for r in sparql_query(edges, q2).collect()} == \
        {("A", "Doc A"), ("B", "Doc B"), ("C", "Doc C")}
    q3 = ('SELECT ?x WHERE { ?x dcterms:title? ?t . '
          'FILTER (lang(?t) = "en") }')
    assert {r["x"] for r in sparql_query(edges, q3).collect()} == {"A"}
    q4 = 'SELECT ?x WHERE { ?x dcterms:title? "Doc B" . }'
    assert {r["x"] for r in sparql_query(edges, q4).collect()} == \
        {"B", "Doc B"}
    q5 = ('CONSTRUCT { ?x dcterms:issued ?t . } WHERE '
          '{ ?x dcterms:issued? ?t . FILTER isLiteral(?t) }')
    assert _triples(sparql_query(edges, q5)) == {
        ("E", "dcterms:issued", "2001-01", True, "xsd:gYearMonth", None)}
    q6 = ('CONSTRUCT { ?x dcterms:title ?t . } WHERE '
          '{ <A> dcterms:title? ?t . ?x dcterms:title ?t . }')
    assert _triples(sparql_query(edges, q6)) == {
        ("A", "dcterms:title", "Doc A", True, None, "en")}


def test_regex_str_lang_filters(spark):
    """The round-5 FILTER extensions: regex() partial match with
    flags, str() lexical coercion, lang() tag access."""
    edges = _edges(spark)
    # regex partial match over titles
    q = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER regex(?t, "Doc [AB]")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q).collect()} == \
        {"A", "B"}
    # case-insensitive flag + str() coercion
    q2 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER regex(str(?t), "doc c", "i")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q2).collect()} == \
        {"C"}
    # q flag: pattern metacharacters are literal
    q3 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER regex(?t, "Doc [AB]", "q")
    }
    """
    assert sparql_query(edges, q3).count() == 0
    # lang() equality — only A's title carries @en
    q4 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER (lang(?t) = "en")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q4).collect()} == \
        {"A"}
    # lang() of an untagged literal is '' (not NULL-dropped)
    q5 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER (lang(?t) = "")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q5).collect()} == \
        {"B", "C"}
    # str() on either comparison side
    q6 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER (str(?t) = "Doc B")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q6).collect()} == \
        {"B"}
    # combined, the wsgiapp-shaped label query
    q7 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t .
      FILTER (regex(?t, "^Doc") && lang(?t) != "en")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q7).collect()} == \
        {"B", "C"}
    # langMatches: RFC 4647 basic filtering
    q8 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER langMatches(lang(?t), "EN")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q8).collect()} == \
        {"A"}
    # '*' matches any non-empty tag (untagged B/C drop)
    q9 = """
    SELECT ?s WHERE {
      ?s dcterms:title ?t . FILTER langMatches(lang(?t), "*")
    }
    """
    assert {r["s"] for r in sparql_query(edges, q9).collect()} == \
        {"A"}
    # subtag-boundary prefix: "en" matches "en-US" but not "enx"
    edges2 = spark.createDataFrame(
        [("X", "dcterms:title", "t1", True, None, "en-US"),
         ("Y", "dcterms:title", "t2", True, None, "enx")], SCHEMA)
    assert {r["s"] for r in sparql_query(edges2, q8).collect()} == \
        {"X"}
    # parse failures stay loud
    with pytest.raises(ValueError, match="langMatches range"):
        parse_sparql('SELECT ?s WHERE { ?s ?p ?o . '
                     'FILTER langMatches(lang(?o), ?s) }')
    with pytest.raises(ValueError, match="regex pattern"):
        parse_sparql('SELECT ?s WHERE { ?s ?p ?o . '
                     'FILTER regex(?o, ?o) }')
    with pytest.raises(ValueError, match="regex flags"):
        parse_sparql('SELECT ?s WHERE { ?s ?p ?o . '
                     'FILTER regex(?o, "x", ?s) }')
    with pytest.raises(ValueError, match="unsupported regex flags"):
        parse_sparql('SELECT ?s WHERE { ?s ?p ?o . '
                     'FILTER regex(?o, "x", "z") }')
    with pytest.raises(ValueError, match="takes a variable"):
        parse_sparql('SELECT ?s WHERE { ?s ?p ?o . '
                     'FILTER (lang("x") = "en") }')


def test_isliteral_and_sameterm(spark):
    """isLiteral() is the term-kind complement of isUri();
    sameTerm() equates value AND kind."""
    edges = _edges(spark)
    q = """
    SELECT DISTINCT ?o WHERE {
      <C> ?p ?o . FILTER isLiteral(?o)
    }
    """
    assert {r["o"] for r in sparql_query(edges, q).collect()} == \
        {"Doc C"}
    # sameTerm on a self-join: only identical terms survive
    q2 = """
    SELECT DISTINCT ?a WHERE {
      ?s dcterms:title ?a .
      ?s ?p ?b .
      FILTER (sameTerm(?a, ?b))
    }
    """
    got = {r["a"] for r in sparql_query(edges, q2).collect()}
    assert got == {"Doc A", "Doc B", "Doc C"}
    # literal "A" vs IRI <A>: same string, DIFFERENT terms
    mixed = spark.createDataFrame(
        [("x", "p:lit", "A", True, None, None),
         ("x", "p:iri", "A", False, None, None)], SCHEMA)
    q3 = """
    SELECT ?u ?v WHERE {
      <x> p:lit ?u . <x> p:iri ?v . FILTER sameTerm(?u, ?v)
    }
    """
    assert sparql_query(mixed, q3).count() == 0
    q4 = q3.replace("p:iri ?v", "p:lit ?v")
    assert sparql_query(mixed, q4).count() == 1
    # isLiteral on a subject binding is False, never an error
    q5 = "SELECT ?s WHERE { ?s rdf:type ?t . FILTER isLiteral(?s) }"
    assert sparql_query(edges, q5).count() == 0


def test_negated_property_set(spark):
    """``!(p1|p2)`` / ``!p`` — any predicate outside the set."""
    edges = _edges(spark)
    q = """
    SELECT DISTINCT ?p WHERE {
      <C> !(dcterms:title) ?o .
      <C> ?p ?o .
    }
    """
    # C's non-title edges: obsoletes A, references Z
    got = {r["p"] for r in sparql_query(edges, q).collect()}
    assert got == {"rfc:obsoletes", "dcterms:references"}
    q2 = """
    SELECT DISTINCT ?s WHERE {
      ?s !(dcterms:references|dcterms:title|dcterms:issued) <A> .
    }
    """
    # edges into A that are neither references/title/issued:
    # isPartOf (A#S1), obsoletes (C), updates (D)
    assert {r["s"] for r in sparql_query(edges, q2).collect()} == \
        {"A#S1", "C", "D"}
    # loud contracts
    with pytest.raises(ValueError, match="negated property set"):
        parse_sparql("SELECT ?s WHERE { ?s !(?p) <A> . }")
    with pytest.raises(ValueError, match="modifiers on a negated"):
        parse_sparql("SELECT ?s WHERE { ?s !(rdf:type)* <A> . }")
    with pytest.raises(ValueError, match="inverse negated"):
        parse_sparql("SELECT ?s WHERE { ?s ^!(rdf:type) <A> . }")
    with pytest.raises(ValueError, match="CONSTRUCT template"):
        parse_sparql("CONSTRUCT { ?s !(rdf:type) ?o . } "
                     "WHERE { ?s ?p ?o . }")


def test_subquery_aggregate_join(spark):
    """{ SELECT … GROUP BY … } nested in a group: the aggregation
    runs bottom-up and its projection joins the outer patterns —
    the find-the-most-cited-then-decorate shape."""
    edges = _edges(spark)
    q = """
    SELECT ?t ?n ?src WHERE {
      { SELECT ?t (COUNT(?s) AS ?n) WHERE {
          ?s dcterms:references ?t .
        } GROUP BY ?t }
      ?src dcterms:references ?t .
    }
    """
    got = {(r["t"], r["n"], r["src"])
           for r in sparql_query(_edges(spark), q).collect()}
    assert got == {("A#S1", 1, "B"), ("Z", 1, "C"), ("B", 1, "E")}
    # inner modifiers: top-1 most-referenced target only
    q2 = """
    SELECT ?t ?src WHERE {
      { SELECT ?t (COUNT(?s) AS ?n) WHERE {
          ?s dcterms:references ?t .
        } GROUP BY ?t ORDER BY DESC(?n) ?t LIMIT 1 }
      ?src dcterms:references ?t .
    }
    """
    got2 = {(r["t"], r["src"])
            for r in sparql_query(edges, q2).collect()}
    assert got2 == {("A#S1", "B")}


def test_subquery_aggregate_keeps_literal_group_key(spark):
    """A GROUP BY key that bound literals keeps its term kind through
    the aggregate subselect, so an outer join on it still matches the
    literal objects."""
    q = """
    SELECT ?x ?title ?n WHERE {
      { SELECT ?title (COUNT(?s) AS ?n) WHERE {
          ?s dcterms:title ?title .
        } GROUP BY ?title }
      ?x dcterms:title ?title .
    }
    """
    got = {(r["x"], r["title"], r["n"])
           for r in sparql_query(_edges(spark), q).collect()}
    assert got == {("A", "Doc A", 1), ("B", "Doc B", 1),
                   ("C", "Doc C", 1)}


def test_subquery_plain_projection_keeps_term_kind(spark):
    """A plain subselect carries literal/IRI metadata through: its
    DISTINCT is term-distinct and outer isUri() still works."""
    edges = _edges(spark)
    q = """
    SELECT DISTINCT ?o WHERE {
      { SELECT DISTINCT ?o WHERE { ?s ?p ?o . } }
      FILTER(!isUri(?o))
    }
    """
    got = {r["o"] for r in sparql_query(edges, q).collect()}
    assert got == {"Doc A", "Doc B", "Doc C", "2001-01"}
    # join with an outer pattern on the projected var
    q2 = """
    SELECT DISTINCT ?part WHERE {
      { SELECT ?part WHERE { ?part dcterms:isPartOf <A> . } }
      ?x dcterms:references ?part .
    }
    """
    assert {r["part"] for r in sparql_query(edges, q2).collect()} == \
        {"A#S1"}


def test_subquery_parse_contracts(spark):
    # only SELECT nests: an ASK group head falls through to the
    # pattern parser and fails loudly there
    with pytest.raises(ValueError):
        parse_sparql("SELECT ?s WHERE { { ASK { ?s ?p ?o . } } }")
    with pytest.raises(ValueError, match="UNION arm"):
        parse_sparql("SELECT ?s WHERE { { SELECT ?s WHERE "
                     "{ ?s ?p ?o . } } UNION { ?s ?p ?o . } }")
    # unbound projection inside the subquery is loud at compile
    with pytest.raises(ValueError, match="unbound"):
        sparql_query(_edges(spark),
                     "SELECT ?q WHERE { { SELECT ?q WHERE "
                     "{ ?s ?p ?o . } } }")


def test_values_inline_data(spark):
    """VALUES restricts solutions by equi-joining a tiny constant
    frame (broadcast — inline bindings prune the scan); single-var
    and multi-var forms; UNDEF and empty data are loud."""
    edges = _edges(spark)
    q = """
    SELECT ?s ?o WHERE {
      VALUES ?s { <B> <E> }
      ?s dcterms:references ?o .
    }
    """
    got = {(r["s"], r["o"]) for r in sparql_query(edges, q).collect()}
    assert got == {("B", "A#S1"), ("E", "B")}
    # multi-var rows: only matching (s, o) combinations survive
    q2 = """
    SELECT ?s ?o WHERE {
      ?s dcterms:references ?o .
      VALUES (?s ?o) { (<B> <A#S1>) (<E> <Z>) }
    }
    """
    got2 = {(r["s"], r["o"]) for r in sparql_query(edges, q2).collect()}
    assert got2 == {("B", "A#S1")}
    # VALUES-only group unions into CONSTRUCT-style flows
    q3 = 'SELECT ?x WHERE { VALUES ?x { "a" "b" } }'
    assert {r["x"] for r in sparql_query(edges, q3).collect()} == \
        {"a", "b"}
    plan = (sparql_query(edges, q)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    with pytest.raises(ValueError, match="UNDEF"):
        sparql_query(edges, "SELECT ?s WHERE { VALUES ?s { UNDEF } "
                            "?s ?p ?o . }")
    with pytest.raises(ValueError, match="empty VALUES"):
        sparql_query(edges, "SELECT ?s WHERE { VALUES ?s { } "
                            "?s ?p ?o . }")


def test_values_term_kind_distinct(spark):
    """A VALUES literal "A" and the IRI <A> are different RDF terms:
    each matches only its own kind, and a literal never matches a
    subject-position var."""
    rows = [
        ("S1", "p:rel", "A", False, None, None),   # IRI object
        ("S2", "p:lbl", "A", True, None, None),    # literal object
        ("S1", "p:x", "y", True, None, None),
    ]
    edges = spark.createDataFrame(rows, SCHEMA)
    q_iri = "SELECT ?s WHERE { VALUES ?o { <A> } ?s ?p ?o . }"
    assert {r["s"] for r in sparql_query(edges, q_iri).collect()} == \
        {"S1"}
    q_lit = 'SELECT ?s WHERE { VALUES ?o { "A" } ?s ?p ?o . }'
    assert {r["s"] for r in sparql_query(edges, q_lit).collect()} == \
        {"S2"}
    # subject position: IRIs match, string literals never do
    q_subj = 'SELECT ?p WHERE { VALUES ?x { <S1> } ?x ?p ?o . }'
    assert sparql_query(edges, q_subj).count() == 2
    q_subj_lit = 'SELECT ?p WHERE { VALUES ?x { "S1" } ?x ?p ?o . }'
    assert sparql_query(edges, q_subj_lit).count() == 0


def test_obj_obj_join_respects_term_kind(spark):
    """Two patterns sharing an object var: a literal "A" in one and
    the IRI A in the other are different terms and must not join."""
    rows = [
        ("S1", "p:rel", "A", False, None, None),
        ("S2", "p:lbl", "A", True, None, None),
        ("S3", "p:rel", "B", False, None, None),
        ("S4", "p:other", "B", False, None, None),
    ]
    edges = spark.createDataFrame(rows, SCHEMA)
    q = """
    SELECT ?a ?b WHERE {
      ?a p:rel ?x .
      ?b p:lbl ?x .
    }
    """
    assert sparql_query(edges, q).count() == 0   # kinds differ
    q2 = """
    SELECT ?a ?b WHERE {
      ?a p:rel ?x .
      ?b p:other ?x .
    }
    """
    got = {(r["a"], r["b"]) for r in sparql_query(edges, q2).collect()}
    assert got == {("S3", "S4")}                 # both IRIs: joins


def test_having_only_group_var(spark):
    """HAVING over just a group var (no aggregate anywhere) still
    aggregates — the hidden count expression is dropped."""
    edges = _edges(spark)
    q = """
    SELECT ?p WHERE { ?s ?p ?o . }
    GROUP BY ?p HAVING (?p = "dcterms:title") ORDER BY ?p
    """
    got = [r["p"] for r in sparql_query(edges, q).collect()]
    assert got == ["dcterms:title"]
    assert sparql_query(edges, q).columns == ["p"]


def test_truncated_tokens_fail_loudly(spark):
    """A bare comparison token in term position (truncated IRI) and a
    truncated HAVING both raise parse errors, never silent empties."""
    with pytest.raises(ValueError, match="expected a term"):
        parse_sparql("SELECT ?s WHERE { ?s ?p < . }")
    with pytest.raises(ValueError, match="unterminated HAVING"):
        parse_sparql("SELECT (COUNT(?s) AS ?n) WHERE { ?s ?p ?o . } "
                     "HAVING (")


def test_minus_negation(spark):
    """MINUS removes solutions compatible on shared vars; a
    disjoint-domain MINUS removes nothing (8.3 — the divergence
    from FILTER NOT EXISTS, which empties the result)."""
    edges = _edges(spark)
    q = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:title ?t .
      MINUS { ?s dcterms:references ?o . }
    }
    """
    got = {r["s"] for r in sparql_query(edges, q).collect()}
    assert got == {"A"}            # B and C have references
    # disjoint domains: MINUS is a no-op ...
    q2 = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:title ?t .
      MINUS { ?x rfc:updates ?y . }
    }
    """
    got2 = {r["s"] for r in sparql_query(edges, q2).collect()}
    assert got2 == {"A", "B", "C"}
    # ... where NOT EXISTS with the same subgroup empties the result
    q3 = """
    SELECT DISTINCT ?s WHERE {
      ?s dcterms:title ?t .
      FILTER NOT EXISTS { ?x rfc:updates ?y . }
    }
    """
    assert sparql_query(edges, q3).count() == 0


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_FUZZ_TOKENS = [
    "SELECT", "DISTINCT", "WHERE", "CONSTRUCT", "ASK", "DESCRIBE",
    "{", "}", "(", ")", ".", ";", ",", "FILTER", "UNION", "OPTIONAL",
    "GRAPH", "VALUES", "MINUS", "BIND", "HAVING", "GROUP", "BY",
    "ORDER", "ASC", "DESC", "LIMIT", "OFFSET", "AS", "NOT", "EXISTS",
    "COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT",
    "SEPARATOR", "UNDEF", "IN", "a", "?s", "?p", "?o", "?n", "<a>",
    "<http://x/y>", '"lit"', "dcterms:title", "p:x", "5", "*", "+",
    "/", "|", "^", "=", "!=", ">", ">=", "<", "<=", "&&", "||", "!",
    "isUri", "isLiteral", "sameTerm", "strstarts", "str", "regex",
    "lang", "langMatches", "!(",
    "?", '"i"', '"pat"',
]


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(_FUZZ_TOKENS), max_size=30))
def test_parser_fuzz_valueerror_only(toks):
    """Any token soup either parses or raises ValueError — never
    IndexError/AttributeError/TypeError (the fail-loudly contract
    after the HAVING/path/VALUES parser additions)."""
    try:
        parse_sparql(" ".join(toks))
    except ValueError:
        pass


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_parser_fuzz_raw_text(txt):
    """Raw garbage: tokenizer/parser raise ValueError or succeed."""
    try:
        parse_sparql(txt)
    except ValueError:
        pass
