"""Multi-class citation grammar: golden input → expected links.

Modeled on the reference's legalref golden corpus
(/root/reference/test/files/legalref/{SFS,Short,DV,Regpubl,EGLag,ECJ}/
*.txt: one source string per case, the expected link set alongside).
Each case here feeds a one-document DataFrame through the vectorized
grammar and asserts the exact minted URI set.
"""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import BASE
from ferenda_spark.grammar.citations import (
    CLASSES,
    alias_map,
    cite_objs,
    stateful_reference_structs,
)
from ferenda_spark.grammar.combinators import Alt, Cap, Lit, Opt, Rep, Rx, Seq


# -- combinator compilation -------------------------------------------------

def test_compile_assigns_groups_in_order():
    g = Seq(Cap("a", Rx(r"\d+")), Lit("-"),
            Cap("b", Seq(Rx(r"[a-z]+"), Opt(Cap("c", Rx(r"\d")))))).compile()
    assert g.groups == {"a": 1, "b": 2, "c": 3}


def test_rx_rejects_capturing_groups_and_lookaround():
    with pytest.raises(ValueError):
        Rx(r"(\d+)")
    with pytest.raises(ValueError):
        Rx(r"a(?=b)")


def test_rep_rejects_caps_in_body():
    with pytest.raises(ValueError):
        Seq(Rep(Cap("x", Rx(r"\d+")), Lit(","))).compile()


def test_alt_order_is_preserved():
    g = Alt(Lit("abc"), Lit("ab")).compile()
    import re
    assert re.match(g.pattern, "abcd").group(0) == "abc"


# -- golden link sets -------------------------------------------------------

GOLDEN = [
    ("[RFC 45]", {f"{BASE}res/rfc/45"}),
    ("section 2.3 of [RFC 678]", {f"{BASE}res/rfc/678#S2.3"}),
    ("[RFC 0822]", {f"{BASE}res/rfc/822"}),          # zero-pad normalized
    ("RFCs 0012, 0112 and 0212 apply",
     {f"{BASE}res/rfc/12", f"{BASE}res/rfc/112", f"{BASE}res/rfc/212"}),
    ("BCP 14 and STD 66",
     {f"{BASE}res/bcp/14", f"{BASE}res/std/66"}),
    ("draft-ietf-wg9-proto-03 expired",
     {f"{BASE}res/draft/draft-ietf-wg9-proto"}),     # version stripped
    ("doi:10.1000/jproto.77.", {"https://doi.org/10.1000/jproto.77"}),
    ("ISO 8601:2004 format", {f"{BASE}res/iso/8601"}),  # year stripped
    ("Directive 95/46/EC", {f"{BASE}res/eu/dir/1995/46"}),
    ("Directive 45/9/EC", {f"{BASE}res/eu/dir/2045/9"}),  # pivot < 50
    ("Case C-101/01", {f"{BASE}res/ecj/C-101-2001"}),
    # context-distributing list: several links share the bound
    # directive context from ONE match; the 4-digit year keeps the
    # flat eu_directive class from co-matching
    ("Articles 5 and 6 of Directive 1995/46/EC",
     {f"{BASE}res/eu/dir/1995/46#A5", f"{BASE}res/eu/dir/1995/46#A6"}),
    ("Articles 2, 7 and 13 of Directive 2006/24/EC apply",
     {f"{BASE}res/eu/dir/2006/24#A2", f"{BASE}res/eu/dir/2006/24#A7",
      f"{BASE}res/eu/dir/2006/24#A13"}),
    # RECURSIVE chain (Grammar/Ref, depth-3 expansion): distributed
    # item list sharing nested section+chapter context from ONE match
    ("Items 5 and 6 of Section 4 of Chapter 2 of RFC 1234 apply",
     {f"{BASE}res/rfc/1234#C2.S4.I5", f"{BASE}res/rfc/1234#C2.S4.I6"}),
    ("per Section 4 of Chapter 2 of RFC 99", {f"{BASE}res/rfc/99#C2.S4"}),
    ("Item 3 of RFC 7 holds", {f"{BASE}res/rfc/7#I3"}),
    ("Items 1, 2 and 9 of RFC 20.",
     {f"{BASE}res/rfc/20#I1", f"{BASE}res/rfc/20#I2",
      f"{BASE}res/rfc/20#I9"}),
    # a non-structural word breaks the chain: no match at all
    ("Items 5 and 6 of Paragraph 4 of RFC 7", set()),
    # NON-canonical chains (repeated or outermost-first units) do not
    # parse as a whole; only the canonical suffix — which IS a true
    # reference — mints. The old unit-chain grammar accepted these
    # and silently dropped the outer context (wrong URIs).
    ("Section 4 of Section 5 of RFC 1", {f"{BASE}res/rfc/1#S5"}),
    ("Items 5 and 6 of Items 7 and 8 of RFC 2",
     {f"{BASE}res/rfc/2#I7", f"{BASE}res/rfc/2#I8"}),
    ("Chapter 2 of Section 4 of RFC 31", {f"{BASE}res/rfc/31#S4"}),
    ("see https://x.example/a,b.", {"https://x.example/a,b"}),
    ("no citations here", set()),
]


def test_golden_links(spark):
    rows = [(i, text) for i, (text, _) in enumerate(GOLDEN)]
    df = spark.createDataFrame(rows, "i int, text string")
    got = df.select(
        "i", cite_objs(F.col("text"), alias_map(F.col("text"))).alias("objs")
    ).collect()
    for r in got:
        assert set(r["objs"]) == GOLDEN[r["i"]][1], GOLDEN[r["i"]][0]


def test_alias_definition_and_mention(spark):
    text = ("In this document, [HTPX] refers to [RFC 0123]. "
            "Later [HTPX] is cited, but [MISSING] is not defined.")
    df = spark.createDataFrame([(text,)], "text string")
    got = set(df.select(
        cite_objs(F.col("text"), alias_map(F.col("text"))).alias("o")
    ).collect()[0]["o"])
    # the definition's [RFC 0123] and the resolved [HTPX] mention,
    # normalized; the unresolvable alias emits nothing
    assert got == {f"{BASE}res/rfc/123"}


# -- stateful short-form (currentlaw semantics) -----------------------------

def _stateful(spark, preamble, sections):
    df = spark.createDataFrame(
        [("https://d/1", preamble, sections)],
        "url string, preamble string, "
        "sections array<struct<ordinal:string, text:string>>")
    full = F.concat_ws(
        " ", F.col("preamble"),
        F.array_join(F.transform("sections", lambda s: s["text"]), " "))
    refs = stateful_reference_structs(
        F.col("url"), F.col("preamble"), F.col("sections"),
        alias_map(full))
    return [tuple(r) for r in df.select(F.explode(refs)).select(
        "col.frag", "col.obj").collect()]


def test_stateful_resolves_most_recent_citation(spark):
    out = _stateful(
        spark, "",
        [("1", "See [RFC 10] and [RFC 20]."),
         ("2", "Section 4.2 of that document applies.")])
    assert out == [("https://d/1#S2", f"{BASE}res/rfc/20#S4.2")]


def test_stateful_state_crosses_sections_in_order(spark):
    out = _stateful(
        spark, "Preamble cites [RFC 7].",
        [("1", "Section 1.1 of that document."),
         ("2", "Now [RFC 9]."),
         ("3", "Section 2 of that document.")])
    assert out == [("https://d/1#S1", f"{BASE}res/rfc/7#S1.1"),
                   ("https://d/1#S3", f"{BASE}res/rfc/9#S2")]


def test_stateful_without_prior_citation_emits_nothing(spark):
    assert _stateful(
        spark, "", [("1", "Section 3 of that document.")]) == []


def test_stateful_list_takes_last_element(spark):
    out = _stateful(
        spark, "",
        [("1", "RFCs 0001, 0002 and 0042 apply."),
         ("2", "Section 5 of that document.")])
    assert out == [("https://d/1#S2", f"{BASE}res/rfc/42#S5")]


def test_stateful_alias_mention_updates_state(spark):
    out = _stateful(
        spark, "In this document, [HTPX] refers to [RFC 77].",
        [("1", "See [RFC 5]. As defined in [HTPX]."),
         ("2", "Section 9 of that document.")])
    assert out == [("https://d/1#S2", f"{BASE}res/rfc/77#S9")]


def test_every_registry_class_has_formatter_and_pattern():
    names = {c.name for c in CLASSES}
    assert names == {"rfc", "rfc_list", "bcp", "std", "draft", "doi",
                     "iso", "eu_directive", "ecj_case", "eu_article",
                     "nested_struct"}
    for c in CLASSES:
        assert c.guard, c.name  # every class carries a scan prefilter
    for c in CLASSES:
        assert c.pattern and callable(c.formatter)


def test_alias_redefinition_last_wins(spark):
    """Duplicate alias definitions must not kill the stage
    (map_from_arrays would raise DUPLICATED_MAP_KEY); the last
    definition wins, mirroring the reference's mutable state dict."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from ferenda_spark.grammar.citations import alias_map
    df = spark.createDataFrame([Row(
        t="[TCP] refers to [RFC 1]. [TCP] refers to [RFC 2]. "
          "[UDP] refers to [RFC 7].")])
    m = dict(df.select(alias_map(F.col("t")).alias("m"))
             .collect()[0]["m"])
    assert m == {"TCP": "2", "UDP": "7"}


# -- recursive Grammar/Ref --------------------------------------------------

def test_grammar_unrolls_recursion_to_max_depth():
    """Right-recursive rule: 'a of a of a' matches at max_depth=3,
    a 4-deep chain only matches its 3-deep prefix."""
    import re
    from ferenda_spark.grammar.combinators import Grammar, Ref
    g = Grammar(
        {"chain": Alt(Seq(Lit("a"), Lit(" of "), Ref("chain")),
                      Lit("a"))},
        Cap("c", Ref("chain")), max_depth=3).compile()
    pat = re.compile(g.pattern)
    assert pat.fullmatch("a")
    assert pat.fullmatch("a of a")
    assert pat.fullmatch("a of a of a")
    assert not pat.fullmatch("a of a of a of a")
    m = pat.match("a of a of a of a")
    assert m.group(g.groups["c"]) == "a of a of a"


def test_grammar_without_base_case_raises():
    from ferenda_spark.grammar.combinators import Grammar, Ref
    with pytest.raises(ValueError, match="recursive"):
        Grammar({"x": Seq(Lit("a"), Ref("x"))}, Ref("x")).expand()


def test_grammar_unknown_ref_raises():
    from ferenda_spark.grammar.combinators import Grammar, Ref
    with pytest.raises(ValueError, match="unknown production"):
        Grammar({}, Ref("nope")).expand()


def test_ref_only_compiles_via_grammar():
    from ferenda_spark.grammar.combinators import Ref
    with pytest.raises(ValueError, match="Grammar.compile"):
        Seq(Ref("x")).compile()


def test_grammar_opt_recursion_truncates_to_empty():
    """Opt wrapping a too-deep recursion degrades to empty instead of
    killing the whole branch."""
    import re
    from ferenda_spark.grammar.combinators import Grammar, Ref
    g = Grammar(
        {"t": Seq(Lit("x"), Opt(Seq(Lit("-"), Ref("t"))))},
        Ref("t"), max_depth=2).compile()
    pat = re.compile(g.pattern)
    assert pat.fullmatch("x")
    assert pat.fullmatch("x-x")
    assert not pat.fullmatch("x-x-x")


# -- file-parametrized golden fixtures ---------------------------------------
# tests/golden/citations/*.txt mirror the reference's legalref golden
# corpus format exactly (the reference's test/files/legalref/*/*.txt:
# source text, blank line, serialized <list> of <str>/<Link uri=...>
# segments).  The build path mints citation targets, not markup, so each
# fixture pins the set of its <Link uri=...> targets through cite_objs
# with the document's own alias map, as fused.page_triples calls it.

import re as _re2
from pathlib import Path as _Path

_GOLDEN_DIR = _Path(__file__).parent / "golden" / "citations"
_GOLDEN_FILES = sorted(_GOLDEN_DIR.glob("*.txt"))
_LINK_URI_RE = _re2.compile(r'<Link uri="([^"]*)">')


def _parse_fixture(path):
    raw = path.read_text(encoding="utf-8")
    text, tree = raw.split("\n\n", 1)
    return text, tree.strip()


def test_golden_dir_has_cases():
    assert len(_GOLDEN_FILES) >= 20


@pytest.mark.parametrize(
    "path", _GOLDEN_FILES, ids=lambda p: p.stem)
def test_golden_fixture_segmentation(path, spark):
    text, tree = _parse_fixture(path)
    objs = (spark.createDataFrame([(text,)], "text string")
            .select(cite_objs(F.col("text"), alias_map(F.col("text")))
                    .alias("o"))
            .first()["o"])
    assert set(objs) == set(_LINK_URI_RE.findall(tree)), text
