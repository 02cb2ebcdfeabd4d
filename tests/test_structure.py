"""Statute structure parser: golden-tree cases.

Modeled on the reference's golden-XML structure tests
(/root/reference/test/integrationRFC.py:15-21: parse basic.txt,
compare the serialized tree against basic.xml) — here the expected
tree is the flat (node_id, kind, ordinal, parent_id, depth) rows.
"""

from ferenda_spark.operators.structure import StatuteParser, statute_structure
from ferenda_spark.operators.fsm import paragraphs

ACT = """Chapter 1. General Provisions

1 § Scope of this act.

First piece of section 1.

1. first item.

2. second item.

a) nested letter item.

b) another letter.

Second piece of section 1.

2 § Definitions.

First piece of section 2.

Chapter 2. Obligations

3 § Duties.

Piece under continuous numbering.
"""


def _parse(text):
    return [(n["node_id"], n["kind"], n["ordinal"], n["parent_id"],
             n["depth"]) for n in StatuteParser().parse(paragraphs(text))]


def test_golden_tree():
    assert _parse(ACT) == [
        ("K1", "chapter", "1", None, 1),
        ("K1P1", "section", "1", "K1", 2),
        ("K1P1S1", "piece", "1", "K1P1", 3),
        ("K1P1S1N1", "item", "1", "K1P1S1", 4),
        ("K1P1S1N2", "item", "2", "K1P1S1", 4),
        ("K1P1S1N2Ba", "letter", "a", "K1P1S1N2", 5),
        ("K1P1S1N2Bb", "letter", "b", "K1P1S1N2", 5),
        ("K1P1S2", "piece", "2", "K1P1", 3),
        ("K1P2", "section", "2", "K1", 2),
        ("K1P2S1", "piece", "1", "K1P2", 3),
        ("K2", "chapter", "2", None, 1),
        # section numbering continues across chapters (the
        # sfs_parser paragrafnummer invariant)
        ("K2P3", "section", "3", "K2", 2),
        ("K2P3S1", "piece", "1", "K2P3", 3),
    ]


def test_item_without_piece_is_skipped():
    # a numbered line before any section/piece context is prose noise
    assert _parse("1. stray numbered line.\n\n2 § Real section.") == [
        ("K0P2", "section", "2", None, 2)]


def test_letter_without_item_is_skipped():
    out = _parse("Chapter 1. T\n\n1 § S.\n\nPiece.\n\na) stray letter.")
    kinds = [k for _, k, _, _, _ in out]
    assert "letter" not in kinds  # no open item → treated as nothing


def test_plain_paragraph_closes_item_list():
    out = _parse("Chapter 1. T\n\n1 § S.\n\nP1.\n\n1. item.\n\nP2.\n\n"
                 "1. item again.")
    ids = [i for i, *_ in out]
    assert "K1P1S1N1" in ids and "K1P1S2N1" in ids


def test_spark_integration(spark):
    df = spark.createDataFrame([("u1", ACT), ("u2", "")],
                               "url string, text string")
    rows = statute_structure(df).collect()
    assert {r["url"] for r in rows} == {"u1"}
    assert len(rows) == 13
    depths = {r["depth"] for r in rows}
    assert depths == {1, 2, 3, 4, 5}


# -- G9: visitor surface ----------------------------------------------------

def _visit_df(spark, visitors):
    import pandas as pd
    from ferenda_spark.operators.visitor import visit_nodes
    raw = StatuteParser().parse(paragraphs(ACT))
    rows = [{"url": "u1", **n} for n in raw]
    rows += [{"url": "u2", **n} for n in raw]
    nodes = spark.createDataFrame(pd.DataFrame(rows)[
        ["url", "node_id", "kind", "ordinal", "parent_id", "depth",
         "text"]])
    return visit_nodes(nodes, visitors).collect()


def test_visitor_prune_skips_subtree(spark):
    """Returning None prunes: nothing under Chapter 2 is visited
    (visit_node contract, swedishlegalsource.py:1077-1078)."""
    def mark_unless_chapter_2(node, state):
        if node["kind"] == "chapter" and node["ordinal"] == "2":
            return None
        node["anno"]["visited"] = "1"
        return state

    got = _visit_df(spark, [(mark_unless_chapter_2, True)])
    marked = {r["node_id"] for r in got
              if r["url"] == "u1" and r["anno"].get("visited")}
    assert "K1" in marked and "K1P1S1N2Ba" in marked
    assert "K2" not in marked          # the pruned node itself
    assert "K2P3" not in marked        # nor its subtree
    assert "K2P3S1" not in marked


def test_visitor_path_and_chapter_state(spark):
    """Top-down state: path accumulates ancestor ids; chapter context
    flows to every descendant and switches at chapter boundaries."""
    from ferenda_spark.operators.visitor import (
        chapter_context_visitor, path_visitor)
    got = {r["node_id"]: r["anno"] for r in _visit_df(
        spark, [path_visitor(), chapter_context_visitor()])
        if r["url"] == "u1"}
    assert got["K1P1S1N2Ba"]["path"] == "K1/K1P1/K1P1S1/K1P1S1N2/K1P1S1N2Ba"
    assert got["K1P1S1N2Ba"]["chapter"] == "1"
    assert got["K2P3S1"]["chapter"] == "2"
    assert got["K2P3S1"]["path"] == "K2/K2P3/K2P3S1"


def test_visitor_fresh_state_per_document(spark):
    """A mutable initial state is copied per document — an
    accumulating visitor never sees another document's nodes."""
    from ferenda_spark.operators.visitor import visit_nodes
    import pandas as pd

    def counting(node, seen):
        seen.append(node["node_id"])
        node["anno"]["nth"] = str(len(seen))
        return seen

    raw = StatuteParser().parse(paragraphs(ACT))
    rows = [{"url": "u1", **n} for n in raw]
    rows += [{"url": "u2", **n} for n in raw]
    nodes = spark.createDataFrame(pd.DataFrame(rows)[
        ["url", "node_id", "kind", "ordinal", "parent_id", "depth",
         "text"]])
    got = visit_nodes(nodes, [(counting, [])]).collect()
    per_url = {}
    for r in got:
        per_url.setdefault(r["url"], []).append(int(r["anno"]["nth"]))
    # both documents start counting at 1 (no cross-document leak)
    for url, nths in per_url.items():
        assert sorted(nths) == list(range(1, len(nths) + 1)), url
