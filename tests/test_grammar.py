"""Tests for paragraph chunking, citation targets, the COIN minting
compiler, and the graph-diff P/R harness."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import BASE
from ferenda_spark.functions.minting import UriTemplate, mint
from ferenda_spark.grammar.citations import alias_map, cite_objs
from ferenda_spark.operators.fsm import paragraphs
from ferenda_spark.operators.graph import graph_diff, precision_recall

def test_paragraphs_chunking():
    ps = paragraphs("a b\n\n  c\td \n \n e M\x08MU\x08US\x08ST\x08T")
    assert ps == ["a b", "c d", "e MUST"]


def _cite(spark, text, aliases):
    """cite_objs over one text, the way the build path calls it."""
    row = (spark.createDataFrame([(text,)], "text string")
           .select(cite_objs(F.col("text"), aliases).alias("o")).first())
    return row["o"]


def test_segment_text_golden_shape(spark):
    objs = _cite(spark,
                 "See [RFC 7] and section 2.1 of [RFC 9] or "
                 "https://example.com/x. End [FOO] t",
                 F.create_map(F.lit("FOO"), F.lit("12")))
    assert len(objs) == 4
    assert set(objs) == {f"{BASE}res/rfc/7", f"{BASE}res/rfc/9#S2.1",
                         "https://example.com/x", f"{BASE}res/rfc/12"}


def test_segment_unresolvable_alias_stays_text(spark):
    assert _cite(spark, "Plain [BAR] here",
                 alias_map(F.col("text"))) == []


def test_minting_cascade(spark):
    templates = [
        UriTemplate(priority=1, uri_template="res/law/{year}:{num}",
                    bindings=["year", "num"]),
        UriTemplate(priority=2, uri_template="res/named/{name}",
                    bindings=["name"], slug=["name"]),
    ]
    df = spark.createDataFrame([
        Row(year="1998", num="204", name=None),
        Row(year=None, num=None, name="Personuppgiftslagen Å"),
        Row(year=None, num=None, name=None),
    ])
    out = [r["uri"] for r in
           mint(df, templates, "https://x.org/").collect()]
    assert out[0] == "https://x.org/res/law/1998:204"
    assert out[1] == "https://x.org/res/named/personuppgiftslagen-aa"
    assert out[2] is None


def test_graph_diff_and_pr(spark):
    cols = "subj string, pred string, obj string"
    got = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y"), ("b", "p", "z")], cols)
    want = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y"), ("c", "p", "w")], cols)
    key = ["subj", "pred", "obj"]
    both, only_got, only_want = graph_diff(got, want, key)
    assert both.count() == 2
    assert only_got.count() == 1 and only_want.count() == 1
    pr = precision_recall(got, want, key)
    assert abs(pr["precision"] - 2 / 3) < 1e-9
    assert abs(pr["recall"] - 2 / 3) < 1e-9
