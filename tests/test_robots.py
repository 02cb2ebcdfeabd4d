"""RFC 9309 robots.txt parsing + politeness filtering.

The parser's pure-Python twins are exercised on hand-built fixtures
pinning every spec behavior it claims (group selection, merging,
empty disallow, comments), and the Spark parser is checked equal to
them.  The decision rules (longest-match precedence, allow-tie-win,
wildcards/anchors) are pinned on the Spark form itself, with its
join/plan shape.
"""
import pytest
from pyspark.sql import functions as F

from ferenda_spark.functions.web import url_path
from ferenda_spark.operators.robots import (compile_robots_pattern,
                                            parse_robots,
                                            parse_robots_txt,
                                            robots_decisions,
                                            robots_filter)

BASIC = """\
# politeness for everyone
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /private/
Allow: /private/pub/
Disallow: /*.tmp$
Sitemap: https://example.com/sitemap.xml
"""


def test_compile_pattern_wildcard_and_anchor():
    assert compile_robots_pattern("/a*b$") == "^/a.*b$"
    # $ anywhere but the end is a literal octet
    assert compile_robots_pattern("/p$q") == "^/p\\$q"
    # regex metachars in paths are escaped
    import re
    rx = compile_robots_pattern("/a.b(c)")
    assert re.match(rx, "/a.b(c)x") and not re.match(rx, "/aXb(c)")


def test_parse_groups_and_fallback():
    rules = parse_robots_txt(BASIC, agent="ferendabot")
    # evilbot's group is ignored; * group governs
    assert [(r["pattern"], r["is_allow"]) for r in rules] == [
        ("/private/", False), ("/private/pub/", True),
        ("/*.tmp$", False)]
    # prec = raw octet length including wildcard octets
    assert [r["prec"] for r in rules] == [9, 13, 7]
    # exact product-token group wins EXCLUSIVELY over *
    both = BASIC + "\nUser-agent: ferendabot\nDisallow: /only/\n"
    rules2 = parse_robots_txt(both, agent="ferendabot")
    assert [(r["pattern"], r["is_allow"]) for r in rules2] == [
        ("/only/", False)]
    # ...and matching is case-insensitive on the token
    assert parse_robots_txt(both, agent="FerendaBot") == rules2


def test_parse_merging_and_edge_cases():
    txt = ("User-agent: a\nUser-agent: b\nDisallow: /x/\n"
           "User-agent: b\nAllow: /x/y\n")
    # consecutive user-agent lines share one group; two groups naming
    # the same token merge in file order
    assert [(r["pattern"], r["is_allow"])
            for r in parse_robots_txt(txt, agent="b")] == [
        ("/x/", False), ("/x/y", True)]
    assert [(r["pattern"], r["is_allow"])
            for r in parse_robots_txt(txt, agent="a")] == [
        ("/x/", False)]
    # empty disallow is the allow-all marker, not a rule; rule lines
    # before any group are ignored; blank/garbage lines skipped
    assert parse_robots_txt(
        "Disallow: /early/\nUser-agent: *\nDisallow:\n\nnot a line\n",
        agent="x") == []
    assert parse_robots_txt("", agent="x") == []
    assert parse_robots_txt(None, agent="x") == []
    # fields are case-insensitive
    assert [r["pattern"] for r in parse_robots_txt(
        "USER-AGENT: *\nDISALLOW: /a\n")] == ["/a"]


def test_decision_precedence_and_ties(spark):
    robots = spark.createDataFrame(
        [("a.com", BASIC),
         # equal-length allow and disallow both match /dup/x
         ("tie.com", "User-agent: *\nDisallow: /dup/\nAllow: /dup*\n")],
        "domain string, robots_txt string")
    docs = spark.createDataFrame(
        [("https://a.com/private/doc1",), ("https://a.com/private/pub/doc1",),
         ("https://a.com/tmp/x.tmp",), ("https://a.com/x.tmpX",),
         ("https://a.com/public/doc1",), ("https://tie.com/dup/x",)],
        "url string")
    got = {r["url"].split("/", 3)[3]: (r["robots_allowed"], r["robots_prec"])
           for r in robots_decisions(docs, parse_robots(robots)).collect()}
    assert got == {
        "private/doc1": (False, 9),
        "private/pub/doc1": (True, 13),  # longer allow
        "tmp/x.tmp": (False, 7),         # wildcard+$
        "x.tmpX": (True, None),          # $ anchors
        "public/doc1": (True, None),     # no rule
        "dup/x": (True, 5),              # allow wins the tie
    }


def test_url_path_twin():
    assert url_path("https://h.com/a/b?q=1#frag") == "/a/b?q=1"
    assert url_path("https://h.com") == "/"
    assert url_path("https://h.com?q=1") == "/?q=1"
    assert url_path("https://user@h.com:8080/p") == "/p"


@pytest.fixture()
def robots_df(spark):
    return spark.createDataFrame(
        [("a.com", BASIC), ("b.com", "")],
        "domain string, robots_txt string")


def test_parse_robots_matches_twin(spark, robots_df):
    rows = {r["domain"]: r["rules"]
            for r in parse_robots(robots_df, agent="ferendabot").collect()}
    expect = [(r["regex"], r["prec"], r["is_allow"])
              for r in parse_robots_txt(BASIC, agent="ferendabot")]
    assert [(x["regex"], x["prec"], x["is_allow"])
            for x in rows["a.com"]] == expect
    assert rows["b.com"] == []


def test_robots_decisions_and_filter(spark, robots_df):
    docs = spark.createDataFrame(
        [(1, "https://a.com/private/doc"),
         (2, "https://a.com/private/pub/doc"),
         (3, "https://a.com/doc.tmp"),
         (4, "https://a.com/ok"),
         (5, "https://b.com/private/doc"),   # empty robots: allowed
         (6, "https://nobody.com/private/doc")],  # no row: allowed
        "doc_id long, url string")
    rules = parse_robots(robots_df, agent="ferendabot")
    out = {r["doc_id"]: (r["robots_allowed"], r["robots_prec"])
           for r in robots_decisions(docs, rules).collect()}
    assert out == {1: (False, 9), 2: (True, 13), 3: (False, 7),
                   4: (True, None), 5: (True, None), 6: (True, None)}
    kept = robots_filter(docs, rules)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4, 5, 6]
    assert kept.columns == ["doc_id", "url"]
    # scale shape: the rules side broadcasts; the corpus never
    # shuffles to meet its robots table
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
