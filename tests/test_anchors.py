"""Anchor-text extraction + per-target aggregation
(operators/anchors.py)."""

from ferenda_spark.operators.anchors import (anchor_pairs, anchor_profile,
                                             parse_anchors, resolve_hrefs)


def test_parse_basic_and_nested_markup():
    html = (b'<html><body><p>See <a href="/a">first</a> and '
            b'<a href="https://x.org/b"><b>bold</b> ref</a>.</p>')
    assert parse_anchors(html) == [
        ("/a", "first"), ("https://x.org/b", "bold ref")]


def test_parse_recovery_rules():
    # a new <a> implicitly closes the open one; no-href anchors are
    # ignored; entities decode; EOF flushes an unterminated anchor
    html = (b'<a href="/1">one <a href="/2">two &amp; half</a>'
            b'<a name="s">named</a><a href="/3">tail')
    assert parse_anchors(html) == [
        ("/1", "one"), ("/2", "two & half"), ("/3", "tail")]


def test_parse_hostile_inputs():
    assert parse_anchors(b"") == []
    assert parse_anchors(None) == []
    # invalid UTF-8 must not raise; href survives, bytes are replaced
    got = parse_anchors(b"\xff\xfe<a href='/x'>\x80ok</a>")
    assert len(got) == 1 and got[0][0] == "/x" and got[0][1].endswith("ok")
    # whitespace normalization inside the anchor
    assert parse_anchors(b'<a href="/y">  a\n\t b  </a>') == [("/y", "a b")]


def test_parse_unknown_marked_section(spark):
    # a <![ without a marked-section keyword is a bogus comment up to
    # the next >: anchors on both sides survive, and the page does not
    # fail its anchor_pairs task
    html = b'<a href="/x">x</a><![ foo ]><a href="/y">y</a>'
    assert parse_anchors(html) == [("/x", "x"), ("/y", "y")]
    assert parse_anchors(b'<a href="/x">x</a><![foo]>') == [("/x", "x")]
    # a known keyword is still a marked section
    assert parse_anchors(
        b'<a href="/x">x<![CDATA[ <b> ]]> z</a>') == [("/x", "x z")]
    pages = spark.createDataFrame(
        [("https://s.org/1", html),
         ("https://s.org/2", b'<a href="/t">T</a>')],
        "url string, html binary")
    assert sorted(map(tuple, anchor_pairs(pages).collect())) == [
        ("https://s.org/1", "/x", "x"), ("https://s.org/1", "/y", "y"),
        ("https://s.org/2", "/t", "T")]


def test_anchor_pairs_and_profile(spark):
    rows = [
        ("https://s.org/1",
         b'<a href="/t">Spec</a> <a href="/t">Spec</a>'),
        ("https://s.org/2", b'<a href="/t">The Spec</a>'),
        ("https://s.org/3", b'<a href="/t">Spec</a> <a href="/u">U</a>'),
        ("https://s.org/4", b"<p>no links</p>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    pairs = anchor_pairs(pages)
    got = sorted(map(tuple, pairs.collect()))
    assert got == sorted([
        ("https://s.org/1", "/t", "Spec"),
        ("https://s.org/1", "/t", "Spec"),
        ("https://s.org/2", "/t", "The Spec"),
        ("https://s.org/3", "/t", "Spec"),
        ("https://s.org/3", "/u", "U"),
    ])
    prof = {r["href"]: (r["n_links"], r["n_sources"], r["top_anchor"],
                        r["top_anchor_n"])
            for r in anchor_profile(pairs).collect()}
    assert prof == {"/t": (4, 3, "Spec", 3), "/u": (1, 1, "U", 1)}


def test_profile_tie_breaks_lexicographically(spark):
    pairs = spark.createDataFrame(
        [("s1", "/t", "beta"), ("s2", "/t", "alpha")],
        "src_url string, href string, anchor string")
    r = anchor_profile(pairs).collect()[0]
    assert (r["top_anchor"], r["top_anchor_n"]) == ("alpha", 1)


def test_resolve_hrefs(spark):
    pairs = spark.createDataFrame(
        [("https://h.org/p/1", "/abs", "a"),
         ("https://h.org/p/1", "https://other.org/x", "b"),
         ("http://h2.org", "/y", "c"),
         ("ftp://weird", "/z", "d")],   # no http origin: pass through
        "src_url string, href string, anchor string")
    got = {r["anchor"]: r["href"] for r in resolve_hrefs(pairs).collect()}
    assert got == {"a": "https://h.org/abs",
                   "b": "https://other.org/x",
                   "c": "http://h2.org/y",
                   "d": "/z"}


def test_pairs_partitioning_invariant(spark):
    rows = [(f"https://s.org/{i}",
             f'<a href="/t{i % 3}">r{i % 2}</a>'.encode()) for i in range(20)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    a = sorted(map(tuple, anchor_pairs(pages.repartition(1)).collect()))
    b = sorted(map(tuple, anchor_pairs(pages.repartition(7)).collect()))
    assert a == b
