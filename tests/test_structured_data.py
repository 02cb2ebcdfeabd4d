"""schema.org JSON-LD extraction: pages → edge-schema triples."""

import pytest

from ferenda_spark.operators.structured_data import (extract_jsonld,
                                                     jsonld_triples)

PAGE = """<html><head>
<script type="application/ld+json">
{"@context": "https://schema.org",
 "@id": "https://a.com/art1",
 "@type": "Article",
 "headline": "One",
 "wordCount": 42,
 "free": true,
 "rating": 4.5,
 "keywords": ["k1", "k2"],
 "author": {"@type": "Person", "name": "Ada"},
 "alternativeHeadline": {"@value": "Ett", "@language": "sv"},
 "datePublished": {"@value": "2024-01-05", "@type": "Date"},
 "missing": null}
</script>
<script type="application/ld+json">not json {</script>
<script type="APPLICATION/LD+JSON">
[{"@type": "Thing", "name": "anon"}]
</script>
<script type="text/javascript">ignored()</script>
</head><body></body></html>"""


def _triples(rows):
    return {(r["subj"], r["pred"], r["obj"], r["obj_is_literal"],
             r["obj_datatype"], r["obj_lang"])
            for r in rows if r["error"] is None}


def test_extract_jsonld_twin():
    rows = extract_jsonld("https://a.com/p1", PAGE)
    errs = [r for r in rows if r["error"]]
    assert len(errs) == 1 and errs[0]["error"].startswith("block 1: json")
    art = "https://a.com/art1"
    got = _triples(rows)
    assert (art, "rdf:type", "schema:Article", False, None, None) in got
    assert (art, "schema:headline", "One", True, None, None) in got
    assert (art, "schema:wordCount", "42", True, "xsd:integer",
            None) in got
    assert (art, "schema:free", "true", True, "xsd:boolean", None) in got
    assert (art, "schema:rating", "4.5", True, "xsd:double", None) in got
    # arrays fan out
    assert (art, "schema:keywords", "k1", True, None, None) in got
    assert (art, "schema:keywords", "k2", True, None, None) in got
    # nested @id-less node: deterministic skolem fragment + own triples
    child = "https://a.com/p1#jsonld/0/author"
    assert (art, "schema:author", child, False, None, None) in got
    assert (child, "rdf:type", "schema:Person", False, None, None) in got
    assert (child, "schema:name", "Ada", True, None, None) in got
    # @value forms: language tag / explicit datatype
    assert (art, "schema:alternativeHeadline", "Ett", True, None,
            "sv") in got
    assert (art, "schema:datePublished", "2024-01-05", True,
            "schema:Date", None) in got
    # third block: single-node top-level array (path collapses to the
    # block ordinal), no @context so terms stay verbatim
    anon = "https://a.com/p1#jsonld/2"
    assert (anon, "rdf:type", "Thing", False, None, None) in got
    assert (anon, "name", "anon", True, None, None) in got
    # JSON null carries no triple
    assert not any(p == "schema:missing" for _, p, *_ in got)


def test_graph_unknown_context_and_keywords():
    # @graph array; unknown context leaves terms verbatim
    html = ('<script type="application/ld+json">'
            '{"@context": "https://example.org/vocab",'
            ' "@graph": [{"@id": "urn:x", "Type_thing": "v"}]}'
            '</script>')
    got = _triples(extract_jsonld("u", html))
    assert got == {("urn:x", "Type_thing", "v", True, None, None)}
    # absolute-IRI and CURIE terms never get prefixed
    html2 = ('<script type="application/ld+json">'
             '{"@context": "https://schema.org", "@id": "urn:y",'
             ' "dcterms:title": "t"}</script>')
    assert ("urn:y", "dcterms:title", "t", True, None, None) in _triples(
        extract_jsonld("u", html2))
    # unhandled @-keyword: loud error row, block dropped whole
    html3 = ('<script type="application/ld+json">'
             '{"@reverse": {"p": {"@id": "urn:z"}}}</script>')
    rows = extract_jsonld("u", html3)
    assert len(rows) == 1 and "@reverse" in rows[0]["error"]
    assert extract_jsonld("u", "<html>no blocks</html>") == []
    assert extract_jsonld("u", None) == []


def test_jsonld_triples_spark(spark):
    pages = spark.createDataFrame(
        [("https://a.com/p1", PAGE.encode("utf-8")),
         ("https://a.com/p2", b"<html></html>")],
        "url string, html binary")
    rows = jsonld_triples(pages).collect()
    twin = extract_jsonld("https://a.com/p1", PAGE)
    assert _triples([r.asDict() for r in rows]) == _triples(twin)
    assert sum(1 for r in rows if r["error"]) == 1


# ---- microdata -------------------------------------------------------------

from ferenda_spark.operators.structured_data import (  # noqa: E402
    extract_microdata,
    microdata_triples,
)

MD_PAGE = """<html><body>
<div itemscope itemtype="https://schema.org/Product"
     itemid="https://x.com/p#prod">
  <span itemprop="name">Widget <b>9000</b></span>
  <meta itemprop="sku" content="SKU-1">
  <a itemprop="url" href="https://x.com/buy/1">buy</a>
  <time itemprop="releaseDate" datetime="2020-01-02">Jan 2</time>
  <data itemprop="gtin" value="123">one two three</data>
  <div itemprop="offers" itemscope itemtype="https://schema.org/Offer">
    <span itemprop="price">42</span>
  </div>
</div>
<div itemscope itemtype="https://schema.org/Person">
  <span itemprop="name givenName">Ada</span>
</div>
</body></html>"""


def test_microdata_kinds_and_nesting():
    got = _triples(extract_microdata("https://x.com/p", MD_PAGE))
    # itemid subject + contracted type
    assert ("https://x.com/p#prod", "rdf:type", "schema:Product",
            False, None, None) in got
    # text value is descendant text, whitespace-normalized
    assert ("https://x.com/p#prod", "schema:name", "Widget 9000",
            True, None, None) in got
    # meta/@content, a/@href resource, time/@datetime, data/@value
    assert ("https://x.com/p#prod", "schema:sku", "SKU-1",
            True, None, None) in got
    assert ("https://x.com/p#prod", "schema:url", "https://x.com/buy/1",
            False, None, None) in got
    assert ("https://x.com/p#prod", "schema:releaseDate", "2020-01-02",
            True, None, None) in got
    assert ("https://x.com/p#prod", "schema:gtin", "123",
            True, None, None) in got
    # @id-less nested item: pre-order skolem ordinal (prod itself is
    # item 0 even though itemid overrides its subject)
    assert ("https://x.com/p#prod", "schema:offers",
            "https://x.com/p#md/1", False, None, None) in got
    assert ("https://x.com/p#md/1", "schema:price", "42",
            True, None, None) in got
    # multi-name itemprop fans out; second top-level item is ordinal 2
    assert ("https://x.com/p#md/2", "schema:name", "Ada",
            True, None, None) in got
    assert ("https://x.com/p#md/2", "schema:givenName", "Ada",
            True, None, None) in got
    assert len(got) == 12


def test_microdata_fail_loud_rows():
    # itemref is out of subset: one error row, page never crashes
    rows = extract_microdata(
        "u", '<div itemscope itemref="a"><span itemprop="x">v</span>'
             "</div>")
    errs = [r for r in rows if r["error"]]
    # the skipped item's orphaned prop errors too — both rows loud
    assert len(errs) == 2 == len(rows)
    assert "itemref" in errs[0]["error"]
    assert "outside any item" in errs[1]["error"]
    # itemprop outside any item: loud, not guessed
    rows = extract_microdata("u", '<span itemprop="name">x</span>')
    assert len(rows) == 1 and "outside any item" in rows[0]["error"]
    # malformed / stray tags: no crash, no phantom triples
    assert extract_microdata("u", "</div></div><p unclosed") == []
    assert extract_microdata("u", None) == []


def test_microdata_after_unknown_marked_section():
    # a <![ without a marked-section keyword is a bogus comment: the
    # item keeps its later properties and no parse error row appears
    rows = extract_microdata(
        "u", '<div itemscope itemtype="https://schema.org/Person">'
             '<![ x ]><span itemprop="name">Ada</span></div>')
    assert [r for r in rows if r["error"]] == []
    assert _triples(rows) == {
        ("u#md/0", "rdf:type", "schema:Person", False, None, None),
        ("u#md/0", "schema:name", "Ada", True, None, None)}


def test_microdata_void_item_opens_no_scope():
    # a void or self-closing itemscope element is an item without
    # content: the enclosing item's end tag closes the enclosing item,
    # so a later property outside every item is an error row
    for child in ('<meta itemscope itemprop="a">',
                  '<link itemscope itemprop="a"/>',
                  '<span itemscope itemprop="a"/>'):
        rows = extract_microdata(
            "u", f'<div itemscope>{child}</div><span itemprop="b">x</span>')
        assert _triples(rows) == {
            ("u#md/0", "a", "u#md/1", False, None, None)}, child
        errs = [r["error"] for r in rows if r["error"]]
        assert errs == ["<span itemprop='b'> outside any item"], child


def test_microdata_vocabless_and_curie_props():
    # no itemtype → names stay verbatim; ':' names never re-prefixed
    rows = extract_microdata(
        "u", '<div itemscope itemid="urn:i">'
             '<span itemprop="plain">a</span>'
             '<span itemprop="dcterms:title">t</span></div>')
    got = _triples(rows)
    assert ("urn:i", "plain", "a", True, None, None) in got
    assert ("urn:i", "dcterms:title", "t", True, None, None) in got


def test_microdata_triples_spark(spark):
    pages = spark.createDataFrame(
        [("https://x.com/p", MD_PAGE.encode("utf-8")),
         ("https://x.com/q", b"<p no items here</p>")],
        "url string, html binary")
    rows = microdata_triples(pages).collect()
    twin = extract_microdata("https://x.com/p", MD_PAGE)
    assert _triples([r.asDict() for r in rows]) == _triples(twin)
    assert sum(1 for r in rows if r["error"]) == 0


# ---- RDFa-Lite reader ---------------------------------------------------

from ferenda_spark.operators.structured_data import (extract_rdfa,  # noqa: E402
                                                     rdfa_triples)

RDFA_PAGE = (
    '<html xmlns:dcterms="http://purl.org/dc/terms/" xml:lang="en">'
    '<head about="https://a.com/doc">'
    '<title property="dcterms:title">T &amp; 1</title>'
    '<link rel="dcterms:publisher" href="https://a.com/org/x"/>'
    '<meta property="dcterms:extent" content="42"/>'
    '</head><body about="https://a.com/doc">'
    '<div about="https://a.com/doc#K1" typeof="chapter"><p>General</p>'
    '<div about="https://a.com/doc#K1P1" typeof="section">'
    '<p>Sec</p></div></div></body></html>')


def test_rdfa_writer_shape_roundtrip_semantics():
    got = _triples(extract_rdfa("https://a.com/doc", RDFA_PAGE))
    assert got == {
        # exact text (entity unescaped), xml:lang inherited
        ("https://a.com/doc", "dcterms:title", "T & 1", True, None, "en"),
        ("https://a.com/doc", "dcterms:publisher", "https://a.com/org/x",
         False, None, None),
        ("https://a.com/doc", "dcterms:extent", "42", True, None, "en"),
        ("https://a.com/doc#K1", "rdf:type", "chapter", False, None, None),
        ("https://a.com/doc#K1P1", "rdf:type", "section", False, None,
         None),
    }


def test_rdfa_vocab_prefix_chaining_and_resolution():
    page = ('<html prefix="og: https://ogp.me/ns#"><head>'
            '<meta property="og:title" content="Hello"/>'
            '<link rel="canonical" href="/canon"/>'
            '</head><body vocab="https://schema.org/">'
            '<div typeof="Article">'
            '<span property="headline">Big news</span>'
            '<div property="author" typeof="Person">'
            '<span property="name">Ada</span></div>'
            '<a property="url" href="rel/path">x</a>'
            '</div></body></html>')
    got = _triples(extract_rdfa("https://s.com/a/b", page))
    assert got == {
        # base subject = the page url; declared CURIE stays verbatim
        ("https://s.com/a/b", "og:title", "Hello", True, None, None),
        # bare rel term, href resolved against the page url
        ("https://s.com/a/b", "canonical", "https://s.com/canon",
         False, None, None),
        # vocab expands bare terms, then contracts to schema:
        ("https://s.com/a/b#rdfa/0", "rdf:type", "schema:Article",
         False, None, None),
        ("https://s.com/a/b#rdfa/0", "schema:headline", "Big news",
         True, None, None),
        # property+typeof chains through a deterministic blank node
        ("https://s.com/a/b#rdfa/0", "schema:author",
         "https://s.com/a/b#rdfa/1", False, None, None),
        ("https://s.com/a/b#rdfa/1", "rdf:type", "schema:Person",
         False, None, None),
        ("https://s.com/a/b#rdfa/1", "schema:name", "Ada", True, None,
         None),
        # property with href → IRI object, resolved relative
        ("https://s.com/a/b#rdfa/0", "schema:url",
         "https://s.com/a/rel/path", False, None, None),
    }
    # bnode ordinals are pre-order + replay-stable
    again = _triples(extract_rdfa("https://s.com/a/b", page))
    assert again == got


def test_rdfa_datatype_lang_scoping_and_exact_text():
    page = ('<html xmlns:xsd="http://www.w3.org/2001/XMLSchema#"'
            ' xml:lang="en"><body about="urn:d">'
            '<span property="a" datatype="xsd:integer" content="7"/>'
            '<p property="b" xml:lang="sv">  hej  da  </p>'
            '<p property="c"></p></body></html>')
    got = _triples(extract_rdfa("https://x.com/", page))
    # datatype suppresses lang; inner xml:lang overrides outer;
    # text is EXACT (no whitespace normalization); empty stays empty
    assert ("urn:d", "a", "7", True, "xsd:integer", None) in got
    assert ("urn:d", "b", "  hej  da  ", True, None, "sv") in got
    assert ("urn:d", "c", "", True, None, "en") in got


def test_rdfa_fail_loud_rows():
    # undeclared CURIE prefix: loud, never guessed
    rows = extract_rdfa("u", '<p property="bad:x">v</p>')
    assert len(rows) == 1 and "undeclared" in rows[0]["error"]
    # hanging rel (incomplete triple): out of subset
    rows = extract_rdfa("u", '<a rel="next">v</a>')
    assert len(rows) == 1 and "hanging rel" in rows[0]["error"]
    # rev / inlist: out of subset
    for frag in ('<a rev="x" href="h">v</a>',
                 '<a inlist="" property="p" href="h">v</a>'):
        rows = extract_rdfa("u", frag)
        assert len(rows) == 1 and "out of subset" in rows[0]["error"]
    # malformed / stray tags: no crash, no phantom triples
    assert extract_rdfa("u", "</div></div><p unclosed") == []
    assert extract_rdfa("u", None) == []


def test_rdfa_triples_spark_matches_twin(spark):
    pages = spark.createDataFrame(
        [("https://a.com/doc", RDFA_PAGE.encode("utf-8")),
         ("https://a.com/empty", b"<p>nothing here</p>")],
        "url string, html binary")
    rows = rdfa_triples(pages).collect()
    twin = extract_rdfa("https://a.com/doc", RDFA_PAGE)
    assert _triples([r.asDict() for r in rows]) == _triples(twin)
    assert sum(1 for r in rows if r["error"]) == 0
    # one stateless Arrow pass: no Exchange in the plan
    plan = rdfa_triples(pages)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan


def test_rdfa_render_roundtrip_identity(spark, monkeypatch):
    """rdfa_triples(render_xhtml_pages(meta, nodes)) recovers meta ∪
    node types — the reference's render/parse_metadata_from_soup
    identity, on a hand-built two-node act."""
    from ferenda_spark.operators.render import render_xhtml_pages
    url = "https://ex.org/res/act/1"
    meta = spark.createDataFrame(
        [(url, "dcterms:title", "Act <1> & co"),
         (url, "rdf:type", "https://ex.org/onto#Act"),
         (url, "dcterms:extent", "99")],
        "subj string, pred string, obj string")
    nodes = spark.createDataFrame(
        [(url, "K1", "chapter", "1", None, 1, 'Ch "one"'),
         (url, "K1P1", "section", "1", "K1", 2, "Sec 1")],
        "url string, node_id string, kind string, ordinal string, "
        "parent_id string, depth int, text string")
    langs = spark.createDataFrame([(url, "sv")], "url string, lang string")
    monkeypatch.setattr("ferenda_spark.operators.render.RENDER_MAX_DEPTH", 2)
    pages = render_xhtml_pages(meta, nodes, langs=langs)
    got = {(r["subj"], r["pred"], r["obj"], r["obj_is_literal"],
            r["obj_lang"])
           for r in rdfa_triples(pages, html_col="xhtml").collect()
           if r["error"] is None}
    assert got == {
        (url, "dcterms:title", "Act <1> & co", True, "sv"),
        (url, "rdf:type", "https://ex.org/onto#Act", False, None),
        (url, "dcterms:extent", "99", True, "sv"),
        (url + "#K1", "rdf:type", "chapter", False, None),
        (url + "#K1P1", "rdf:type", "section", False, None),
    }


# ---- page-head metadata harvest -----------------------------------------

def test_rdfa_after_unknown_marked_section():
    rows = extract_rdfa(
        "https://a.com/d",
        '<div prefix="dcterms: http://purl.org/dc/terms/">'
        '<p property="dcterms:title">T</p><![ x ]>'
        '<p property="dcterms:creator">C</p></div>')
    assert [r for r in rows if r["error"]] == []
    assert _triples(rows) == {
        ("https://a.com/d", "dcterms:title", "T", True, None, None),
        ("https://a.com/d", "dcterms:creator", "C", True, None, None)}


from ferenda_spark.operators.structured_data import (extract_head_meta,  # noqa: E402
                                                     head_meta)


def test_head_meta_after_unknown_marked_section():
    rows = extract_head_meta(
        "https://a.com/x", '<title>T</title><![ x ]>'
                           '<meta name="robots" content="noindex">'
                           '<link rel="canonical" href="/c">')
    assert [(r["kind"], r["key"], r["value"], r["pos"]) for r in rows] == [
        ("title", "", "T", 0), ("meta", "robots", "noindex", 1),
        ("link", "canonical", "https://a.com/c", 2)]


def test_head_meta_harvest_kinds_base_and_leniency():
    page = ('<html><head><base href="https://cdn.x.com/a/">'
            '<title> My  Page </title>'
            '<meta property="og:title" content="OG"/>'
            '<meta name="Description" content="d">'
            '<meta http-equiv="refresh" content="30">'
            '<meta name="nocontent">'          # skipped: no content
            '<link rel="canonical" href="../canon">'
            '<link rel="alternate feed" href="f.xml" hreflang="sv">'
            '<link rel="next">'                # skipped: no href
            '</head><body><meta name="late" content="y"></body>')
    rows = extract_head_meta("https://x.com/p?b=1", page)
    got = {(r["kind"], r["key"], r["value"], r["hreflang"])
           for r in rows}
    assert got == {
        ("title", "", "My Page", None),      # whitespace-normalized
        ("meta", "og:title", "OG", None),
        ("meta", "description", "d", None),  # name lowercased
        ("meta", "refresh", "30", None),
        # base rebasing: ../canon against https://cdn.x.com/a/
        ("link", "canonical", "https://cdn.x.com/canon", None),
        # multi-rel fans out, hreflang carried
        ("link", "alternate", "https://cdn.x.com/a/f.xml", "sv"),
        ("link", "feed", "https://cdn.x.com/a/f.xml", "sv"),
        ("meta", "late", "y", None),         # body meta harvested
    }
    # pos is document order (first-canonical-wins determinism)
    pos = {(r["kind"], r["key"]): r["pos"] for r in rows
           if (r["kind"], r["key"]) != ("link", "feed")}
    assert pos[("title", "")] == 0
    assert pos[("link", "canonical")] == 4
    # wild garbage: never crashes, returns what it got
    assert extract_head_meta("u", None) == []
    assert extract_head_meta("u", "<head><title>t") == []


def test_head_meta_spark_matches_twin(spark):
    page = ('<head><title>T</title>'
            '<link rel="canonical" href="/c"></head>')
    pages = spark.createDataFrame(
        [("https://a.com/x", page.encode())], "url string, html binary")
    rows = [r.asDict() for r in head_meta(pages).collect()]
    assert rows == extract_head_meta("https://a.com/x", page)
    plan = head_meta(pages)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan


# ---- fuzz: parsers never crash, never guess -----------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_wild = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
    max_size=400)
_taggy = st.lists(st.sampled_from(
    ["<div ", "<meta ", '<link rel="', "property=", 'about="', ">",
     "</div>", '"', "og:t", "vocab=", "prefix=", "x: y", "&amp;",
     "<![CDATA[", "<title>", "</title>", "typeof=", "rel=", "\x00"]),
    max_size=30).map("".join)


@given(st.one_of(_wild, _taggy))
@settings(max_examples=150, deadline=None)
def test_fuzz_rdfa_and_head_meta_never_crash(html):
    for r in extract_rdfa("https://f.example/p", html):
        assert (r["error"] is None) != (r["subj"] is None)
    for r in extract_head_meta("https://f.example/p", html):
        assert r["kind"] in ("title", "meta", "link")
        assert r["value"] is not None
