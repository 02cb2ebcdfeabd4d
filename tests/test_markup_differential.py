"""The shared tokenizer reads markup as the stdlib ``html.parser`` does.

``functions/markup.events`` is the one HTML tokenizer of the package.
Its expected value here is an ``HTMLParser`` that records its callbacks
as events: start, self-closing and end tags with their attribute dicts,
and data, adjacent data events merged (that parser splits a text run at
a bare ``<``; the tokenizer yields one run).

On this Python, ``HTMLParser`` holds back the raw text of a script or
style element that has no end tag; ``close()`` leaves it unparsed. The
tokenizer yields it as data running to the end of the page, so the
recorder reports what the parser held back as one more data event.

Inputs are those of ``test_parse_page_differential.py`` (fixture,
golden and hand-mangled pages, and its two Hypothesis strategies), plus
tag soup of the attributes that the microdata, RDFa, head-meta and
anchor readers read. Where the recorder raises (a ``<![`` without a
marked-section keyword) only the tokenizer runs, and it must return.
"""

from html.parser import HTMLParser

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from test_parse_page_differential import (
    _FIXTURE_PAGES,
    _GOLDEN_PAGES,
    _HAND_MANGLED,
    _MANGLE_CHARS,
    _SNIPPETS,
    _pages,
    _soup,
)

from ferenda_spark.functions.markup import (
    DATA,
    END,
    SELF_CLOSING,
    START,
    attrs,
    events,
)


class _Recorder(HTMLParser):

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.events: list[tuple] = []

    def handle_starttag(self, tag, attrs):
        self.events.append((START, tag, dict(attrs)))

    def handle_startendtag(self, tag, attrs):
        self.events.append((SELF_CLOSING, tag, dict(attrs)))

    def handle_endtag(self, tag):
        self.events.append((END, tag, None))

    def handle_data(self, data):
        self.events.append((DATA, data, None))


def _merged(evs) -> list[tuple]:
    out: list[tuple] = []
    for ev in evs:
        if ev[0] == DATA and out and out[-1][0] == DATA:
            out[-1] = (DATA, out[-1][1] + ev[1], None)
        else:
            out.append(ev)
    return out


def _recorded(text: str) -> list[tuple]:
    p = _Recorder()
    p.feed(text)
    p.close()
    if p.cdata_elem is not None and p.rawdata:
        p.handle_data(p.rawdata)  # the held-back raw text
    return _merged(p.events)


def _tokenized(text: str) -> list[tuple]:
    return _merged((kind, value, attrs(m) if kind & START else None)
                   for kind, value, m in events(text))


def _assert_same(page: bytes) -> None:
    text = page.decode("utf-8", errors="replace")
    try:
        want = _recorded(text)
    except AssertionError:
        _tokenized(text)  # the recorder crashed; the tokenizer returns
        return
    assert _tokenized(text) == want


# the attributes the markup readers look at, in well- and ill-formed
# shapes
_ATTR_SNIPPETS = [
    '<div itemscope itemtype="https://schema.org/Person">',
    "<div itemscope itemid=urn:x>", '<span itemprop="name">',
    "<span itemprop='a b'>", '<meta itemprop="x" content="1">',
    '<meta itemprop="x" content="1"/>', '<link itemprop=u href="/l"/>',
    '<img itemprop=i src="a.png">', '<time datetime="2001-02-03">',
    '<data value="">', "<p itemref=x>", '<p about="#me" property="p">',
    '<p typeof="schema:T" vocab="https://schema.org/">',
    '<a rel="next" href="/n">', '<span property="p" content="c"/>',
    '<html prefix="dc: http://purl.org/dc/terms/">',
    '<div xmlns:ex="http://e.org/">', "<p lang=sv>", '<p xml:lang="">',
    '<p datatype="xsd:int">', "<p rev=x>", "<p inlist>",
    '<base href="/b/">', '<meta name="Description" content="d">',
    '<meta property="og:title" content="&amp;t">',
    '<link rel="canonical alternate" hreflang=en href="../c">',
    "<title>", "</title>", "<title/>", '<a href="/x">', "<a href=x/>",
    "<a href>", '<a href="">', "<a name=n>", "</a>", "</span>", "</p>",
    '<a href="&#47;q?a=1&amp;b=2">', "<A HREF='/U'>", "<a  href = '/s' >",
    '<a href="/d" href="/e">', "<a href=/f/ class=c>", "<a\thref=\n/g>",
    "<script>a<b>c</b>", "</script>", "<style>x", "<x/>", "<x />",
]

_attr_soup = st.lists(
    st.one_of(st.sampled_from(_ATTR_SNIPPETS), st.sampled_from(_SNIPPETS),
              st.text(alphabet=_MANGLE_CHARS, max_size=6)),
    max_size=30).map(lambda parts: "".join(parts).encode())


# -- tests -------------------------------------------------------------------

@pytest.mark.parametrize("page", _FIXTURE_PAGES + _GOLDEN_PAGES)
def test_same_events_on_fixture_and_golden_pages(page):
    _assert_same(page)


@pytest.mark.parametrize("page", _HAND_MANGLED)
def test_same_events_on_hand_mangled_pages(page):
    _assert_same(page)


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_pages())
def test_same_events_on_mangled_pages(page):
    _assert_same(page)


@settings(max_examples=400, deadline=None)
@given(_soup)
def test_same_events_on_tag_soup(page):
    _assert_same(page)


@settings(max_examples=400, deadline=None)
@given(_attr_soup)
def test_same_events_on_attribute_soup(page):
    _assert_same(page)


def test_event_shapes():
    """Self-closing is one event; script raw text is one data event,
    kept as written, to the end of the page without an end tag; the
    recorder raises on an unknown ``<![``, the tokenizer does not."""
    assert _tokenized('<br/><x a=1 b><p/>t') == [
        (SELF_CLOSING, "br", {}), (START, "x", {"a": "1", "b": None}),
        (SELF_CLOSING, "p", {}), (DATA, "t", None)]
    assert _tokenized("<script>a<b>&amp;</script>") == [
        (START, "script", {}), (DATA, "a<b>&amp;", None),
        (END, "script", None)]
    assert _tokenized("<style>&amp;<p>") == [
        (START, "style", {}), (DATA, "&amp;<p>", None)]
    assert _recorded("<style>&amp;<p>") == _tokenized("<style>&amp;<p>")
    with pytest.raises(AssertionError):
        _recorded("<p>a<![ foo ]>b")
    assert _tokenized("<p>a<![ foo ]>b") == [
        (START, "p", {}), (DATA, "ab", None)]
