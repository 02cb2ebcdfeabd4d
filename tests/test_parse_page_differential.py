"""``extract.parse_page`` reads every page as the stdlib-parser version did.

The regex tokenizer in ``operators/extract.py`` replaced an
``html.parser.HTMLParser`` subclass. ``_frozen_parse_page`` below is
that version, frozen here as the expected value: a differential test
runs both on fixture pages, on pages built around the golden citation
texts, and on truncated and mangled variants of them, and the outputs
must be equal. Two inputs crashed the frozen version (a ``<![`` without
a known marked-section keyword, and ``<div about>`` with no value);
there only the new one is run, and it must return.
"""

import re
from html.parser import HTMLParser
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ferenda_spark.fixtures.pages import gen_doc, render_html
from ferenda_spark.functions.text import (
    clean_xml_chars,
    normalize_space,
    strip_backspace,
)
from ferenda_spark.operators.extract import parse_page

GOLDEN = Path(__file__).resolve().parent / "golden" / "citations"

# -- the frozen stdlib-parser version ----------------------------------------

_DROP_TAGS = frozenset({"script", "style", "font", "map", "center"})
_BLOCK_TAGS = frozenset({"p", "h1", "h2", "h3", "h4", "h5", "h6", "li"})
_HEADER_KV_RE = re.compile(
    r"^(Request for Comments|Category|Updates|Obsoletes|STD|BCP): (.*)$")
_DATE_RE = re.compile(
    r"^(January|February|March|April|May|June|July|August|September|"
    r"October|November|December) (\d{4})$")
_SECTION_PREFIX_RE = re.compile(r"^(\d+(?:\.\d+)*)\. ")


class _FrozenPageParser(HTMLParser):

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.in_head = False
        self.in_body = True
        self.skip_depth = 0
        self.block_stack: list[list[str]] = []
        self.div_stack: list[tuple[str, str | None]] = []
        self.current_section: str | None = None
        self.in_header_div = False
        self.chunks: list[tuple[str | None, bool, str]] = []

    def _collecting(self) -> bool:
        return self.in_body and not self.in_head and not self.skip_depth

    def _emit(self, raw: str) -> None:
        chunk = normalize_space(clean_xml_chars(strip_backspace(raw)))
        if chunk:
            self.chunks.append(
                (self.current_section, self.in_header_div, chunk))

    def handle_starttag(self, tag, attrs):
        if tag == "head":
            self.in_head = True
            return
        if tag == "body":
            self.in_head = False
            self.in_body = True
            return
        if tag in _DROP_TAGS:
            self.skip_depth += 1
            return
        if not self._collecting():
            return
        if tag == "div":
            a = dict(attrs)
            about = a.get("about", "")
            if about.startswith("#S"):
                self.div_stack.append(("sec", about[2:]))
                self.current_section = about[2:]
            else:
                kind = "hdr" if a.get("class") == "header" else "plain"
                self.div_stack.append((kind, None))
                if kind == "hdr":
                    self.in_header_div = True
            return
        if tag in _BLOCK_TAGS:
            if self.block_stack and self.block_stack[-1]:
                self._emit("".join(self.block_stack[-1]))
                self.block_stack[-1] = []
            self.block_stack.append([])

    def handle_endtag(self, tag):
        if tag == "head":
            self.in_head = False
            return
        if tag == "body":
            self.in_body = False
            return
        if tag in _DROP_TAGS:
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        if not self.in_body or self.in_head or self.skip_depth:
            return
        if tag == "div" and self.div_stack:
            kind, _ = self.div_stack.pop()
            if kind == "sec":
                self.current_section = next(
                    (v for k, v in reversed(self.div_stack) if k == "sec"),
                    None)
            elif kind == "hdr":
                self.in_header_div = any(
                    k == "hdr" for k, _ in self.div_stack)
            return
        if tag in _BLOCK_TAGS and self.block_stack:
            self._emit("".join(self.block_stack.pop()))

    def handle_data(self, data):
        if self._collecting() and self.block_stack:
            self.block_stack[-1].append(data)

    def flush(self) -> None:
        while self.block_stack:
            self._emit("".join(self.block_stack.pop()))


def _frozen_parse_page(html_bytes: bytes) -> dict:
    parser = _FrozenPageParser()
    parser.feed(html_bytes.decode("utf-8", errors="replace"))
    parser.close()
    parser.flush()

    text = " ".join(c for _, _, c in parser.chunks)
    header: dict[str, str] = {}
    title = None
    preamble: list[str] = []
    sections: list[dict] = []
    sec_index: dict[str, dict] = {}

    for ordinal, in_header, chunk in parser.chunks:
        if in_header and ordinal is None:
            m = _HEADER_KV_RE.match(chunk)
            if m:
                header[m.group(1)] = m.group(2)
                continue
            m = _DATE_RE.match(chunk)
            if m:
                header["Date"] = chunk
                continue
            header.setdefault("Publisher", chunk)
            continue
        if ordinal is None:
            if title is None:
                title = chunk
            preamble.append(chunk)
            continue
        sec = sec_index.get(ordinal)
        if sec is None:
            m = _SECTION_PREFIX_RE.match(chunk)
            heading = chunk[m.end():] if m else chunk
            sec = {"ordinal": ordinal, "heading": heading, "text": chunk}
            sec_index[ordinal] = sec
            sections.append(sec)
        else:
            sec["text"] = sec["text"] + " " + chunk

    return {"text": text, "title": title, "header": header,
            "preamble": " ".join(preamble), "sections": sections}


def _assert_same(html: bytes) -> None:
    try:
        want = _frozen_parse_page(html)
    except (AssertionError, AttributeError):
        parse_page(html)  # the frozen version crashed; this one returns
        return
    assert parse_page(html) == want


# -- inputs ------------------------------------------------------------------

_FIXTURE_PAGES = [render_html(gen_doc(n, 40)) for n in range(1, 9)]
_GOLDEN_PAGES = [
    (f'<html><body><div class="section" about="#S1"><h2>1. Case</h2>'
     f"<p>{p.read_text()}</p></div></body></html>").encode()
    for p in sorted(GOLDEN.glob("*.txt"))]

# markup the synthetic fixture never writes but the open web does
_SNIPPETS = [
    "<", " < ", "a<b", "<<p>", "<>", "</>", "</ >", "<!-->", "<!--",
    "<!-- open comment", "-->", "<!-- c --!>", "<!-- a -- >", "<!>",
    "<!doctype html>", "<!DOCTYPE", "<?xml version='1.0'?>", "<?pi",
    "<![CDATA[ x <p> ]]>", "<![if !IE]>", "<![endif]>", "<![cdata",
    "<![ foo ]>", "<![bogus]>", "<p", "<div", '<div class="', "<a href='x",
    "<div about=", "</p >", "</ p>", "</p x>", "</P\n>", "</div", "</",
    "<br/>", "<br />", "<div/>", "<p/>", "<script/>", "<a href=x/>",
    "<b =x>", "<i/b>", "<u / / />", "<P>", "<DIV>", "</DIV>", "<H2>",
    "<SCRIPT>", "</SCRIPT>", "<Style>", "<p\x00>", "<a\x00b>", '<a"b>',
    "&amp;<p>", "<p>&amp;", "&lt;p&gt;", "&#65;<b>", "&#x42</i>", "&amp",
    "&notin;", "&copy", "&<p>", "&#", "&#;",
    "<script>if (a<b) x='</p>';</script>", "<script>document.write('<div>')",
    "</scriptx>", "</script >", "</ script>", "<style>p{}</style>",
    "<style><p>in style</p></style>", "<textarea><p>t</textarea>",
    "<head>", "</head>", "<body>", "</body>", "<head><p>h</p></head>",
    "<center>", "</center>", "<font>", "</font>", "<map>", "</map>",
    '<div about="#S7">', '<div about="#S7.1">', '<div class="header">',
    "<div class=header>", "<div about>", "<div about='#S8' about=#S9>",
    '<div ABOUT="#S3" Class="header">', "<div about=&quot;#S5&quot;>",
    "<li>", "</li>", "<ul>", "<h1>", "</h1>", "<p>", "</p>", "</div>",
    "\x08", "x\x08x", "\xa0", "\x0c", "\x0b", "�", "\x01", " ",
    "\n", "Request for Comments: 12", "Obsoletes: 3", "March 2001",
    "1. Introduction",
]
_MANGLE_CHARS = "<>/&;=\"'!?-[] \n\x00aAzZ#x0"

_base = st.sampled_from(_FIXTURE_PAGES + _GOLDEN_PAGES)


@st.composite
def _pages(draw):
    """A base page, then a few edits: snippet insertions, deletions,
    single-character replacements, and maybe a truncation."""
    page = draw(_base).decode("utf-8")
    for _ in range(draw(st.integers(0, 6))):
        at = draw(st.integers(0, len(page)))
        op = draw(st.sampled_from(["insert", "insert", "delete", "char"]))
        if op == "insert":
            page = page[:at] + draw(st.sampled_from(_SNIPPETS)) + page[at:]
        elif op == "delete":
            page = page[:at] + page[at + draw(st.integers(1, 40)):]
        else:
            page = (page[:at] + draw(st.sampled_from(_MANGLE_CHARS))
                    + page[at + 1:])
    if draw(st.booleans()):
        page = page[:draw(st.integers(0, len(page)))]
    return page.encode("utf-8")


_soup = st.lists(st.one_of(st.sampled_from(_SNIPPETS),
                           st.text(alphabet=_MANGLE_CHARS, max_size=6)),
                 max_size=30).map(lambda parts: "".join(parts).encode())


# one hand-written page per shape, so each is checked on every run
_HAND_MANGLED = [
    b"<p>1 < 2 &amp; 3<4 and a<b</p><p>x <</p>",
    b"<p>t</p><p>u<!-- open comment",
    b"<p>t<!-- open > still text</p><p>v",
    b"<p>tag at EOF <div",
    b'<p>attr at EOF <a href="x',
    b"<p>a</p ><p>b</P\n></ p><p>c",
    b"<p>a<br/>b<div/>c<p/>d<script/>e</p>",
    b"<P>up</P><DIV ABOUT='#S4'><H2>4. Up</H2><LI>it</LI></DIV>",
    b"<p>x<SCRIPT>a</p></SCRIPT>y</p><STYLE>p{}</Style >z",
    b"<p>&#65;<b>&#x42</b>&amp<i>&lt;p&gt;</i>&notin;&copy</p>",
    b"<p>x <a&amp;\x00b> y</p>",
    b'<div about="#S2"><p>x<script>if(a<b)"</div><p>"</script>y</p></div>'
    b"<p>z",
    b"<p>a<script>document.write('<div about=\"#S9\">')",
    b'<div class="header"><p>Obsoletes: 7<div about="#S1.2"><h3>1.2. T',
]


# -- tests -------------------------------------------------------------------

@pytest.mark.parametrize("page", _FIXTURE_PAGES + _GOLDEN_PAGES)
def test_same_as_frozen_on_fixture_and_golden_pages(page):
    _assert_same(page)


@pytest.mark.parametrize("page", _HAND_MANGLED)
def test_same_as_frozen_on_hand_mangled_pages(page):
    _assert_same(page)


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_pages())
def test_same_as_frozen_on_mangled_pages(page):
    _assert_same(page)


@settings(max_examples=400, deadline=None)
@given(_soup)
def test_same_as_frozen_on_tag_soup(page):
    _assert_same(page)


def test_inputs_that_crashed_the_frozen_version_parse():
    """``<![`` with no known keyword and a valueless ``about`` raised
    in the stdlib-parser version, failing the whole extract task."""
    for html, crash in [(b"<p>a <![ foo ]> b</p>", AssertionError),
                        (b"<p>a<![foo]]>b</p>", AssertionError),
                        (b"<div about><p>x</p></div>", AttributeError)]:
        with pytest.raises(crash):
            _frozen_parse_page(html)
    assert parse_page(b"<p>a <![ foo ]> b</p>")["text"] == "a b"
    assert parse_page(b"<p>a<![foo]]>b</p>")["text"] == "ab"
    got = parse_page(b"<div about><p>x</p></div>")
    assert got["text"] == "x" and got["sections"] == []
