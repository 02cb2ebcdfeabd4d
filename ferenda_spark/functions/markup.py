"""One HTML tokenizer for every reader of page markup.

``events`` reads a page with one compiled regex, ``_TOKEN_RE``, whose
``finditer`` pass yields start, end and self-closing tags and skips
comments, declarations, marked sections and processing instructions.
It reads markup, malformed markup included, as the standard library's
tolerant HTML parser does (tests/test_markup_differential.py records
that parser's events as the expected value), with three differences:
a ``<![`` without a marked-section keyword is a bogus comment up to
the next ``>`` where that parser raises, a text run is one event where
that parser splits it at a bare ``<``, and the raw text of a script or
style element without an end tag runs to the end of the page.

The page text (extract), anchor text (anchors), main content
(content), and microdata, RDFa and head metadata (structured_data) are
each one loop over these events. ``page_rows`` is the Arrow pass every
per-page reader of (url, html) runs in.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

# event kinds: a self-closing tag is a start and an end in one event
DATA, START, END = 0, 1, 2
SELF_CLOSING = START | END


def _ci(word: str) -> str:
    """An ASCII-only case-insensitive pattern for ``word`` (``re.I``
    would also match ``ſ`` for ``s``)."""
    return "".join(f"[{c.lower()}{c.upper()}]" for c in word)


# One attribute of a start tag: a name, an optional value (quoted, or
# bare up to whitespace or ">"), then separators.
_ATTR_NAME = r"""(?<=['"\s/])[^\s/>][^\s/=>]*"""
_ATTR_VALUE = r"""'[^']*'|"[^"]*"|(?!['"])[^>\s]*"""
_ATTR_SEP = r"(?:\s|/(?!>))*"
_ATTR = rf"{_ATTR_NAME}(?:\s*=+\s*(?:{_ATTR_VALUE}))?{_ATTR_SEP}"
_ATTR_RE = re.compile(rf"({_ATTR_NAME})(\s*=+\s*({_ATTR_VALUE}))?{_ATTR_SEP}")
_MARKED = "|".join(map(_ci, ("temp", "cdata", "ignore", "include", "rcdata")))
_MS_MARKED = "|".join(map(_ci, ("if", "else", "endif")))
_NAME_END = r"(?![-_.a-zA-Z0-9])"

# Every markup token, tried at each "<" in this order; text between
# tokens is data.
# - ``start``: a start tag (``tag`` name, ``lead`` separators, ``attrs``,
#   ``close`` ">" or "/>"). Without a close it is a malformed tag,
#   literal text up to the character that ends it.
# - ``endtag``: an end tag's ``end``/``end2`` name; with neither it is
#   an ignored "</>" or bogus comment.
# - comments, marked sections, declarations and processing
#   instructions: ignored.
# - ``text``: a construct left open ("<!-- x", '<a href="'), data up to
#   the next ">". A "<" followed by anything else is data.
_TOKEN_RE = re.compile(
    r"<(?:"
    r"(?P<start>(?>(?P<tag>[a-zA-Z][^\t\n\r\f />\x00]*)(?P<lead>[\s/]*)"
    r"(?P<attrs>(?:" + _ATTR + r")*)\s*)"
    r"(?:(?P<close>/?>)|(?=[^a-zA-Z=/>])))"
    r"|(?P<endtag>/(?:\s*(?P<end>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|(?P<end2>[a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>|[^>]*>))"
    r"|!--[\s\S]*?--\s*>"
    r"|!\[(?:" + _MARKED + ")" + _NAME_END + r"[\s\S]*?\]\s*\]\s*>"
    r"|!\[(?:" + _MS_MARKED + ")" + _NAME_END + r"[\s\S]*?\]\s*>"
    r"|!(?!--|\[(?:" + _MARKED + "|" + _MS_MARKED + ")" + _NAME_END
    + r")[^>]*>"
    r"|\?[^>]*>"
    r"|(?P<text>[a-zA-Z/!?][^>]*>)"
    r")")
# the end tag of a script or style element's raw text
_RAW_END_RE = {tag: re.compile(r"</\s*" + _ci(tag) + r"\s*>")
               for tag in ("script", "style")}


def events(text: str) -> Iterator[tuple[int, str, re.Match | None]]:
    """The page as (kind, value, match) events in document order:
    ``START`` and ``SELF_CLOSING`` (lower-cased tag, its token, which
    ``attrs`` reads), ``END`` (lower-cased tag, None) and ``DATA``
    (text, None). Data between tags is unescaped; a malformed start tag
    reads as its own text, kept as written.

    The raw text of a script or style element is one data event, kept
    as written, up to its end tag or to the end of the page when it has
    none."""
    pos, n = 0, len(text)
    while True:
        for m in _TOKEN_RE.finditer(text, pos):
            i = m.start()
            if i > pos:
                yield DATA, unescape(text[pos:i]), None
            pos = m.end()
            kind = m.lastgroup
            if kind == "start":
                close = m.group("close")
                if close is None:
                    yield DATA, m.group(), None
                    continue
                tag = m.group("tag").lower()
                # "<br/>" self-closes: a "/" before ">" that no
                # attribute value took
                if close == "/>" or (m.start("attrs") == m.end("attrs")
                                     and m.group("lead").endswith("/")):
                    yield SELF_CLOSING, tag, m
                    continue
                yield START, tag, m
                if tag in _RAW_END_RE:
                    e = _RAW_END_RE[tag].search(text, pos)
                    raw_end = n if e is None else e.start()
                    if raw_end > pos:
                        yield DATA, text[pos:raw_end], None
                    if e is None:
                        return
                    yield END, tag, None
                    pos = e.end()
                    break  # tokenize on from the end tag
            elif kind == "endtag":
                tag = m.group("end") or m.group("end2")
                if tag is not None:
                    yield END, tag.lower(), None
            elif kind == "text":
                yield DATA, unescape(m.group()), None
        else:
            if pos < n:
                yield DATA, unescape(text[pos:]), None
            return


def attrs(m: re.Match) -> dict:
    """The attributes of the start tag ``m``: lower-cased names,
    unquoted and unescaped values, ``None`` for a name without a value;
    the last of a repeated name wins."""
    text, start, end = m.string, m.start("attrs"), m.end("attrs")
    out = {}
    while start < end:
        a = _ATTR_RE.match(text, start)
        name, rest, value = a.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = unescape(value)
        out[name.lower()] = value
        start = a.end()
    return out


def page_rows(pages: DataFrame, read: Callable[[str, str], list[dict]],
              schema: str, html_col: str = "html") -> DataFrame:
    """pages(url, ``html_col``) → the rows ``read(url, html)`` gives
    for each page, as ``schema`` (a flat DDL string): one stateless
    Arrow ``mapInPandas`` pass, no shuffle. A binary ``html`` is
    decoded as UTF-8 with errors replaced."""
    cols = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for url, html in zip(pdf["url"], pdf[html_col]):
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                rows.extend(read(url, html))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", html_col).mapInPandas(batches, schema=schema)
