"""Main-content extraction from wild HTML by block text density.

extract.py reproduces the reference's parse byte-identically for
DOCUMENT pages (the pipeline's own corpus contract).  Wild
Common-Crawl pages need the other extractor: the
Readability/jusText/trafilatura-class heuristic that separates the
article from its chrome — navigation, footers, related-links rails,
cookie banners — before any text-quality scoring or dedup sees it.
Boilerplate that survives extraction poisons everything downstream
(n-gram dedup keys on menu text shared by every page of a site;
quality classifiers reward pages for their footers), which is why
every published curation pipeline strips it first.

Deterministic block model (no per-site tuning, no randomness):

- the page is segmented into text BLOCKS at block-level element
  boundaries (``p``/``div``/``li``/``h1``-``h6``/``td``/
  ``blockquote``/``article``/``section``/``pre``, both open and
  close flush the current run);
- entire subtrees under chrome containers (``nav``, ``header``,
  ``footer``, ``aside``, ``form``, ``noscript``, and the whole ``head`` —
  the title is metadata, harvested by structured_data.head_meta) and raw-text
  elements (``script``, ``style``, ``template``) are dropped
  wholesale — tag semantics beat any density score;
- per block: whitespace-normalized text, its length, and the
  portion of it contributed inside ``<a>`` elements (anchor chars);
- a block is CONTENT iff ``len(text) >= min_block_chars`` (default
  25 — shorter runs are buttons/labels) AND ``anchor_chars <=
  max_link_density * len(text)`` (default 1/3 — the jusText link
  density bound; a related-links rail is nearly 100% anchor text);
- ``content`` = kept blocks joined by ``\\n`` in document order,
  plus the audit counters (kept/dropped blocks, content/total
  chars) that back a content-ratio quality signal.

One stateless Arrow ``mapInPandas`` pass over (url, html) — the
extract.py scan shape, no shuffle; at 10^12 pages this pipelines
with the other page-level harvesters.  The main_content_docs gate
synthesizes chrome-laden pages arithmetically and restates the
surviving content string per page in SQL, so the tag rules, the
length floor, the density bound and the join order are all pinned.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

CONTENT_SCHEMA = ("url string, content string, n_kept int, "
                  "n_dropped int, content_chars long, total_chars long")

_BLOCK_TAGS = {"p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
               "td", "th", "blockquote", "article", "section", "pre",
               "ul", "ol", "table", "tr", "body", "main", "figure",
               "figcaption", "dd", "dt", "dl"}
_DROP_CONTAINERS = {"head", "nav", "header", "footer", "aside",
                    "form", "noscript"}
_RAW_SKIP = {"script", "style", "template"}
_VOID = {"br", "hr", "img", "meta", "link", "input", "area", "base",
         "source", "track", "embed", "wbr", "col", "param"}


def _norm(text: str) -> str:
    return " ".join(text.split())


class _ContentParser(HTMLParser):
    def __init__(self, min_block_chars: int,
                 max_link_density: float) -> None:
        super().__init__(convert_charrefs=True)
        self.min_chars = min_block_chars
        self.max_ld = max_link_density
        self.drop_depth = 0      # inside nav/header/footer/...
        self.raw_depth = 0       # inside script/style/template
        self.anchor_depth = 0
        self.parts: list[str] = []
        self.anchor_chars = 0
        self.kept: list[str] = []
        self.n_kept = 0
        self.n_dropped = 0
        self.content_chars = 0
        self.total_chars = 0

    def _flush(self) -> None:
        text = _norm("".join(self.parts))
        anchor = self.anchor_chars
        self.parts = []
        self.anchor_chars = 0
        if not text:
            return
        self.total_chars += len(text)
        if (len(text) >= self.min_chars
                and anchor <= self.max_ld * len(text)):
            self.kept.append(text)
            self.n_kept += 1
            self.content_chars += len(text)
        else:
            self.n_dropped += 1

    def handle_starttag(self, tag, attrs):
        if tag in _VOID:
            return
        if tag in _RAW_SKIP:
            self.raw_depth += 1
            return
        if tag in _DROP_CONTAINERS:
            self._flush()
            # a block drop container terminates any open inline
            # anchor (the HTML content model forbids <a> around
            # nav/header/...): without this reset an </a> swallowed
            # inside the dropped subtree (the early return below
            # precedes the anchor branch) would leave anchor_depth
            # stuck > 0 and count ALL later prose as link text
            self.anchor_depth = 0
            self.drop_depth += 1
            return
        if self.drop_depth or self.raw_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self.anchor_depth += 1

    def handle_endtag(self, tag):
        if tag in _RAW_SKIP:
            self.raw_depth = max(0, self.raw_depth - 1)
            return
        if tag in _DROP_CONTAINERS:
            self.drop_depth = max(0, self.drop_depth - 1)
            return
        if self.drop_depth or self.raw_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self.anchor_depth = max(0, self.anchor_depth - 1)

    def handle_data(self, data):
        if self.drop_depth or self.raw_depth:
            return
        self.parts.append(data)
        if self.anchor_depth:
            # count normalized-ish weight: raw chars minus the
            # whitespace runs _norm would collapse is close enough —
            # use the normalized length of the fragment
            self.anchor_chars += len(_norm(data))


def extract_content(url: str, html: str, min_block_chars: int = 25,
                    max_link_density: float = 1 / 3) -> dict:
    """Pure-Python twin: one page → CONTENT_SCHEMA keys."""
    parser = _ContentParser(min_block_chars, max_link_density)
    try:
        parser.feed(html or "")
        parser.close()
    except Exception:
        pass  # keep what was extracted before the breakage
    parser._flush()
    return {"url": url, "content": "\n".join(parser.kept),
            "n_kept": parser.n_kept, "n_dropped": parser.n_dropped,
            "content_chars": parser.content_chars,
            "total_chars": parser.total_chars}


MIN_BLOCK_CHARS = 25


def main_content(pages: DataFrame,
                 max_link_density: float = 1 / 3) -> DataFrame:
    """pages(url, html) → CONTENT_SCHEMA — one stateless Arrow
    pass, no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "content", "n_kept", "n_dropped",
                "content_chars", "total_chars"]
        for pdf in it:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                rows.append(extract_content(
                    url, html, MIN_BLOCK_CHARS, max_link_density))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(
        batches, schema=CONTENT_SCHEMA)
