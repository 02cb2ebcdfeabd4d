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
- a block is CONTENT iff ``len(text) >= MIN_BLOCK_CHARS`` (25 —
  shorter runs are buttons/labels) AND ``anchor_chars <=
  MAX_LINK_DENSITY * len(text)`` (1/3 — the jusText link density
  bound; a related-links rail is nearly 100% anchor text), where a
  text run between two tags inside ``<a>`` counts its normalized
  length;
- ``content`` = kept blocks joined by ``\\n`` in document order,
  plus the audit counters (kept/dropped blocks, content/total
  chars) that back a content-ratio quality signal.

``extract_content`` is one loop over the shared tokenizer's events
(functions/markup.py), which reads no attribute for it.  One
stateless Arrow ``mapInPandas`` pass over (url, html) — the
extract.py scan shape, no shuffle; at 10^12 pages this pipelines
with the other page-level harvesters.  The main_content_docs gate
synthesizes chrome-laden pages arithmetically and restates the
surviving content string per page in SQL, so the tag rules, the
length floor, the density bound and the join order are all pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ferenda_spark.functions.markup import DATA, END, START, events, page_rows

CONTENT_SCHEMA = ("url string, content string, n_kept int, "
                  "n_dropped int, content_chars long, total_chars long")

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 1 / 3

_BLOCK_TAGS = {"p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
               "td", "th", "blockquote", "article", "section", "pre",
               "ul", "ol", "table", "tr", "body", "main", "figure",
               "figcaption", "dd", "dt", "dl"}
_DROP_CONTAINERS = {"head", "nav", "header", "footer", "aside",
                    "form", "noscript"}
_RAW_SKIP = {"script", "style", "template"}


def _norm(text: str) -> str:
    return " ".join(text.split())


def extract_content(url: str, html: str) -> dict:
    """One page → CONTENT_SCHEMA keys."""
    drop_depth = 0      # inside nav/header/footer/...
    raw_depth = 0       # inside script/style/template
    anchor_depth = 0
    parts: list[str] = []   # the open block's text
    run = 0                 # where the text since the last tag starts
    anchor_chars = 0
    kept: list[str] = []
    n_dropped = 0
    total_chars = 0

    def flush() -> None:
        nonlocal parts, anchor_chars, n_dropped, total_chars
        text = _norm("".join(parts))
        anchor = anchor_chars
        parts, anchor_chars = [], 0
        if not text:
            return
        total_chars += len(text)
        if (len(text) >= MIN_BLOCK_CHARS
                and anchor <= MAX_LINK_DENSITY * len(text)):
            kept.append(text)
        else:
            n_dropped += 1

    for kind, tag, _ in events(html or ""):
        if kind == DATA:  # ``tag`` is the text
            if not (drop_depth or raw_depth):
                parts.append(tag)
            continue
        if anchor_depth and run < len(parts):
            # link text: the normalized length of the whole text run
            # between two tags, however the tokenizer split it
            anchor_chars += len(_norm("".join(parts[run:])))
        if kind & START:
            if tag in _RAW_SKIP:
                raw_depth += 1
            elif tag in _DROP_CONTAINERS:
                flush()
                # a block drop container terminates any open inline
                # anchor (the HTML content model forbids <a> around
                # nav/header/...): without this reset an </a> swallowed
                # inside the dropped subtree (ignored below) would
                # leave anchor_depth stuck > 0 and count ALL later
                # prose as link text
                anchor_depth = 0
                drop_depth += 1
            elif drop_depth or raw_depth:
                pass
            elif tag in _BLOCK_TAGS:
                flush()
            elif tag == "a":
                anchor_depth += 1
        if kind & END:
            if tag in _RAW_SKIP:
                raw_depth = max(0, raw_depth - 1)
            elif tag in _DROP_CONTAINERS:
                drop_depth = max(0, drop_depth - 1)
            elif drop_depth or raw_depth:
                pass
            elif tag in _BLOCK_TAGS:
                flush()
            elif tag == "a":
                anchor_depth = max(0, anchor_depth - 1)
        run = len(parts)
    if anchor_depth and run < len(parts):
        anchor_chars += len(_norm("".join(parts[run:])))
    flush()
    return {"url": url, "content": "\n".join(kept),
            "n_kept": len(kept), "n_dropped": n_dropped,
            "content_chars": sum(map(len, kept)),
            "total_chars": total_chars}


def main_content(pages: DataFrame) -> DataFrame:
    """pages(url, html) → CONTENT_SCHEMA — one stateless Arrow
    pass, no shuffle."""
    return page_rows(pages, lambda url, html: [extract_content(url, html)],
                     CONTENT_SCHEMA)
