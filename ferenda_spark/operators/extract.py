"""Extract stage: HTML bytes → text + header k/v + section rows.

The single Python-side stage of the pipeline, run as ``mapInPandas``
(Arrow batches, rows parsed in a loop per batch — no per-row Python at
the Spark API layer).

``parse_page`` is one loop over the shared tokenizer's events
(functions/markup.py): a small state machine keeps what the text
needs, namely block elements, ``div`` ``about``/``class`` (the only
attributes it parses), ``head``/``body`` and the DROP_TAGS subtrees,
whose script and style raw text it drops with the rest.
tests/test_parse_page_differential.py holds the version it replaced,
built on the standard library's HTML parser, and compares the two. Where that version raised,
on a ``<![`` without a marked-section keyword and on a ``div``
``about`` without a value, this one reads a bogus comment and an empty
value.

Semantics are modeled on the reference's soup → element-tree → plain
text chain (/root/reference/ferenda/elements/html.py:23-71
``elements_from_soup``: drop script/style/font/map/center;
/root/reference/ferenda/elements/elements.py:249-261 ``as_plaintext``:
whitespace-normalize each chunk, join non-empty chunks with single
spaces; /root/reference/ferenda/sources/tech/rfc.py:462-467 backspace
overstrike strip; /root/reference/ferenda/documentrepository.py:1277-1317
``parse_metadata_from_soup`` header extraction). The per-url output
``text`` is byte-identical to the reference-semantics extraction — the
BASELINE per-row invariant.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ferenda_spark.functions.markup import DATA, END, START, attrs, events
from ferenda_spark.functions.text import (
    clean_xml_chars,
    normalize_space,
    strip_backspace,
)
from ferenda_spark.operators.linker import label_resolver

DROP_TAGS = frozenset({"script", "style", "font", "map", "center"})
BLOCK_TAGS = frozenset({"p", "h1", "h2", "h3", "h4", "h5", "h6", "li"})

_HEADER_KV_RE = re.compile(
    r"^(Request for Comments|Category|Updates|Obsoletes|STD|BCP): (.*)$")
_DATE_RE = re.compile(
    r"^(January|February|March|April|May|June|July|August|September|"
    r"October|November|December) (\d{4})$")
_SECTION_PREFIX_RE = re.compile(r"^(\d+(?:\.\d+)*)\. ")

EXTRACT_SCHEMA = (
    "url string, lang string, is_doc boolean, text string, title string, "
    "preamble string, header map<string,string>, "
    "sections array<struct<ordinal:string, heading:string, text:string>>, "
    "publisher_uri string"
)


def _page_chunks(text: str) -> list[tuple[str | None, bool, str]]:
    """(section ordinal, is_header, normalized chunk) for each text
    chunk of an HTML page, in reading order.

    Chunks are the texts of block elements (p, h1-h6, li) outside
    <head>, with DROP_TAGS subtrees removed. Each chunk is tagged with
    the section ordinal of the nearest enclosing ``about="#S..."`` div
    (None for document-level chunks) and whether a ``class="header"``
    div encloses it. Blocks still open at the end of a truncated page
    end there.
    """
    # body content is implicit per the HTML spec (the <body> tag is
    # optional and missing from plenty of truncated real-web pages):
    # collect everywhere EXCEPT inside <head>
    in_head = False
    in_body = True
    skip = 0
    # stack of open block-element text buffers (blocks nest: li > p;
    # a single buffer dropped the outer block's text)
    blocks: list[list[str]] = []
    # div kinds: ("sec", ordinal) | ("hdr", None) | ("plain", None)
    divs: list[tuple[str, str | None]] = []
    section: str | None = None
    in_header = False
    chunks: list[tuple[str | None, bool, str]] = []

    def emit(raw: str) -> None:
        chunk = normalize_space(clean_xml_chars(strip_backspace(raw)))
        if chunk:
            chunks.append((section, in_header, chunk))

    for kind, value, m in events(text):
        if kind == DATA:
            if in_body and not in_head and not skip and blocks:
                blocks[-1].append(value)
            continue
        # a self-closing tag runs the start branch, then the end branch
        if kind & START:
            collecting = in_body and not in_head and not skip
            if value == "head":
                in_head = True
            elif value == "body":
                in_head = False
                in_body = True
            elif value in DROP_TAGS:
                skip += 1
            elif not collecting:
                pass
            elif value == "div":
                a = attrs(m)
                about = a.get("about") or ""
                if about.startswith("#S"):
                    divs.append(("sec", about[2:]))
                    section = about[2:]
                elif a.get("class") == "header":
                    divs.append(("hdr", None))
                    in_header = True
                else:
                    divs.append(("plain", None))
            elif value in BLOCK_TAGS:
                if blocks and blocks[-1]:
                    # a block opening inside a block: flush the outer
                    # prefix as its own chunk FIRST so chunks keep
                    # reading order ("intro" before the nested "body",
                    # the reference's as_plaintext order)
                    emit("".join(blocks[-1]))
                    blocks[-1] = []
                blocks.append([])
        if kind & END:
            collecting = in_body and not in_head and not skip
            if value == "head":
                in_head = False
            elif value == "body":
                in_body = False
            elif value in DROP_TAGS:
                skip = max(0, skip - 1)
            elif not collecting:
                # end tags INSIDE a dropped subtree must not touch any
                # stack (children of font/map/center are markup)
                pass
            elif value == "div":
                if divs:
                    div_kind, _ = divs.pop()
                    if div_kind == "sec":
                        section = next((v for k, v in reversed(divs)
                                        if k == "sec"), None)
                    elif div_kind == "hdr":
                        # header-ness ends only when no header div
                        # remains open (a nested plain div must NOT
                        # clear it)
                        in_header = any(k == "hdr" for k, _ in divs)
            elif value in BLOCK_TAGS and blocks:
                emit("".join(blocks.pop()))
    while blocks:
        emit("".join(blocks.pop()))
    return chunks


def parse_page(html_bytes: bytes) -> dict:
    """Parse one page's bytes into text / title / header / sections."""
    chunks = _page_chunks(html_bytes.decode("utf-8", errors="replace"))
    text = " ".join(c for _, _, c in chunks)
    header: dict[str, str] = {}
    title = None
    preamble: list[str] = []  # doc-level (non-header, non-section) chunks
    sections: list[dict] = []
    sec_index: dict[str, dict] = {}

    for ordinal, in_header, chunk in chunks:
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
                title = chunk  # first non-header doc-level block = h1 title
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


DOC_URL_RE = r"^https://example\.org/res/rfc/\d+$"


def extract(pages: DataFrame, doc_url_regex: str = DOC_URL_RE,
            entity_labels: list | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text?, lang) → extracted DataFrame.

    Reads only (url, html, lang) — column pruning keeps the scan
    narrow. Document discovery (reference: basefile_regex link
    matching, documentrepository.py:892-935) is the ``is_doc`` flag.

    ``entity_labels`` (list of (label, uri), broadcast-sized) folds
    publisher entity-linking into this single Python stage
    (``publisher_uri`` column): each header ``Publisher`` goes through
    :func:`~ferenda_spark.operators.linker.label_resolver`, the rule
    ``link_labels`` applies, without its miss cap.  Without it the
    column is null.

    An ``input_hash`` column on ``pages`` (graph.with_input_hash) is
    passed through as the last output column, so each page's lineage
    rides along with its parse instead of being joined back by url.
    NULL ``html`` parses as empty content, as with_input_hash hashes it.
    """
    url_re = re.compile(doc_url_regex)
    keep_hash = "input_hash" in pages.columns
    src = pages.select("url", "html", "lang",
                       *(["input_hash"] if keep_hash else []))
    schema = EXTRACT_SCHEMA + (", input_hash string" if keep_hash else "")
    labels = entity_labels

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resolve = label_resolver(labels) if labels else None
        memo: dict = {}

        def publisher(label):
            # labels repeat heavily: memoized per task, in a bounded
            # table so task memory stays flat on open-domain text
            if label is None:
                return None
            norm = normalize_space(label)
            if norm in memo:
                return memo[norm]
            uri = resolve(norm)
            if len(memo) < 1_000_000:
                memo[norm] = uri
            return uri

        for pdf in batches:
            out = []
            for url, html_bytes, lang in zip(pdf["url"], pdf["html"],
                                             pdf["lang"]):
                parsed = parse_page(bytes(html_bytes or b""))
                out.append({
                    "url": url,
                    "lang": lang,
                    "is_doc": bool(url_re.match(url)),
                    "text": parsed["text"],
                    "title": parsed["title"],
                    "preamble": parsed["preamble"],
                    "header": parsed["header"],
                    "sections": parsed["sections"],
                    "publisher_uri": (
                        publisher(parsed["header"].get("Publisher"))
                        if resolve else None),
                })
            df = pd.DataFrame(out)
            if keep_hash:
                df["input_hash"] = pdf["input_hash"].to_numpy()
            yield df

    return src.mapInPandas(run, schema=schema)
