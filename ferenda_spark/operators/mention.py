"""Mention/citation recognition over document text: per-fragment
rows and the str/link citation segmentation.

The Spark restatement of the reference's citation grammar stack
(ferenda/citationparser.py:10-165 scanString over every string node;
ferenda/citationpatterns.py:16-36 url grammar with trailing-punctuation
exclusion; ferenda/sources/tech/rfc.py:430-452 ``section N.N of
[RFC X]`` grammar; ferenda/sources/legal/se/legalref.py:603-608
``currentlynamedlaws`` within-document alias state).

Citation *triples* are built by operators/fused.py from the grammar
registry (grammar/citations.py): every class in one Column projection,
the stateful short-form class in the same per-page array. This module
holds the segmentation shape (``segment_text``/``segment_tree``/
``citation_segments``): the same registry's Python formatters split a
text into str and link segments. The within-document alias state
never crosses documents, so it is a per-row map (the grammar's
``alias_map``, last-definition-wins) projected before the fragment
explode.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import BASE

TRAILING_PUNCT_RE = r"[.,;:!?)\]]+$"


def _fragments(extracted: DataFrame) -> DataFrame:
    """Explode docs to (url, frag_uri, text, aliases) rows."""
    from ferenda_spark.grammar.citations import with_aliases
    docs = with_aliases(extracted.filter(F.col("is_doc")))
    sec_rows = docs.select(
        "url", "aliases", F.explode("sections").alias("sec")
    ).select(
        "url", "aliases",
        F.concat(F.col("url"), F.lit("#S"), F.col("sec.ordinal")
                 ).alias("frag_uri"),
        F.col("sec.text").alias("text"))
    # Document-level row: citations in non-section prose attribute to
    # the page URI itself (pages without section structure still cite).
    doc_rows = docs.select(
        "url", "aliases", F.col("url").alias("frag_uri"),
        F.col("preamble").alias("text"))
    return sec_rows.unionByName(doc_rows)


# -- citation segmentation (the golden <str>/<Link> shape) ------------------

_ALIAS_ONLY_RE = re.compile(r"^\[([A-Z]{3,8})\]$")
_TRAIL_RE = re.compile(TRAILING_PUNCT_RE)
_NUM_RE = re.compile(r"\d+")

SEGMENTS_SCHEMA = ("frag_uri string, "
                   "segments array<struct<kind:string, text:string, "
                   "uri:string>>")


def _grammar():
    """Registry + master segmentation regex (built lazily, cached)."""
    global _G
    try:
        return _G
    except NameError:
        pass
    from ferenda_spark.grammar.citations import (
        ALIAS_MENTION, CLASSES, URL,
    )
    master = re.compile("|".join(
        [f"(?:{c.pattern})" for c in CLASSES]
        + [ALIAS_MENTION.pattern, URL.pattern]))
    compiled = [(c, re.compile(c.pattern)) for c in CLASSES]
    _G = (master, compiled)
    return _G


def _list_segments(tok: str, span: tuple[int, int],
                   uris: list[str]) -> list[dict]:
    """Distributed-list markup: each number inside ``span`` becomes
    its own Link (sharing any bound outer context through the class
    formatter, in ``uris`` order), separators and the context tail
    stay str (format_tokentree multi-link case; the reference's
    distributed-list markup, legalref.py find_attributes)."""
    span_s, span_e = span
    segs, pos, i = [], 0, 0
    for nm in _NUM_RE.finditer(tok[span_s:span_e]):
        s, e = nm.start() + span_s, nm.end() + span_s
        if s > pos:
            segs.append({"kind": "str", "text": tok[pos:s], "uri": None})
        segs.append({"kind": "link", "text": nm.group(0), "uri": uris[i]})
        i += 1
        pos = e
    if pos < len(tok):
        segs.append({"kind": "str", "text": tok[pos:], "uri": None})
    return segs


def _token_segments(tok: str, aliases: dict) -> list[dict] | None:
    """One master-regex token → its link segment(s); None = leave as
    plain text (unresolvable alias)."""
    from ferenda_spark.functions.text import strip_leading_zeros
    _, compiled = _grammar()
    for cls, crx in compiled:
        fm = crx.fullmatch(tok)
        if fm is None:
            continue
        uris = cls.py_formatter(fm)
        if cls.name == "nested_struct":
            from ferenda_spark.grammar.citations import NESTED_ITEMS_RE
            items = re.search(NESTED_ITEMS_RE, tok)
            if items is not None:
                # the leading item list distributes over the SHARED
                # chapter/section context (nested sfsrefs markup)
                return _list_segments(tok, items.span(1), uris)
            return [{"kind": "link", "text": tok, "uri": uris[0]}]
        list_group = {"rfc_list": "list", "eu_article": "arts"}.get(cls.name)
        if list_group is not None:
            gi = cls.compiled.group_index(list_group)
            return _list_segments(tok, fm.span(gi), uris)
        return [{"kind": "link", "text": tok, "uri": uris[0]}]
    am = _ALIAS_ONLY_RE.fullmatch(tok)
    if am:
        num = aliases.get(am.group(1))
        if num is None:
            return None  # unresolvable alias stays plain text
        return [{"kind": "link", "text": tok,
                 "uri": f"{BASE}res/rfc/{strip_leading_zeros(num)}"}]
    # bare URL; exclude trailing punctuation from the link
    trail = _TRAIL_RE.search(tok)
    if trail:
        tok = tok[:trail.start()]
    return [{"kind": "link", "text": tok, "uri": tok}]


def segment_text(text: str, aliases: dict[str, str]) -> list[dict]:
    """Split one text into str/link segments — the reference's
    CitationParser.parse_string semantics (citationparser.py:65-96):
    unmatched spans stay ``str`` segments, matches become ``link``
    segments carrying the minted URI.  Every grammar-registry class
    participates (the py_formatter twins of the Column formatters)."""
    master, _ = _grammar()
    out: list[dict] = []
    pos = 0
    for m in master.finditer(text):
        segs = _token_segments(m.group(0), aliases)
        if segs is None:
            continue
        if m.start() > pos:
            out.append({"kind": "str", "text": text[pos:m.start()],
                        "uri": None})
        out.extend(segs)
        consumed = sum(len(s["text"]) for s in segs)
        pos = m.start() + consumed
    if pos < len(text):
        out.append({"kind": "str", "text": text[pos:], "uri": None})
    return out


def segment_tree(node: dict, aliases: dict[str, str]) -> dict:
    """Recursive citation markup over a nested element tree — the
    reference's CitationParser.parse_recursive (citationparser.py:
    98-165): walk an element whose children are strings or nested
    elements, replace each string child with its str/link segments,
    recurse into element children, preserving structure.

    Node shape: ``{"tag": str, ..., "children": [str | node]}`` —
    the dict form of the reference's element tree.
    """
    out_children: list = []
    for ch in node.get("children", []):
        if isinstance(ch, str):
            out_children.extend(segment_text(ch, aliases))
        else:
            out_children.append(segment_tree(ch, aliases))
    return {**node, "children": out_children}


def citation_segments(extracted: DataFrame) -> DataFrame:
    """Per-fragment str/Link segmentation rows (Arrow-batched; alias
    state is per-document, resolved before the per-fragment scan —
    the FIXTURES.md §4 golden shape)."""
    frags = _fragments(extracted).select("frag_uri", "text", "aliases")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for frag_uri, text, aliases in zip(
                    pdf["frag_uri"], pdf["text"], pdf["aliases"]):
                rows.append({
                    "frag_uri": frag_uri,
                    "segments": segment_text(text or "",
                                             dict(aliases or {})),
                })
            yield pd.DataFrame(rows)

    return frags.mapInPandas(run, schema=SEGMENTS_SCHEMA)
