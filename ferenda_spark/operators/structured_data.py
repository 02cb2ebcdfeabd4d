"""schema.org JSON-LD structured-data extraction: pages → triples.

The Web Data Commons path: most structured knowledge on the open web
is embedded in pages as ``<script type="application/ld+json">``
blocks (schema.org markup), and a KG-construction job over a
Common-Crawl-style corpus harvests those blocks as ready-made triples
alongside the text-derived ones.  This is the *input-side* twin of
operators/render.py's RDFa output: the reference round-trips its
metadata through XHTML+RDFa pages (documentrepository.py:1277-1317
``parse_metadata_from_soup`` reads back what render wrote); here the
wild-web equivalent format is read instead.

Subset semantics (documented, fail-loud on the rest):

- every ld+json script block in the page is parsed independently; a
  block that is not valid JSON yields ONE error row (the warc.py /
  sitemaps.py contract) and never a task failure;
- a block is one node object or a top-level array of node objects
  (``@graph`` arrays likewise);
- subject = the node's ``@id``; an @id-less node gets the
  deterministic fragment IRI ``<page-url>#jsonld/<block>/<path>``
  (path = object keys / array ordinals from the block root), the
  skolemization answer rdf_serial.py uses for blank nodes — stable
  across partitions and replays because it derives only from the
  page url and the node's position;
- ``@type`` → one ``rdf:type`` triple per type; term expansion is
  CURIE-by-context: when the block's ``@context`` is a known
  vocabulary IRI (``CONTEXT_PREFIXES``, schema.org by default),
  compact terms become ``schema:Term`` / ``schema:property``;
  unknown contexts keep terms verbatim (never guessed);
- literals: strings (plain), numbers (``xsd:integer`` /
  ``xsd:double``), booleans (``xsd:boolean``), and
  ``{"@value": ..., "@language"/"@type": ...}`` objects; nested
  objects become an edge to the child node plus the child's own
  triples; arrays fan out one triple per element (order carried by
  the array ordinal in skolem paths only — RDF has no triple order);
- keyword keys other than the handled ones (``@context`` at block
  level) are skipped silently only for ``@context``; an unhandled
  ``@``-keyword inside a node yields an error row for the block
  (fail loud, the sparql.py parser contract).

Output shape is the engine's edge schema (subj, pred, obj,
obj_is_literal, obj_datatype, obj_lang) plus ``src_url`` and
``error``; one Arrow ``mapInPandas`` pass (``markup.page_rows``),
stateless per page, no shuffle — the same scan shape as extract.py, so
at 10^12 pages this runs inside the existing extract scan's budget.

The microdata, RDFa and head-metadata readers below are each one loop
over the shared tokenizer's events (functions/markup.py), the parse
extract.py runs; no markup, however malformed, raises in it, so a page
never loses the triples after a construct the tokenizer skips.
"""

from __future__ import annotations

import itertools
import json
import re
from urllib.parse import urljoin

from pyspark.sql import DataFrame

from ferenda_spark.functions.markup import (
    DATA,
    END,
    SELF_CLOSING,
    attrs,
    events,
    page_rows,
)

JSONLD_SCHEMA = ("src_url string, subj string, pred string, obj string, "
                 "obj_is_literal boolean, obj_datatype string, "
                 "obj_lang string, error string")

CONTEXT_PREFIXES = {
    "https://schema.org": "schema:",
    "http://schema.org": "schema:",
    "https://schema.org/": "schema:",
    "http://schema.org/": "schema:",
}

_SCRIPT_RE = re.compile(
    r"<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>"
    r"(.*?)</script>",
    re.IGNORECASE | re.DOTALL)

_KNOWN_KEYWORDS = {"@id", "@type", "@value", "@language", "@context",
                   "@graph"}


class _BlockError(ValueError):
    pass


def _expand(term: str, prefix: str | None) -> str:
    """Compact term → prefixed name under the block's context; terms
    that are already absolute IRIs or CURIE-looking stay verbatim."""
    if prefix is None or ":" in term or term.startswith("@"):
        return term
    return prefix + term


def _literal(value, lang=None):
    if isinstance(value, bool):
        return ("true" if value else "false", "xsd:boolean", None)
    if isinstance(value, int):
        return (str(value), "xsd:integer", None)
    if isinstance(value, float):
        return (repr(value), "xsd:double", None)
    return (str(value), None, lang)


def _walk(node: dict, subj_path: str, url: str, prefix: str | None,
          out: list) -> str:
    """Emit the triples of one node object; returns its subject."""
    if not isinstance(node, dict):
        raise _BlockError(f"node is {type(node).__name__}, not object")
    unknown = [k for k in node
               if k.startswith("@") and k not in _KNOWN_KEYWORDS]
    if unknown:
        raise _BlockError(f"unhandled keyword {unknown[0]!r}")
    subj = node.get("@id")
    if not isinstance(subj, str) or not subj:
        subj = f"{url}#jsonld/{subj_path}"
    types = node.get("@type", [])
    for t in types if isinstance(types, list) else [types]:
        if not isinstance(t, str):
            raise _BlockError("@type must be a string")
        out.append((subj, "rdf:type", _expand(t, prefix), False,
                    None, None))
    for key, value in node.items():
        if key in ("@id", "@type", "@context"):
            continue
        pred = _expand(key, prefix)
        values = value if isinstance(value, list) else [value]
        for i, v in enumerate(values):
            child_path = (f"{subj_path}/{key}/{i}"
                          if isinstance(value, list)
                          else f"{subj_path}/{key}")
            if isinstance(v, dict):
                if "@value" in v:
                    lit, dt, lang = _literal(
                        v["@value"], v.get("@language"))
                    if "@type" in v:
                        dt = _expand(str(v["@type"]), prefix)
                    out.append((subj, pred, lit, True, dt, lang))
                else:
                    child = _walk(v, child_path, url, prefix, out)
                    out.append((subj, pred, child, False, None, None))
            elif v is None:
                continue  # JSON null carries no triple
            else:
                lit, dt, lang = _literal(v)
                out.append((subj, pred, lit, True, dt, lang))
    return subj


def _row(url, subj=None, pred=None, obj=None, obj_is_literal=None,
         obj_datatype=None, obj_lang=None, error=None) -> dict:
    """One JSONLD_SCHEMA row of page ``url``: a triple or an error."""
    return {"src_url": url, "subj": subj, "pred": pred, "obj": obj,
            "obj_is_literal": obj_is_literal,
            "obj_datatype": obj_datatype, "obj_lang": obj_lang,
            "error": error}


def extract_jsonld(url: str, html: str) -> list[dict]:
    """All triples of all ld+json blocks of one page, JSONLD_SCHEMA
    keys; one error row per bad block."""
    rows: list[dict] = []
    for b, block in enumerate(_SCRIPT_RE.findall(html or "")):
        try:
            data = json.loads(block)
        except ValueError as exc:
            rows.append(_row(url, error=f"block {b}: json: {exc}"))
            continue
        ctx = data.get("@context") if isinstance(data, dict) else None
        prefix = (CONTEXT_PREFIXES.get(ctx)
                  if isinstance(ctx, str) else None)
        if isinstance(data, dict) and "@graph" in data:
            nodes = data["@graph"]
        else:
            nodes = data
        if not isinstance(nodes, list):
            nodes = [nodes]
        out: list[tuple] = []
        try:
            for n, node in enumerate(nodes):
                _walk(node, f"{b}" if len(nodes) == 1 else f"{b}/{n}",
                      url, prefix, out)
        except _BlockError as exc:
            rows.append(_row(url, error=f"block {b}: {exc}"))
            continue
        rows.extend(_row(url, *t) for t in out)
    return rows


def jsonld_triples(pages: DataFrame) -> DataFrame:
    """pages(url, html) → JSONLD_SCHEMA triples — one stateless Arrow
    pass (html may be binary or string), no shuffle."""
    return page_rows(pages, extract_jsonld, JSONLD_SCHEMA)


# ---- HTML microdata (itemscope/itemprop) -------------------------------
#
# The second leg of the Web Data Commons triad (microdata, JSON-LD,
# RDFa): schema.org markup embedded as element attributes rather than
# script blocks.  Subset semantics (documented, fail-loud on the
# rest), following the W3C microdata-to-RDF mapping:
#
# - an element with ``itemscope`` is an item; its ``itemtype`` IRIs
#   (space-separated, absolute) each yield one ``rdf:type`` triple,
#   contracted through CONTEXT_PREFIXES (schema.org → ``schema:``);
# - subject = ``itemid`` when present, else the deterministic
#   fragment ``<page-url>#md/<n>`` where n is the item's 0-based
#   pre-order ordinal among the page's items — stable across
#   partitions and replays (the skolemization contract shared with
#   extract_jsonld);
# - ``itemprop`` names expand under the item's vocabulary prefix
#   (from its first itemtype); names containing ``:`` or absolute
#   IRIs stay verbatim; multiple space-separated names fan out one
#   triple each;
# - property value by element kind: nested ``itemscope`` → edge to
#   the child item; ``meta`` → @content; ``a``/``area``/``link`` →
#   @href as a resource; ``img``/``audio``/``video``/``embed``/
#   ``iframe``/``source``/``track`` → @src as a resource; ``time`` →
#   @datetime else text; ``data``/``meter`` → @value; anything else →
#   concatenated descendant text, whitespace-normalized (plain
#   literal, no datatype — microdata values are strings);
# - ``itemref`` is out of subset → ONE error row for the page
#   element (never a task failure); an ``itemprop`` outside any open
#   item likewise errors loudly instead of being guessed at.
#
# Same scan shape as jsonld_triples: one stateless Arrow pass over
# (url, html), no shuffle — at 10^12 pages this shares the extract
# scan's budget.

_MD_RESOURCE_HREF = {"a", "area", "link"}
_MD_RESOURCE_SRC = {"img", "audio", "video", "embed", "iframe",
                    "source", "track"}
_MD_VOID = {"meta", "link", "img", "br", "hr", "input", "area",
            "base", "source", "track", "embed", "wbr", "col",
            "param"}

_VOCAB_PREFIXES = {
    "https://schema.org/": "schema:",
    "http://schema.org/": "schema:",
}


def _md_contract(iri: str) -> str:
    for base, pre in _VOCAB_PREFIXES.items():
        if iri.startswith(base) and len(iri) > len(base):
            return pre + iri[len(base):]
    return iri


def _md_norm(text: str) -> str:
    return " ".join(text.split())


def _vocab_of(types: list[str]) -> str | None:
    for t in types:
        for base, pre in _VOCAB_PREFIXES.items():
            if t.startswith(base):
                return pre
    return None


def _md_attr_value(tag: str, a: dict) -> tuple | None:
    """(obj, is_literal) for attribute-valued tags, else None."""
    if tag == "meta":
        return (a.get("content", ""), True)
    if tag in _MD_RESOURCE_HREF:
        return (a.get("href", ""), False)
    if tag in _MD_RESOURCE_SRC:
        return (a.get("src", ""), False)
    if tag == "time" and a.get("datetime"):
        return (a["datetime"], True)
    if tag in ("data", "meter") and a.get("value") is not None:
        return (a["value"], True)
    return None


def extract_microdata(url: str, html: str) -> list[dict]:
    """All microdata triples of one page, JSONLD_SCHEMA keys; one
    error row per out-of-subset construct."""
    n_items = 0
    items: list[tuple[str, str | None]] = []  # open (subj, vocab prefix)
    captures: list[list] = []   # open text captures: [subj, preds, parts]
    # per open element: (tag, pops_item, owns_capture)
    frames: list[tuple[str, bool, bool]] = []
    out: list[tuple] = []       # (subj, pred, obj, is_literal)
    errors: list[str] = []
    for kind, tag, m in events(html or ""):
        if kind == DATA:  # ``tag`` is the text
            for cap in captures:
                cap[2].append(tag)
            continue
        if kind == END:
            if not any(f[0] == tag for f in frames):
                continue  # stray close tag: ignore, never crash
            while frames:
                ftag, pops_item, owns_capture = frames.pop()
                if owns_capture:
                    subj, preds, parts = captures.pop()
                    text = _md_norm("".join(parts))
                    out.extend((subj, p, text, True) for p in preds)
                if pops_item and items:
                    items.pop()
                if ftag == tag:
                    break
            continue
        # a start tag; a void or self-closing one opens no element
        void = kind == SELF_CLOSING or tag in _MD_VOID
        a = {k: v or "" for k, v in attrs(m).items()}
        if "itemref" in a:
            errors.append(f"<{tag} itemref> out of subset")
            if not void:
                frames.append((tag, False, False))
            continue
        is_item = "itemscope" in a
        if is_item:
            subj = a.get("itemid") or f"{url}#md/{n_items}"
            n_items += 1
            types = a.get("itemtype", "").split()
            out.extend((subj, "rdf:type", _md_contract(t), False)
                       for t in types)
        owns_capture = False
        prop_attr = a.get("itemprop")
        if prop_attr is not None:
            names = prop_attr.split()
            if not items:
                errors.append(
                    f"<{tag} itemprop={prop_attr!r}> outside any item")
            elif names:
                psubj, pprefix = items[-1]
                preds = [n if pprefix is None or ":" in n else pprefix + n
                         for n in names]
                if is_item:
                    out.extend((psubj, p, subj, False) for p in preds)
                elif (av := _md_attr_value(tag, a)) is not None:
                    out.extend((psubj, p, *av) for p in preds)
                elif not void:
                    captures.append([psubj, preds, []])
                    owns_capture = True
        if not void:
            # a void or self-closing item has no content, so it opens
            # no item: only an element's end pops one
            if is_item:
                items.append((subj, _vocab_of(types)))
            frames.append((tag, is_item, owns_capture))
    return ([_row(url, *t) for t in out]
            + [_row(url, error=e) for e in errors])


def microdata_triples(pages: DataFrame) -> DataFrame:
    """pages(url, html) → JSONLD_SCHEMA triples from itemscope
    markup — one stateless Arrow pass, no shuffle."""
    return page_rows(pages, extract_microdata, JSONLD_SCHEMA)


# ---- RDFa-Lite reader ---------------------------------------------------
#
# The third leg of the Web Data Commons triad, and the one the
# reference itself round-trips through: ferenda serializes document
# metadata INTO XHTML+RDFa (documentrepository.py:1456-1680
# ``render_xhtml``) and parses it back out
# (documentrepository.py:1277-1317 ``parse_metadata_from_soup``,
# rdflib's RDFa plugin).  operators/render.py is this engine's
# writer; ``rdfa_triples`` below is the reader, so
# ``rdfa_triples(render_xhtml_pages(t, n)) == t ∪ types(n)`` is a
# testable identity (the rdfa_roundtrip_docs gate).
#
# Subset semantics (RDFa-Lite 1.1 + the handful of full-RDFa
# features the writer emits; documented, fail-loud on the rest):
#
# - attributes handled: ``about``, ``resource``, ``href``/``src``
#   (object IRIs, resolved against the page url), ``typeof``,
#   ``property``, ``rel``, ``content``, ``datatype``, ``vocab``,
#   ``prefix`` (``p: iri`` pairs) and legacy ``xmlns:p`` declarations,
#   ``lang``/``xml:lang`` (innermost wins; plain literals carry it);
# - the initial subject is the page url (the RDFa base); ``about``
#   sets the subject for its element and subtree; a bare ``resource``
#   (no property/rel) likewise re-roots the subtree;
# - ``property`` takes its object from ``content`` (literal,
#   ``datatype`` respected), else ``resource``/``href``/``src``
#   (IRI), else — when ``typeof`` opens a new node here — the chained
#   blank node, else the element's EXACT text content (no whitespace
#   normalization: XHTML+RDFa is a precise serialization, unlike
#   scraped microdata, and exactness is what makes the write→read
#   roundtrip byte-faithful);
# - ``rel`` requires an IRI object on the same element
#   (``href``/``resource``/``src``); a hanging ``rel`` (incomplete
#   triple) is out of subset → ONE error row;
# - ``typeof`` types the element's subject — ``about`` if present,
#   the chained blank node under ``property``, the ``resource``
#   object, else a fresh deterministic blank node
#   ``<page-url>#rdfa/<n>`` (pre-order ordinal; the skolemization
#   contract shared with extract_jsonld/extract_microdata) which
#   also becomes the subtree's subject;
# - term resolution: absolute IRIs contract through
#   CONTEXT_PREFIXES (schema.org → ``schema:``); CURIEs whose prefix
#   is declared (``prefix``/``xmlns:``) stay verbatim — the engine's
#   CURIE edge convention; an UNDECLARED CURIE prefix is an error
#   row (fail loud, never guessed); bare terms expand under the
#   in-scope ``vocab`` when one is set, else stay verbatim (the
#   writer's body ``typeof`` rides plain node-kind terms — the
#   reference's elements.py class names — with no vocab);
# - ``rev`` and ``inlist`` are out of subset → ONE error row each.
#
# Same scan shape as the other two readers: one stateless Arrow
# ``mapInPandas`` pass over (url, html), no shuffle.

_PREFIX_DECL_RE = re.compile(r"([A-Za-z][\w.-]*):\s+(\S+)")


def _rdfa_terms(value: str, what: str, prefixes: dict, vocab: str | None,
                errors: list) -> list[str]:
    """Space-separated term list → engine names; undeclared CURIE
    prefixes error instead of being guessed at."""
    names = []
    for t in value.split():
        if "://" in t:
            names.append(_md_contract(t))
        elif ":" in t:
            if t.split(":", 1)[0] in prefixes:
                names.append(t)
            else:
                errors.append(f"{what}={t!r}: undeclared CURIE prefix")
        else:
            names.append(_md_contract(vocab + t) if vocab else t)
    return names


def extract_rdfa(url: str, html: str) -> list[dict]:
    """All RDFa-Lite triples of one page, JSONLD_SCHEMA keys; one
    error row per out-of-subset construct."""
    prefixes: dict[str, str] = {}
    bnodes = itertools.count()
    subjects: list[str] = [url]
    langs: list = [None]
    vocabs: list = [None]
    # open text captures: [subj, preds, datatype, lang, parts]
    captures: list[list] = []
    # per open element: (tag, pops_subj, pops_lang, pops_vocab,
    #                    owns_capture)
    frames: list[tuple] = []
    out: list[tuple] = []
    errors: list[str] = []
    for kind, tag, m in events(html or ""):
        if kind == DATA:  # ``tag`` is the text
            for cap in captures:
                cap[4].append(tag)
            continue
        if kind == END:
            if not any(f[0] == tag for f in frames):
                continue  # stray close tag: ignore, never crash
            while frames:
                ftag, pops_subj, pops_lang, pops_vocab, owns_capture = \
                    frames.pop()
                if owns_capture:
                    subj, preds, dt, lang, parts = captures.pop()
                    text = "".join(parts)
                    out.extend((subj, p, text, True, dt, lang)
                               for p in preds)
                if pops_subj:
                    subjects.pop()
                if pops_lang:
                    langs.pop()
                if pops_vocab:
                    vocabs.pop()
                if ftag == tag:
                    break
            continue
        # a start tag; a void or self-closing one opens no scope
        void = kind == SELF_CLOSING or tag in _MD_VOID
        a = {k: v or "" for k, v in attrs(m).items()}
        for k, v in a.items():
            if k.startswith("xmlns:"):
                prefixes[k[6:]] = v
        for d in _PREFIX_DECL_RE.finditer(a.get("prefix", "")):
            prefixes[d.group(1)] = d.group(2)

        bad = [k for k in ("rev", "inlist") if k in a]
        if bad:
            errors.append(f"<{tag} {bad[0]}> out of subset")
            if not void:
                frames.append((tag, False, False, False, False))
            continue

        pops_vocab = "vocab" in a
        vocab = (a["vocab"].strip() or None) if pops_vocab else vocabs[-1]
        lang_attr = a.get("xml:lang", a.get("lang"))
        pops_lang = lang_attr is not None
        lang = (lang_attr or None) if pops_lang else langs[-1]

        about = a.get("about")
        res_ref = next((a[k] for k in ("resource", "href", "src")
                        if a.get(k)), None)
        props, rels, types = (
            _rdfa_terms(a[k], k, prefixes, vocab, errors) if k in a else []
            for k in ("property", "rel", "typeof"))

        stmt_subj = urljoin(url, about) if about is not None \
            else subjects[-1]
        dt = None
        if a.get("datatype"):
            dts = _rdfa_terms(a["datatype"], "datatype", prefixes, vocab,
                              errors)
            dt = dts[0] if dts else None

        chained_bnode = None
        owns_capture = False
        if rels:
            if res_ref is None:
                errors.append(
                    f"<{tag} rel> without an object IRI (hanging rel) "
                    "out of subset")
            else:
                out.extend((stmt_subj, r, urljoin(url, res_ref), False,
                            None, None) for r in rels)
        if props:
            if "content" in a:
                plang = None if dt else lang
                out.extend((stmt_subj, p, a["content"], True, dt, plang)
                           for p in props)
            elif res_ref is not None and not rels:
                out.extend((stmt_subj, p, urljoin(url, res_ref), False,
                            None, None) for p in props)
            elif types and about is None:
                chained_bnode = f"{url}#rdfa/{next(bnodes)}"
                out.extend((stmt_subj, p, chained_bnode, False, None, None)
                           for p in props)
            elif not void:
                captures.append(
                    [stmt_subj, props, dt, None if dt else lang, []])
                owns_capture = True

        new_subj = None
        if about is not None:
            new_subj = urljoin(url, about)
        elif chained_bnode is not None:
            new_subj = chained_bnode
        elif types:
            if res_ref is not None:
                new_subj = urljoin(url, res_ref)
            else:
                new_subj = f"{url}#rdfa/{next(bnodes)}"
        elif res_ref is not None and not props and not rels \
                and "resource" in a:
            new_subj = urljoin(url, a["resource"])

        # every typed element has a new subject by now
        out.extend((new_subj, "rdf:type", t, False, None, None)
                   for t in types)

        if not void:
            pops_subj = new_subj is not None
            if pops_subj:
                subjects.append(new_subj)
            if pops_lang:
                langs.append(lang)
            if pops_vocab:
                vocabs.append(vocab)
            frames.append((tag, pops_subj, pops_lang, pops_vocab,
                           owns_capture))
    return ([_row(url, *t) for t in out]
            + [_row(url, error=e) for e in errors])


def rdfa_triples(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html) → JSONLD_SCHEMA triples from RDFa-Lite
    markup — one stateless Arrow pass, no shuffle."""
    return page_rows(pages, extract_rdfa, JSONLD_SCHEMA, html_col)


# ---- page-head metadata harvest -----------------------------------------
#
# The lightweight signals nearly every real web page carries even
# when it has no JSON-LD/microdata/RDFa markup: ``<title>``,
# ``<meta name=/property= content=>`` (description, robots,
# OpenGraph ``og:*`` / ``twitter:*`` cards), and ``<link rel=>``
# (``canonical`` — the page-DECLARED dedup key webfilter.py's
# declared_canonical_fetch consumes — plus ``alternate`` hreflang
# clusters, feeds, ``amphtml``).  The reference mines page heads the
# same way during parse (documentrepository.py:1277-1317 reads the
# serialized head; lagen.nu's scrapers read titles/links from soup).
#
# Lenient by design — this is wild-HTML harvesting, not the RDFa
# reader's precise-serialization contract: tags missing their value
# attribute are skipped silently, the harvest runs over the whole
# document (real pages misplace meta tags into <body>), text is
# whitespace-normalized, and a ``<base href>`` (first one wins, per
# HTML spec) rebases relative link resolution.  One stateless Arrow
# pass, no shuffle.

HEADMETA_SCHEMA = ("src_url string, kind string, key string, "
                   "value string, hreflang string, pos int")


def extract_head_meta(url: str, html: str) -> list[dict]:
    """One page's head metadata, HEADMETA_SCHEMA keys; ``pos`` is the
    tag's document-order ordinal (what makes "FIRST rel=canonical
    wins" deterministic downstream)."""
    base = None           # the first <base href>, resolved
    title: list[str] | None = None  # the open <title>'s text
    done_title = False
    rows: list[dict] = []

    def row(kind, key, value, hreflang=None):
        rows.append({"src_url": url, "kind": kind, "key": key,
                     "value": value, "hreflang": hreflang,
                     "pos": len(rows)})

    for kind, tag, m in events(html or ""):
        if kind == DATA:  # ``tag`` is the text
            if title is not None:
                title.append(tag)
        elif kind == END:
            if tag == "title" and title is not None:
                row("title", "", _md_norm("".join(title)))
                title, done_title = None, True
        elif tag == "title":
            if not done_title:
                title = []
        elif tag in ("base", "meta", "link"):
            a = {k: v or "" for k, v in attrs(m).items()}
            if tag == "base":
                if base is None and a.get("href"):
                    base = urljoin(url, a["href"])
            elif tag == "meta":
                key = a.get("property") or a.get("name") \
                    or a.get("http-equiv")
                if key and "content" in a:
                    row("meta", key.strip().lower(), a["content"])
            elif a.get("href") and a.get("rel"):
                resolved = urljoin(base or url, a["href"])
                for rel in a["rel"].split():
                    row("link", rel.lower(), resolved,
                        a.get("hreflang") or None)
    return rows


def head_meta(pages: DataFrame) -> DataFrame:
    """pages(url, html) → HEADMETA_SCHEMA rows (title / meta / link
    harvest) — one stateless Arrow pass, no shuffle."""
    return page_rows(pages, extract_head_meta, HEADMETA_SCHEMA)
