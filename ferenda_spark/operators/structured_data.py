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
``error``; one Arrow ``mapInPandas`` pass, stateless per page, no
shuffle — the same scan shape as extract.py, so at 10^12 pages this
runs inside the existing extract scan's budget.
"""

from __future__ import annotations

import json
import re
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

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


def extract_jsonld(url: str, html: str) -> list[dict]:
    """Pure-Python twin: all triples of all ld+json blocks of one
    page, JSONLD_SCHEMA keys; one error row per bad block."""

    def row(subj=None, pred=None, obj=None, obj_is_literal=None,
            obj_datatype=None, obj_lang=None, error=None) -> dict:
        return {"src_url": url, "subj": subj, "pred": pred, "obj": obj,
                "obj_is_literal": obj_is_literal,
                "obj_datatype": obj_datatype, "obj_lang": obj_lang,
                "error": error}

    rows: list[dict] = []
    for b, block in enumerate(_SCRIPT_RE.findall(html or "")):
        try:
            data = json.loads(block)
        except ValueError as exc:
            rows.append(row(error=f"block {b}: json: {exc}"))
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
            rows.append(row(error=f"block {b}: {exc}"))
            continue
        rows.extend(row(*t) for t in out)
    return rows


def jsonld_triples(pages: DataFrame) -> DataFrame:
    """pages(url, html) → JSONLD_SCHEMA triples — one stateless Arrow
    pass (html may be binary or string), no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src_url", "subj", "pred", "obj", "obj_is_literal",
                "obj_datatype", "obj_lang", "error"]
        for pdf in it:
            rows: list[dict] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                rows.extend(extract_jsonld(url, html))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(
        batches, schema=JSONLD_SCHEMA)


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


class _MicrodataParser(HTMLParser):
    """One page's microdata items → edge-schema tuples + error rows."""

    def __init__(self, url: str) -> None:
        super().__init__(convert_charrefs=True)
        self.url = url
        self.n_items = 0
        # item stack frames: (subj, vocab_prefix_or_None)
        self.items: list[tuple[str, str | None]] = []
        # open text captures: [subj, pred_list, text_parts]
        self.captures: list[list] = []
        # per open element: (tag, pops_item, owns_capture)
        self.frames: list[tuple[str, bool, bool]] = []
        self.out: list[tuple] = []
        self.errors: list[str] = []

    # -- helpers ---------------------------------------------------------

    def _emit(self, subj, pred, obj, is_lit):
        self.out.append((subj, pred, obj, is_lit, None, None))

    def _vocab_of(self, types: list[str]) -> str | None:
        for t in types:
            for base, pre in _VOCAB_PREFIXES.items():
                if t.startswith(base):
                    return pre
        return None

    def _expand_prop(self, name: str, prefix: str | None) -> str:
        if prefix is None or ":" in name:
            return name
        return prefix + name

    def _prop_value_attr(self, tag: str, a: dict) -> tuple | None:
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

    # -- tag events ------------------------------------------------------

    def _start(self, tag: str, attrs, void: bool) -> None:
        a = {k: (v if v is not None else "") for k, v in attrs}
        if "itemref" in a:
            self.errors.append(f"<{tag} itemref> out of subset")
            if not void:
                self.frames.append((tag, False, False))
            return
        is_item = "itemscope" in a
        prop_attr = a.get("itemprop")
        child_subj = None
        if is_item:
            subj = a.get("itemid") or f"{self.url}#md/{self.n_items}"
            self.n_items += 1
            types = [t for t in a.get("itemtype", "").split() if t]
            prefix = self._vocab_of(types)
            for t in types:
                self._emit(subj, "rdf:type", _md_contract(t), False)
            child_subj = subj
        owns_capture = False
        if prop_attr is not None:
            names = [n for n in prop_attr.split() if n]
            if not self.items:
                self.errors.append(
                    f"<{tag} itemprop={prop_attr!r}> outside any item")
            elif names:
                psubj, pprefix = self.items[-1]
                preds = [self._expand_prop(n, pprefix) for n in names]
                if is_item:
                    for p in preds:
                        self._emit(psubj, p, child_subj, False)
                else:
                    av = self._prop_value_attr(tag, a)
                    if av is not None:
                        obj, is_lit = av
                        for p in preds:
                            self._emit(psubj, p, obj, is_lit)
                    elif not void:
                        self.captures.append([psubj, preds, []])
                        owns_capture = True
        if is_item:
            self.items.append((child_subj, self._vocab_of(
                [t for t in a.get("itemtype", "").split() if t])))
        if not void:
            self.frames.append((tag, is_item, owns_capture))

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs, void=tag in _MD_VOID)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs, void=True)

    def handle_endtag(self, tag):
        if not any(f[0] == tag for f in self.frames):
            return  # stray close tag: ignore, never crash
        while self.frames:
            ftag, pops_item, owns_capture = self.frames.pop()
            if owns_capture:
                subj, preds, parts = self.captures.pop()
                text = _md_norm("".join(parts))
                for p in preds:
                    self._emit(subj, p, text, True)
            if pops_item and self.items:
                self.items.pop()
            if ftag == tag:
                break

    def handle_data(self, data):
        for cap in self.captures:
            cap[2].append(data)


def extract_microdata(url: str, html: str) -> list[dict]:
    """Pure-Python twin: all microdata triples of one page,
    JSONLD_SCHEMA keys; one error row per out-of-subset construct."""
    parser = _MicrodataParser(url)
    try:
        parser.feed(html or "")
        parser.close()
    except Exception as exc:  # malformed HTML: loud row, no crash
        parser.errors.append(f"parse: {exc}")

    def row(subj=None, pred=None, obj=None, obj_is_literal=None,
            obj_datatype=None, obj_lang=None, error=None) -> dict:
        return {"src_url": url, "subj": subj, "pred": pred, "obj": obj,
                "obj_is_literal": obj_is_literal,
                "obj_datatype": obj_datatype, "obj_lang": obj_lang,
                "error": error}

    rows = [row(*t) for t in parser.out]
    rows.extend(row(error=e) for e in parser.errors)
    return rows


def microdata_triples(pages: DataFrame) -> DataFrame:
    """pages(url, html) → JSONLD_SCHEMA triples from itemscope
    markup — one stateless Arrow pass, no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src_url", "subj", "pred", "obj", "obj_is_literal",
                "obj_datatype", "obj_lang", "error"]
        for pdf in it:
            rows: list[dict] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                rows.extend(extract_microdata(url, html))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(
        batches, schema=JSONLD_SCHEMA)


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


class _RdfaParser(HTMLParser):
    """One page's RDFa-Lite markup → edge-schema tuples + error rows."""

    def __init__(self, url: str) -> None:
        super().__init__(convert_charrefs=True)
        self.url = url
        self.prefixes: dict[str, str] = {}
        self.n_bnodes = 0
        self.subjects: list[str] = [url]
        self.langs: list = [None]
        self.vocabs: list = [None]
        # open text captures: [subj, preds, datatype, lang, parts]
        self.captures: list[list] = []
        # per open element: (tag, pops_subj, pops_lang, pops_vocab,
        #                    owns_capture)
        self.frames: list[tuple] = []
        self.out: list[tuple] = []
        self.errors: list[str] = []

    def _emit(self, subj, pred, obj, is_lit, dt=None, lang=None):
        self.out.append((subj, pred, obj, is_lit, dt, lang))

    def _resolve(self, ref: str) -> str:
        from urllib.parse import urljoin
        return urljoin(self.url, ref)

    def _bnode(self) -> str:
        s = f"{self.url}#rdfa/{self.n_bnodes}"
        self.n_bnodes += 1
        return s

    def _terms(self, value: str, what: str) -> list[str]:
        """Space-separated term list → engine names; undeclared CURIE
        prefixes error instead of being guessed at."""
        names = []
        for t in value.split():
            if "://" in t:
                names.append(_md_contract(t))
            elif ":" in t:
                if t.split(":", 1)[0] in self.prefixes:
                    names.append(t)
                else:
                    self.errors.append(
                        f"{what}={t!r}: undeclared CURIE prefix")
            else:
                vocab = self.vocabs[-1]
                names.append(_md_contract(vocab + t) if vocab else t)
        return names

    def _start(self, tag: str, attrs, void: bool) -> None:
        a = {k: (v if v is not None else "") for k, v in attrs}
        for k, v in a.items():
            if k.startswith("xmlns:"):
                self.prefixes[k[6:]] = v
        for m in _PREFIX_DECL_RE.finditer(a.get("prefix", "")):
            self.prefixes[m.group(1)] = m.group(2)

        bad = [k for k in ("rev", "inlist") if k in a]
        if bad:
            self.errors.append(f"<{tag} {bad[0]}> out of subset")
            if not void:
                self.frames.append((tag, False, False, False, False))
            return

        pops_vocab = "vocab" in a
        if pops_vocab:
            self.vocabs.append(a["vocab"].strip() or None)
        lang_attr = a.get("xml:lang", a.get("lang"))
        pops_lang = lang_attr is not None
        if pops_lang:
            self.langs.append(lang_attr or None)

        about = a.get("about")
        res_ref = None
        for k in ("resource", "href", "src"):
            if a.get(k):
                res_ref = a[k]
                break
        props = self._terms(a["property"], "property") \
            if "property" in a else []
        rels = self._terms(a["rel"], "rel") if "rel" in a else []
        types = self._terms(a["typeof"], "typeof") \
            if "typeof" in a else []

        stmt_subj = self._resolve(about) if about is not None \
            else self.subjects[-1]
        dt = None
        if a.get("datatype"):
            dts = self._terms(a["datatype"], "datatype")
            dt = dts[0] if dts else None

        chained_bnode = None
        owns_capture = False
        if rels:
            if res_ref is None:
                self.errors.append(
                    f"<{tag} rel> without an object IRI (hanging rel) "
                    "out of subset")
            else:
                for r in rels:
                    self._emit(stmt_subj, r, self._resolve(res_ref),
                               False)
        if props:
            if "content" in a:
                lang = None if dt else self.langs[-1]
                for p in props:
                    self._emit(stmt_subj, p, a["content"], True, dt,
                               lang)
            elif res_ref is not None and not rels:
                for p in props:
                    self._emit(stmt_subj, p, self._resolve(res_ref),
                               False)
            elif types and about is None:
                chained_bnode = self._bnode()
                for p in props:
                    self._emit(stmt_subj, p, chained_bnode, False)
            elif not void:
                self.captures.append(
                    [stmt_subj, props, dt,
                     None if dt else self.langs[-1], []])
                owns_capture = True

        new_subj = None
        if about is not None:
            new_subj = self._resolve(about)
        elif chained_bnode is not None:
            new_subj = chained_bnode
        elif types:
            if res_ref is not None:
                new_subj = self._resolve(res_ref)
            else:
                new_subj = self._bnode()
        elif res_ref is not None and not props and not rels \
                and "resource" in a:
            new_subj = self._resolve(a["resource"])

        if types:
            tsubj = new_subj if new_subj is not None else stmt_subj
            for t in types:
                self._emit(tsubj, "rdf:type", t, False)

        pops_subj = new_subj is not None
        if pops_subj:
            self.subjects.append(new_subj)

        if void:
            # void elements close immediately: unwind pushed scopes
            if pops_subj:
                self.subjects.pop()
            if pops_lang:
                self.langs.pop()
            if pops_vocab:
                self.vocabs.pop()
        else:
            self.frames.append((tag, pops_subj, pops_lang, pops_vocab,
                                owns_capture))

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs, void=tag in _MD_VOID)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs, void=True)

    def handle_endtag(self, tag):
        if not any(f[0] == tag for f in self.frames):
            return  # stray close tag: ignore, never crash
        while self.frames:
            ftag, pops_subj, pops_lang, pops_vocab, owns_capture = \
                self.frames.pop()
            if owns_capture:
                subj, preds, dt, lang, parts = self.captures.pop()
                text = "".join(parts)
                for p in preds:
                    self._emit(subj, p, text, True, dt, lang)
            if pops_subj:
                self.subjects.pop()
            if pops_lang:
                self.langs.pop()
            if pops_vocab:
                self.vocabs.pop()
            if ftag == tag:
                break

    def handle_data(self, data):
        for cap in self.captures:
            cap[4].append(data)


def extract_rdfa(url: str, html: str) -> list[dict]:
    """Pure-Python twin: all RDFa-Lite triples of one page,
    JSONLD_SCHEMA keys; one error row per out-of-subset construct."""
    parser = _RdfaParser(url)
    try:
        parser.feed(html or "")
        parser.close()
    except Exception as exc:  # malformed HTML: loud row, no crash
        parser.errors.append(f"parse: {exc}")

    def row(subj=None, pred=None, obj=None, obj_is_literal=None,
            obj_datatype=None, obj_lang=None, error=None) -> dict:
        return {"src_url": url, "subj": subj, "pred": pred, "obj": obj,
                "obj_is_literal": obj_is_literal,
                "obj_datatype": obj_datatype, "obj_lang": obj_lang,
                "error": error}

    rows = [row(*t) for t in parser.out]
    rows.extend(row(error=e) for e in parser.errors)
    return rows


def rdfa_triples(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html) → JSONLD_SCHEMA triples from RDFa-Lite
    markup — one stateless Arrow pass, no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src_url", "subj", "pred", "obj", "obj_is_literal",
                "obj_datatype", "obj_lang", "error"]
        for pdf in it:
            rows: list[dict] = []
            for url, html in zip(pdf["url"], pdf[html_col]):
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                rows.extend(extract_rdfa(url, html))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", html_col).mapInPandas(
        batches, schema=JSONLD_SCHEMA)


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


class _HeadMetaParser(HTMLParser):
    def __init__(self, url: str) -> None:
        super().__init__(convert_charrefs=True)
        self.url = url
        self.base = url
        self.base_set = False
        self.out: list[tuple] = []   # (kind, key, value, hreflang, pos)
        self.pos = 0
        self.title_parts: list[str] | None = None
        self.done_title = False

    def _row(self, kind, key, value, hreflang=None):
        self.out.append((kind, key, value, hreflang, self.pos))
        self.pos += 1

    def _start(self, tag, attrs):
        a = {k: (v if v is not None else "") for k, v in attrs}
        if tag == "base" and not self.base_set and a.get("href"):
            from urllib.parse import urljoin
            self.base = urljoin(self.url, a["href"])
            self.base_set = True
        elif tag == "title" and not self.done_title:
            self.title_parts = []
        elif tag == "meta":
            key = a.get("property") or a.get("name") \
                or a.get("http-equiv")
            if key and "content" in a:
                self._row("meta", key.strip().lower(), a["content"])
        elif tag == "link":
            href = a.get("href")
            if href and a.get("rel"):
                from urllib.parse import urljoin
                resolved = urljoin(self.base, href)
                for rel in a["rel"].split():
                    self._row("link", rel.lower(), resolved,
                              a.get("hreflang") or None)

    def handle_starttag(self, tag, attrs):
        self._start(tag, attrs)

    def handle_startendtag(self, tag, attrs):
        self._start(tag, attrs)

    def handle_endtag(self, tag):
        if tag == "title" and self.title_parts is not None:
            self._row("title", "", _md_norm("".join(self.title_parts)))
            self.title_parts = None
            self.done_title = True

    def handle_data(self, data):
        if self.title_parts is not None:
            self.title_parts.append(data)


def extract_head_meta(url: str, html: str) -> list[dict]:
    """Pure-Python twin: one page's head metadata, HEADMETA_SCHEMA
    keys; ``pos`` is the tag's document-order ordinal (what makes
    "FIRST rel=canonical wins" deterministic downstream)."""
    parser = _HeadMetaParser(url)
    try:
        parser.feed(html or "")
        parser.close()
    except Exception:
        pass  # lenient: keep whatever was harvested before the break
    return [{"src_url": url, "kind": k, "key": key, "value": v,
             "hreflang": hl, "pos": p}
            for (k, key, v, hl, p) in parser.out]


def head_meta(pages: DataFrame) -> DataFrame:
    """pages(url, html) → HEADMETA_SCHEMA rows (title / meta / link
    harvest) — one stateless Arrow pass, no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src_url", "kind", "key", "value", "hreflang", "pos"]
        for pdf in it:
            rows: list[dict] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                rows.extend(extract_head_meta(url, html))
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(
        batches, schema=HEADMETA_SCHEMA)
