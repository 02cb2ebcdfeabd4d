"""Publish-surface rendering (S11 / A4 tail): Atom feed documents.

The reference renders news feeds as Atom XML files per facet value
plus the union "All" feed (/root/reference/ferenda/documentrepository
.py:3524+ ``news_write_atom``: entries newest-first, RFC3339
timestamps, escaped titles, feed-level ``updated`` = newest entry).

Spark restatement: rendering is an *aggregation to one XML string
per feed* — sort-in-array + transform + concat, all JVM-side.  The
per-feed ``collect_list`` is bounded by the page-size cap the caller
applies first (the reference's paginated feeds do the same), so no
unbounded group state.  Writing each string to its file is the
trivial last step (``df.write`` partitioned by feed, or a foreach
sink in streaming) and is environment-bound, like the WSGI serving
layer the survey scoped out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ATOM_NS = "http://www.w3.org/2005/Atom"


def escape_xml(c: Column) -> Column:
    """Minimal XML text escape (order matters: & first)."""
    out = F.replace(c, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def escape_attr(c: Column) -> Column:
    """XML escape for double-quoted ATTRIBUTE values: text escape
    plus ``"`` → ``&quot;`` — a quote inside href=/content=/about=
    would otherwise terminate the attribute and break the document."""
    return F.replace(escape_xml(c), F.lit('"'), F.lit("&quot;"))


def rfc3339(ts: Column) -> Column:
    """Format a UTC wall-clock timestamp as RFC3339. The input must
    already BE UTC wall-clock (TIMESTAMP_NTZ carrying UTC, or an
    instant pre-converted via ``_as_utc``) — date_format on an
    unconverted instant would print session-local time labeled 'Z'."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def _as_utc(entries: DataFrame, ts_col: str) -> Column:
    """UTC wall-clock column for ``ts_col`` regardless of session
    timezone: instants (TIMESTAMP) are converted session→UTC;
    TIMESTAMP_NTZ is UTC wall-clock by the lakehouse convention used
    throughout (warc_ts, event ts) and passes through."""
    if dict(entries.dtypes).get(ts_col) == "timestamp":
        return F.convert_timezone(None, F.lit("UTC"),
                                  F.col(ts_col).cast("timestamp_ntz"))
    return F.col(ts_col)


def atom_feeds(entries: DataFrame, link_col: str | None = None) -> DataFrame:
    """(feed, atom_xml): one Atom document per feed, entries
    newest-first (ties: lower id first), feed ``updated`` = newest
    entry timestamp. Caller bounds entries-per-feed beforehand.
    ``link_col`` (optional) adds ``<link rel="alternate" href>`` per
    entry — the discovery hook sources/feeds.py's reader consumes;
    omitted, the emitted bytes are unchanged."""
    tsu = _as_utc(entries, "ts")
    # cast covers TIMESTAMP_NTZ inputs (unix_micros wants TIMESTAMP)
    key = F.struct(
        (-F.unix_micros(tsu.cast("timestamp"))).alias("negus"),
        F.col("event_id").alias("id"))
    link_xml = F.lit("") if link_col is None else F.concat(
        F.lit('<link rel="alternate" href="'),
        escape_attr(F.col(link_col)), F.lit('"/>'))
    item = F.struct(key.alias("k"),
                    F.concat(
                        F.lit("<entry><id>urn:entry:"),
                        F.col("event_id").cast("string"),
                        F.lit("</id><title>"),
                        escape_xml(F.col("title")),
                        F.lit("</title>"), link_xml,
                        F.lit("<updated>"),
                        rfc3339(tsu),
                        F.lit("</updated></entry>")).alias("xml"))
    agg = entries.groupBy("feed").agg(
        F.array_sort(F.collect_list(item)).alias("items"),
        F.max(tsu).alias("_newest"))
    body = F.array_join(F.transform(F.col("items"), lambda s: s["xml"]),
                        "")
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="utf-8"?>'
              f'<feed xmlns="{ATOM_NS}"><title>'),
        escape_xml(F.col("feed")),
        F.lit("</title><updated>"), rfc3339(F.col("_newest")),
        F.lit("</updated>"), body, F.lit("</feed>"))
    return agg.select(F.col("feed"),
                      xml.alias("atom_xml"))


# ---------------------------------------------------------------------------
# S11: XHTML+RDFa document pages
# ---------------------------------------------------------------------------

XHTML_NS = "http://www.w3.org/1999/xhtml"

#: prefix -> namespace URI, the subset of the reference's
#: DocumentRepository.namespaces actually mintable by this pipeline
#: (documentrepository.py:179-186).
RDFA_PREFIXES = {
    "dcterms": "http://purl.org/dc/terms/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "rfc": "https://example.org/ontology/rfc#",
    "prov": "http://www.w3.org/ns/prov#",
}


def _ordkey(c: Column) -> Column:
    """Sibling sort key: ordinals are a digit run or a letter run, so
    a plain zero-lpad equals natural order and is trivially mirrored
    in the DuckDB oracle (lpad(ordinal, 8, '0'))."""
    return F.lpad(c, 8, "0")


def rdfa_head(triples: DataFrame) -> DataFrame:
    """(url, head_xml, prefixes): the reference's ``render_head``
    (documentrepository.py:1510-1620) as ONE sort-in-array
    aggregation — triples sorted by (pred, obj); ``dcterms:title``
    literals become ``<title property>``, URI objects ``<link rel
    href>``, other literals ``<meta property content>``; the head
    carries ``about=uri``.  ``prefixes`` is the sorted distinct CURIE
    prefix set actually used, feeding the reference's used-only nsmap
    pruning (documentrepository.py:1633-1648).  URI-ness is inferred
    structurally (http(s) scheme) since the DataFrame triple model
    carries no rdflib typing.  One shuffle, keyed by document —
    uniform at any corpus size."""
    p, ob = F.col("pred"), F.col("obj")
    is_uri = ob.rlike("^https?://")
    item_xml = (
        F.when((p == "dcterms:title") & ~is_uri,
               F.concat(F.lit('<title property="dcterms:title">'),
                        escape_xml(ob), F.lit("</title>")))
        .when(is_uri,
              F.concat(F.lit('<link rel="'), p, F.lit('" href="'),
                       escape_attr(ob), F.lit('"/>')))
        .otherwise(
            F.concat(F.lit('<meta property="'), p, F.lit('" content="'),
                     escape_attr(ob), F.lit('"/>'))))
    item = F.struct(F.struct(p.alias("p"), ob.alias("o")).alias("k"),
                    item_xml.alias("xml"),
                    F.split(p, ":").getItem(0).alias("prefix"))
    agg = triples.groupBy(F.col("subj").alias("url")).agg(
        F.array_sort(F.collect_list(item)).alias("items"))
    head = F.concat(
        F.lit('<head about="'), escape_attr(F.col("url")), F.lit('">'),
        F.array_join(F.transform(F.col("items"), lambda s: s["xml"]), ""),
        F.lit("</head>"))
    prefixes = F.array_sort(F.array_distinct(
        F.transform(F.col("items"), lambda s: s["prefix"])))
    return agg.select("url", head.alias("head_xml"),
                      prefixes.alias("prefixes"))


def xhtml_body(nodes: DataFrame, max_depth: int = 5) -> DataFrame:
    """(url, body_xml): the parsed element tree rendered as nested
    RDFa ``div``s — each node ``<div about="url#node_id"
    typeof="kind"><p>text</p>{children}</div>``, siblings in natural
    ordinal order (the reference's ``doc.body.as_xhtml(doc.uri)``,
    documentrepository.py:1621 + elements.py as_xhtml @about
    fragments).

    Spark restatement: a LEAF-TO-ROOT FOLD — one keyed aggregation
    per tree level (children grouped under (url, parent_id), sorted
    in-array, concatenated), then a left join onto the level above.
    ``max_depth`` bounds the fold at the grammar's nesting depth (5
    for the statute grammar), so the plan is a fixed chain of
    2*depth shuffles all keyed by document/parent — no driver
    recursion, no per-row Python, skew bounded by sibling fan-out."""
    def div(text_col: Column, children: Column) -> Column:
        return F.concat(
            F.lit('<div about="'), escape_attr(F.col("url")), F.lit("#"),
            F.col("node_id"), F.lit('" typeof="'), F.col("kind"),
            F.lit('"><p>'), escape_xml(text_col), F.lit("</p>"),
            children, F.lit("</div>"))

    child_agg = None  # (url, node_id, children_xml) for level d+1
    for d in range(max_depth, 0, -1):
        lvl = nodes.filter(F.col("depth") == d)
        if child_agg is not None:
            lvl = lvl.join(child_agg, ["url", "node_id"], "left")
            children = F.coalesce(F.col("children_xml"), F.lit(""))
        else:
            children = F.lit("")
        rendered = lvl.select(
            "url",
            F.coalesce(F.col("parent_id"), F.lit("")).alias("parent_id"),
            _ordkey(F.col("ordinal")).alias("skey"),
            div(F.col("text"), children).alias("div_xml"))
        item = F.struct(F.col("skey"), F.col("div_xml"))
        child_agg = (rendered.groupBy("url", "parent_id")
                     .agg(F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(item)),
                             lambda s: s["div_xml"]), "")
                         .alias("children_xml"))
                     .withColumnRenamed("parent_id", "node_id"))
    roots = child_agg.filter(F.col("node_id") == "")
    return roots.select(
        "url",
        F.concat(F.lit('<body about="'), escape_attr(F.col("url")),
                 F.lit('">'),
                 F.col("children_xml"), F.lit("</body>"))
        .alias("body_xml"))


RENDER_MAX_DEPTH = 5


def render_xhtml_pages(triples: DataFrame, nodes: DataFrame,
                       langs: DataFrame | None = None) -> DataFrame:
    """(url, xhtml): one XHTML+RDFa page per document — the
    reference's ``render_xhtml`` (documentrepository.py:1456-1680)
    as a deterministic byte-stable string per url: RDFa ``head``
    from the document's triples, nested-``div`` body from the parsed
    node table, ``<html>`` declaring only the namespace prefixes the
    head actually uses (the used-only nsmap pruning at :1633-1667,
    against the static :attr:`RDFA_PREFIXES` registry).

    ``langs`` (url, lang) adds ``xml:lang``.  Head and body are one
    aggregation each; the final assembly is a join on url."""
    head = rdfa_head(triples)
    body = xhtml_body(nodes, max_depth=RENDER_MAX_DEPTH)
    pm = F.create_map(*[F.lit(x) for kv in RDFA_PREFIXES.items()
                        for x in kv])
    decls = F.array_join(
        F.transform(
            F.filter(F.col("prefixes"),
                     lambda pfx: ~F.isnull(F.element_at(pm, pfx))),
            lambda pfx: F.concat(F.lit(' xmlns:'), pfx, F.lit('="'),
                                 F.element_at(pm, pfx), F.lit('"'))),
        "")
    out = head.join(body, "url")
    lang_attr = F.lit("")
    if langs is not None:
        out = out.join(langs.select("url", "lang"), "url", "left")
        lang_attr = F.when(
            F.col("lang").isNotNull(),
            F.concat(F.lit(' xml:lang="'), F.col("lang"), F.lit('"'))
        ).otherwise(F.lit(""))
    xhtml = F.concat(
        F.lit('<?xml version="1.0" encoding="utf-8"?>'
              f'<html xmlns="{XHTML_NS}"'),
        decls, F.lit(' version="XHTML+RDFa 1.1"'), lang_attr,
        F.lit(">"), F.col("head_xml"), F.col("body_xml"),
        F.lit("</html>"))
    return out.select("url", xhtml.alias("xhtml"))
