"""Hyperlink anchor-text extraction and per-target aggregation.

The classic web-KG enrichment step (used by every search engine and
by KG builders since WebTables/ClueWeb): the text inside ``<a href>``
elements is an independently-authored description of the *target*
page, so aggregating anchors per target yields entity surface forms
and importance signals the target's own content can't provide.
Reference analog: ferenda's inbound-reference annotation
(documentrepository.py:1829-1891) records *that* a document is cited;
this operator also records *what the citing page calls it*.

Scale shape:

* extraction is an Arrow ``mapInPandas`` over the pages scan, no
  shuffle: ``parse_anchors`` is one loop over the shared tokenizer's
  events (functions/markup.py), the parse extract.py runs, and
  parses attributes of ``a`` tags only;
* aggregation is two keyed aggs on (href) / (href, anchor) plus a
  *keyed* window (partitioned by href — never a global window) for
  the top-anchor pick; hot targets (the head-entity skew of the
  north star) are single reducer keys whose inputs are pre-combined
  map-side by Spark's partial aggregation.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ferenda_spark.functions.markup import DATA, END, START, attrs, events
from ferenda_spark.functions.text import normalize_space

ANCHOR_SCHEMA = "src_url string, href string, anchor string"


def parse_anchors(html_bytes: bytes) -> list[tuple[str, str]]:
    """(href, anchor text) for every ``<a href=...>`` of a page.

    Nested markup inside the anchor contributes its text (``<a><b>x
    </b> y</a>`` → ``x y``).  A new ``<a>`` implicitly closes an open
    one (the browser recovery rule — real crawl HTML needs it), and
    the page's end closes the last.  Anchors without href (named
    anchors) are ignored.
    """
    pairs: list[tuple[str, str]] = []
    href: str | None = None
    text: list[str] = []
    for kind, value, m in events(
            (html_bytes or b"").decode("utf-8", errors="replace")):
        if kind == DATA:
            if href is not None:
                text.append(value)
            continue
        if value != "a":
            continue
        # the start and the end of an <a> each close the open anchor;
        # "<a href=x/>" opens and closes one with no text
        if href is not None:
            pairs.append((href, normalize_space("".join(text))))
            href, text = None, []
        if kind & START:
            href = attrs(m).get("href")
            if kind & END and href is not None:
                pairs.append((href, ""))
                href = None
    if href is not None:
        pairs.append((href, normalize_space("".join(text))))
    return pairs


def anchor_pairs(pages: DataFrame) -> DataFrame:
    """(src_url, href, anchor) — one row per hyperlink on each page."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            src, hrefs, anchors = [], [], []
            for u, h in zip(pdf["url"], pdf["html"]):
                for href, anchor in parse_anchors(h):
                    src.append(u)
                    hrefs.append(href)
                    anchors.append(anchor)
            yield pd.DataFrame(
                {"src_url": pd.Series(src, dtype="object"),
                 "href": pd.Series(hrefs, dtype="object"),
                 "anchor": pd.Series(anchors, dtype="object")})

    return (pages.select("url", "html")
            .mapInPandas(run, ANCHOR_SCHEMA))


def resolve_hrefs(pairs: DataFrame) -> DataFrame:
    """Resolve root-relative hrefs against the source origin
    (``/path`` → ``scheme://host/path``); absolute hrefs and
    fragments pass through.  Pure column expressions — stays in the
    scan."""
    origin = F.regexp_extract(F.col("src_url"), r"^(https?://[^/]+)", 1)
    resolved = F.when(
        F.col("href").startswith("/") & (origin != ""),
        F.concat(origin, F.col("href"))).otherwise(F.col("href"))
    return pairs.withColumn("href", resolved)


def anchor_profile(pairs: DataFrame) -> DataFrame:
    """Per-target anchor summary: (href, n_links, n_sources,
    top_anchor, top_anchor_n).

    ``top_anchor`` is the most frequent anchor string for the target
    (ties broken lexicographically) — the target's crowd-sourced
    surface form, the entity-linking alias signal.
    """
    by_anchor = (pairs.groupBy("href", "anchor")
                 .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("href").orderBy(F.desc("n"), F.asc("anchor"))
    top = (by_anchor.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("href", F.col("anchor").alias("top_anchor"),
                   F.col("n").alias("top_anchor_n")))
    totals = (pairs.groupBy("href")
              .agg(F.count(F.lit(1)).alias("n_links"),
                   F.countDistinct("src_url").alias("n_sources")))
    return totals.join(top, "href")
