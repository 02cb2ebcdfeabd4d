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

* extraction is an Arrow ``mapInPandas`` over the pages scan — the
  same stateless per-row parse as operators/extract.py, no shuffle;
* aggregation is two keyed aggs on (href) / (href, anchor) plus a
  *keyed* window (partitioned by href — never a global window) for
  the top-anchor pick; hot targets (the head-entity skew of the
  north star) are single reducer keys whose inputs are pre-combined
  map-side by Spark's partial aggregation.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ferenda_spark.functions.text import normalize_space

ANCHOR_SCHEMA = "src_url string, href string, anchor string"

# A ``<![`` that the stdlib's marked-section scan accepts: a name
# token that is one of its keywords. On any other ``<![`` that scan
# raises AssertionError.
_MARKED_SECTION = re.compile(
    r"<!\[(?:temp|cdata|ignore|include|rcdata|if|else|endif)"
    r"(?![-_.a-zA-Z0-9])", re.I)


class _AnchorParser(HTMLParser):
    """Collects (href, anchor-text) for every ``<a href=...>``.

    Nested markup inside the anchor contributes its text (``<a><b>x
    </b> y</a>`` → ``x y``).  A new ``<a>`` implicitly closes an open
    one (the browser recovery rule — real crawl HTML needs it).
    Anchors without href (named anchors) are ignored.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.open_href: str | None = None
        self.buf: list[str] = []
        self.pairs: list[tuple[str, str]] = []

    def _close(self) -> None:
        if self.open_href is not None:
            self.pairs.append(
                (self.open_href, normalize_space("".join(self.buf))))
        self.open_href, self.buf = None, []

    def parse_html_declaration(self, i):
        # an unknown ``<![`` is a bogus comment up to the next ``>``,
        # as extract.parse_page reads it
        if (self.rawdata.startswith("<![", i)
                and not _MARKED_SECTION.match(self.rawdata, i)):
            return self.parse_bogus_comment(i)
        return super().parse_html_declaration(i)

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._close()
            href = dict(attrs).get("href")
            if href is not None:
                self.open_href = href

    def handle_endtag(self, tag):
        if tag == "a":
            self._close()

    def handle_data(self, data):
        if self.open_href is not None:
            self.buf.append(data)

    def flush(self) -> None:
        self._close()


def parse_anchors(html_bytes: bytes) -> list[tuple[str, str]]:
    p = _AnchorParser()
    p.feed((html_bytes or b"").decode("utf-8", errors="replace"))
    p.close()
    p.flush()
    return p.pairs


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
