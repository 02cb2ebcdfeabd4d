"""Sitemap (sitemaps.org XML) parsing — crawl frontier discovery.

The other half of the S1 discovery story next to robots.py: where
robots.txt tells the frontier what it may NOT fetch, sitemaps tell it
what it SHOULD — the site's own enumeration of canonical urls with
freshness (``lastmod``) and importance (``priority``) hints, which is
how a Common-Crawl-scale crawler seeds and refreshes its frontier
without re-walking link graphs.  The reference instead enumerates
documents by scraping listing pages with per-source regexes
(/root/reference/ferenda/documentrepository.py:964-1040
``download()`` + ``download_get_basefiles``); a sitemap is the
standardized form of exactly that feed.

:func:`parse_sitemaps` is one Arrow ``mapInPandas`` pass over fetched
``(url, xml)`` rows — the same stateless per-row parse shape as
extract.py, no shuffle; sitemap files are ≤50 MB / ≤50k urls by spec
so one row is always one small parse.  Output is one row per
``<url>`` or ``<sitemap>`` entry:

- ``kind``: ``'url'`` for ``<urlset>`` entries, ``'sitemap'`` for
  ``<sitemapindex>`` entries (an index's children are themselves
  sitemap urls — the caller loops fetch→parse until no ``'sitemap'``
  rows remain, the same frontier iteration as crawl.py's BFS);
- ``loc`` (required by spec; entries without one are skipped),
  ``lastmod`` (raw W3C datetime string — cast scan-side when
  needed), ``changefreq``, ``priority_milli`` (spec default 0.5 →
  500; out-of-contract values yield NULL, never a task failure);
- ``error``: NULL on success; malformed XML yields ONE row per input
  with ``error`` set and everything else NULL — poison sitemaps
  never kill the scan (the warc.py error-row contract).

Namespaces are matched by local name (the spec's
``http://www.sitemaps.org/schemas/sitemap/0.9`` and any vendor
extension prefixes are tolerated; extension *elements* like
image:/video: entries are simply not urlset entries and are skipped).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

SITEMAP_SCHEMA = ("src_url string, kind string, loc string, "
                  "lastmod string, changefreq string, "
                  "priority_milli int, error string")

_FREQS = frozenset({"always", "hourly", "daily", "weekly", "monthly",
                    "yearly", "never"})


def _local(tag: str) -> str:
    """Element local name, namespace stripped."""
    return tag.rsplit("}", 1)[-1].lower()


def _priority_milli(raw: str | None):
    if raw is None:
        return 500  # spec default 0.5
    try:
        v = float(raw.strip())
    except ValueError:
        return None
    if not 0.0 <= v <= 1.0:
        return None
    return int(round(v * 1000))


def parse_sitemap_xml(src_url: str, xml: str) -> list[dict]:
    """Pure-Python twin: the entry rows of one sitemap document, in
    file order (SITEMAP_SCHEMA keys)."""

    def row(kind=None, loc=None, lastmod=None, changefreq=None,
            priority_milli=None, error=None) -> dict:
        return {"src_url": src_url, "kind": kind, "loc": loc,
                "lastmod": lastmod, "changefreq": changefreq,
                "priority_milli": priority_milli, "error": error}

    try:
        root = ET.fromstring(xml or "")
    except ET.ParseError as exc:
        return [row(error=f"xml: {exc}")]
    root_name = _local(root.tag)
    if root_name == "urlset":
        kind, entry_name = "url", "url"
    elif root_name == "sitemapindex":
        kind, entry_name = "sitemap", "sitemap"
    else:
        return [row(error=f"unexpected root element <{root_name}>")]
    out: list[dict] = []
    for entry in root:
        if _local(entry.tag) != entry_name:
            continue  # extension elements: skipped, not errors
        fields = {_local(c.tag): (c.text or "").strip() for c in entry}
        if not fields.get("loc"):
            continue  # loc is required; entry carries nothing without it
        freq = fields.get("changefreq", "").lower() or None
        out.append(row(
            kind=kind, loc=fields["loc"],
            lastmod=fields.get("lastmod") or None,
            changefreq=freq if freq in _FREQS else None,
            priority_milli=(_priority_milli(fields.get("priority"))
                            if kind == "url" else None)))
    return out


def parse_sitemaps(fetched: DataFrame) -> DataFrame:
    """``(url, xml)`` → one SITEMAP_SCHEMA row per entry (or one
    error row per malformed input) — stateless Arrow pass, no
    shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src_url", "kind", "loc", "lastmod", "changefreq",
                "priority_milli", "error"]
        for pdf in it:
            rows: list[dict] = []
            for src, xml in zip(pdf["url"], pdf["xml"]):
                rows.extend(parse_sitemap_xml(src, xml))
            yield pd.DataFrame(rows, columns=cols)

    return fetched.select("url", "xml").mapInPandas(
        batches, schema=SITEMAP_SCHEMA)
