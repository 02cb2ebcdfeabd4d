"""Frontier discovery + politeness: sitemap parsing, crawl-delay,
fetch scheduling."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators.crawl import schedule_fetches
from ferenda_spark.operators.robots import (parse_crawl_delay,
                                            parse_robots)
from ferenda_spark.operators.sitemaps import (parse_sitemap_xml,
                                              parse_sitemaps)

URLSET = """\
<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:image="http://www.google.com/schemas/sitemap-image/1.1">
  <url>
    <loc>https://a.com/doc1</loc>
    <lastmod>2024-01-05</lastmod>
    <changefreq>Daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>https://a.com/doc2</loc></url>
  <url><lastmod>2024-01-01</lastmod></url>
  <url>
    <loc>https://a.com/doc3</loc>
    <changefreq>sometimes</changefreq>
    <priority>1.7</priority>
    <image:image><image:loc>https://a.com/i.png</image:loc></image:image>
  </url>
</urlset>
"""

INDEX = """\
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://a.com/sitemap-1.xml</loc>
    <lastmod>2024-02-01T10:00:00Z</lastmod></sitemap>
  <sitemap><loc>https://a.com/sitemap-2.xml</loc></sitemap>
</sitemapindex>
"""


def test_parse_urlset_twin():
    rows = parse_sitemap_xml("https://a.com/sitemap.xml", URLSET)
    # loc-less entry skipped; spec default priority 0.5 -> 500;
    # out-of-contract changefreq/priority -> NULL, never an error
    assert [(r["loc"], r["lastmod"], r["changefreq"], r["priority_milli"])
            for r in rows] == [
        ("https://a.com/doc1", "2024-01-05", "daily", 800),
        ("https://a.com/doc2", None, None, 500),
        ("https://a.com/doc3", None, None, None)]
    assert all(r["kind"] == "url" and r["error"] is None for r in rows)


def test_parse_index_and_errors():
    rows = parse_sitemap_xml("s", INDEX)
    assert [(r["kind"], r["loc"], r["lastmod"]) for r in rows] == [
        ("sitemap", "https://a.com/sitemap-1.xml",
         "2024-02-01T10:00:00Z"),
        ("sitemap", "https://a.com/sitemap-2.xml", None)]
    # index entries carry no priority
    assert all(r["priority_milli"] is None for r in rows)
    # poison inputs: ONE error row each, loc NULL
    bad = parse_sitemap_xml("s", "<urlset><url></urlset>")
    assert len(bad) == 1 and bad[0]["error"].startswith("xml:")
    wrong = parse_sitemap_xml("s", "<rss></rss>")
    assert len(wrong) == 1 and "rss" in wrong[0]["error"]


def test_parse_sitemaps_spark(spark):
    df = spark.createDataFrame(
        [("https://a.com/sitemap.xml", URLSET),
         ("https://a.com/index.xml", INDEX),
         ("https://b.com/bad.xml", "not xml <")],
        "url string, xml string")
    out = parse_sitemaps(df).collect()
    twin = (parse_sitemap_xml("https://a.com/sitemap.xml", URLSET)
            + parse_sitemap_xml("https://a.com/index.xml", INDEX)
            + parse_sitemap_xml("https://b.com/bad.xml", "not xml <"))
    got = sorted((r["src_url"], r["kind"], r["loc"], r["error"] is None)
                 for r in out)
    assert got == sorted((r["src_url"], r["kind"], r["loc"],
                          r["error"] is None) for r in twin)
    assert len(out) == 6


DELAYED = """\
User-agent: *
Crawl-delay: 2
Disallow: /private/

User-agent: ferendabot
Crawl-delay: 0.5
User-agent: ferendabot
Crawl-delay: 1.5
"""


def test_parse_crawl_delay_twin():
    # exact group wins exclusively; max across chosen groups
    assert parse_crawl_delay(DELAYED, "ferendabot") == 1500
    assert parse_crawl_delay(DELAYED, "otherbot") == 2000
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n") is None
    # garbage / negative delays ignored
    assert parse_crawl_delay(
        "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -1\n") is None
    assert parse_crawl_delay(None) is None


def test_parse_robots_carries_delay(spark):
    df = spark.createDataFrame(
        [("a.com", DELAYED), ("b.com", "User-agent: *\nDisallow: /x\n")],
        "domain string, robots_txt string")
    rows = {r["domain"]: r["crawl_delay_millis"]
            for r in parse_robots(df, agent="ferendabot").collect()}
    assert rows == {"a.com": 1500, "b.com": None}


def test_schedule_fetches(spark):
    frontier = spark.createDataFrame(
        [("https://a.com/p2",), ("https://a.com/p1",),
         ("https://a.com/p3",), ("https://b.com/q1",),
         ("https://b.com/q2",), ("https://c.com/r1",)],
        "url string")
    delays = spark.createDataFrame(
        [("a.com", 2000), ("b.com", None)],
        "domain string, crawl_delay_millis long")
    out = {r["url"]: (r["host"], r["fetch_seq"], r["not_before_millis"])
           for r in schedule_fetches(frontier, delays).collect()}
    # a.com: url-ordered queue at its 2 s delay
    assert out["https://a.com/p1"] == ("a.com", 1, 0)
    assert out["https://a.com/p2"] == ("a.com", 2, 2000)
    assert out["https://a.com/p3"] == ("a.com", 3, 4000)
    # b.com has a row but NULL delay; c.com has no row: default 1 s
    assert out["https://b.com/q2"] == ("b.com", 2, 1000)
    assert out["https://c.com/r1"] == ("c.com", 1, 0)
    # head-host cap: the tail re-enters next round
    capped = schedule_fetches(frontier, delays, max_per_host=2)
    assert capped.count() == 5
    # no-delays form + plan shape: delays broadcast, per-host window
    plan = (schedule_fetches(frontier, delays)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    bare = schedule_fetches(frontier.limit(1)).collect()
    assert bare[0]["not_before_millis"] == 0


def test_revisit_schedule_monotone_in_churn(spark, monkeypatch):
    """More observed change → larger λ̂ → shorter revisit; clamping
    holds at both ends; all-unchanged hosts get a finite small λ̂."""
    import math
    from ferenda_spark.operators.crawl import revisit_schedule
    prof = spark.createDataFrame(
        [("hot.example", 0, 0, 90, 10),
         ("warm.example", 0, 0, 10, 90),
         ("cold.example", 0, 0, 0, 100),
         ("empty.example", 5, 2, 0, 0)],   # no surviving pages: drop
        "host string, n_new long, n_gone long, n_modified long, "
        "n_unchanged long")
    day = 86400
    got = {r["host"]: r for r in
           revisit_schedule(prof, interval_s=7 * day).collect()}
    assert "empty.example" not in got
    lam_hot = -math.log((100 - 90 + 0.5) / 100.5) / (7 * day)
    assert got["hot.example"]["lambda_micro"] == int(lam_hot * 1e6)
    assert (got["hot.example"]["revisit_s"]
            < got["warm.example"]["revisit_s"]
            <= got["cold.example"]["revisit_s"])
    # cold host: tiny λ̂ clamps to the 30-day ceiling
    assert got["cold.example"]["revisit_s"] == 30 * day
    # ultra-hot host with a tight band clamps to the floor
    monkeypatch.setattr("ferenda_spark.operators.crawl.MIN_REVISIT_S", 10 ** 6)
    tight = revisit_schedule(prof, interval_s=7 * day).collect()
    m = {r["host"]: r["revisit_s"] for r in tight}
    assert m["hot.example"] == 10 ** 6
