"""Syndication-feed reader (sources/feeds.py) + writer roundtrip."""

import datetime as dt

from ferenda_spark.sources.feeds import feed_entries, parse_feed

ATOM = ('<?xml version="1.0" encoding="utf-8"?>'
        '<feed xmlns="http://www.w3.org/2005/Atom"><title>F &amp; G</title>'
        '<updated>2024-01-02T03:04:05Z</updated>'
        '<entry><id>urn:entry:7</id><title>T7</title>'
        '<link rel="self" href="/self/7"/>'
        '<link rel="alternate" href="/e/7"/>'
        '<updated>2024-01-02T03:04:05Z</updated></entry>'
        '<entry><id>urn:entry:8</id><title>T8</title>'
        '<link href="e/8"/>'
        '<updated>2024-01-02T05:04:05+02:00</updated></entry>'
        '</feed>')

RSS = ('<rss version="2.0"><channel><title>Chan</title>'
       '<item><guid>urn:g:1</guid><title>I1</title>'
       '<pubDate>Tue, 02 Jan 2024 05:04:05 +0200</pubDate>'
       '<link>https://h.example/a/1</link></item>'
       '<item><title>NoGuid</title><link>/a/2</link></item>'
       '</channel></rss>')


def test_parse_atom_links_and_tz_normalization():
    rows = parse_feed("https://h.example/feed", ATOM)
    assert [r["error"] for r in rows] == [None, None]
    e7, e8 = rows
    assert e7["feed_title"] == "F & G" and e7["format"] == "atom"
    # rel=alternate preferred over rel=self; href resolved
    assert e7["link"] == "https://h.example/e/7"
    assert e7["updated"] == dt.datetime(2024, 1, 2, 3, 4, 5)
    # rel-less link accepted (alternate by default), relative resolve
    assert e8["link"] == "https://h.example/e/8"
    # +02:00 normalized to naive UTC — same instant as e7
    assert e8["updated"] == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_parse_rss_guid_fallback_and_rfc822():
    rows = parse_feed("https://h.example/rss.xml", RSS)
    i1, i2 = rows
    assert i1["format"] == "rss" and i1["feed_title"] == "Chan"
    assert i1["entry_id"] == "urn:g:1"
    assert i1["updated"] == dt.datetime(2024, 1, 2, 3, 4, 5)
    # guid-less item: resolved link doubles as the id (convention)
    assert i2["entry_id"] == i2["link"] == "https://h.example/a/2"
    assert i2["updated"] is None


def test_parse_feed_fail_loud():
    assert parse_feed("u", "not xml <")[0]["error"].startswith("xml:")
    assert "unsupported root" in parse_feed("u", "<opml/>")[0]["error"]
    assert "no channel" in parse_feed(
        "u", '<rss version="2.0"/>')[0]["error"]
    # bad dates degrade to NULL, never crash
    row = parse_feed("u", '<rss version="2.0"><channel><title>t'
                          '</title><item><link>https://x/1</link>'
                          '<pubDate>whenever</pubDate></item>'
                          '</channel></rss>')[0]
    assert row["updated"] is None and row["error"] is None


def test_writer_reader_roundtrip_with_links(spark):
    from pyspark.sql import functions as F

    from ferenda_spark.operators.render import atom_feeds
    entries = spark.createDataFrame(
        [("news", 1, "A & B", dt.datetime(2024, 1, 2, 3, 4, 5),
          "https://s.com/a/1"),
         ("news", 2, "C <2>", dt.datetime(2024, 1, 3, 0, 0, 0),
          "https://s.com/a/2")],
        "feed string, event_id int, title string, ts timestamp, "
        "link string")
    feeds = atom_feeds(entries, link_col="link")
    got = {r["entry_id"]: r for r in feed_entries(
        feeds, url_col="feed", xml_col="atom_xml").collect()}
    assert got["urn:entry:1"]["title"] == "A & B"
    assert got["urn:entry:1"]["link"] == "https://s.com/a/1"
    assert got["urn:entry:1"]["updated"] == dt.datetime(2024, 1, 2,
                                                        3, 4, 5)
    assert got["urn:entry:2"]["title"] == "C <2>"
    assert all(r["feed_title"] == "news" for r in got.values())
    # link_col omitted: no link element (byte-compat with round 3)
    plain = atom_feeds(entries).first()["atom_xml"]
    assert "<link" not in plain
    # one stateless Arrow pass over a plain source (the Exchange in
    # the composed roundtrip belongs to the WRITER's groupBy)
    plain_src = spark.createDataFrame(
        [("https://h.example/feed", ATOM)], "url string, xml string")
    plan = feed_entries(plain_src)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_wildxml = st.one_of(
    st.text(alphabet=st.characters(codec="utf-8",
                                   exclude_categories=["Cs"]),
            max_size=300),
    st.lists(st.sampled_from(
        ["<feed", ' xmlns="http://www.w3.org/2005/Atom"', "><entry>",
         "<id>", "</id>", "<rss", "<channel>", "<item>", "<guid>",
         "<pubDate>whenever</pubDate>", "<link>", "</link>", "]]>",
         "&", "<", ">"]), max_size=25).map("".join))


@given(_wildxml)
@settings(max_examples=150, deadline=None)
def test_fuzz_feed_parser_never_crashes(xml):
    rows = parse_feed("https://f.example/feed", xml)
    assert isinstance(rows, list)
    for r in rows:
        # a row is either a parse error or a well-formed entry shell
        assert r["error"] is not None or r["format"] in ("atom", "rss")
