"""URL/domain filtering (operators/webfilter.py + functions/web.py
host / registered-domain extraction)."""

from pyspark.sql import functions as F

from ferenda_spark.functions.web import (
    registered_domain,
    registered_domain_col,
    url_host,
    url_host_col,
)
from ferenda_spark.operators.webfilter import domain_filter, domain_stats

CASES = [
    ("https://www.example.com/path?q=1", "www.example.com", "example.com"),
    ("http://USER:pw@News.BBC.CO.UK:8080/x", "news.bbc.co.uk", "bbc.co.uk"),
    ("https://sub.deep.site.org/", "sub.deep.site.org", "site.org"),
    ("https://localhost/x", "localhost", "localhost"),
    ("ftp://mirror.co.jp/pub", "mirror.co.jp", "mirror.co.jp"),
    ("not a url", None, None),
    ("", None, None),
]


def test_host_and_domain_python_forms():
    for url, host, dom in CASES:
        assert url_host(url) == host, url
        assert registered_domain(host) == dom, url


def test_host_and_domain_column_twins(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in CASES], "url string")
    got = df.select(
        "url", url_host_col(F.col("url")).alias("h"),
        registered_domain_col(url_host_col(F.col("url"))).alias("d"))
    by_url = {r["url"]: (r["h"], r["d"]) for r in got.collect()}
    for url, host, dom in CASES:
        assert by_url[url] == (host, dom), url


def test_domain_stats_and_filter(spark):
    rows = [(i, f"https://h{i % 3}.ex{i % 2}.com/p/{i}") for i in range(12)]
    rows.append((99, "garbage"))
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    stats = {r["domain"]: (r["n_docs"], r["n_hosts"])
             for r in domain_stats(docs).collect()}
    assert stats["ex0.com"] == (6, 3) and stats["ex1.com"] == (6, 3)
    assert stats[None][0] == 1              # malformed bucket is visible
    kept = domain_filter(docs, blocklist=["ex0.com"])
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {i for i in range(12) if i % 2 == 1}   # ex1.com only
    assert 99 not in ids                     # malformed dropped
    # the DataFrame blocklist form agrees with the list form
    bl = spark.createDataFrame([("ex0.com",)], "domain string")
    assert {r["doc_id"] for r in domain_filter(docs, blocklist=bl)
            .collect()} == ids


def test_filter_plan_stays_scan_side(spark):
    """List blocklist compiles to a pushed filter; DataFrame blocklist
    joins broadcast — the corpus side never shuffles."""
    docs = spark.createDataFrame(
        [(i, f"https://h{i}.ex.com/") for i in range(10)],
        "doc_id long, url string")
    plan_list = domain_filter(docs, blocklist=["bad.com"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_list
    bl = spark.createDataFrame([("bad.com",)], "domain string")
    plan_df = domain_filter(docs, blocklist=bl) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_df
    assert "ShuffleExchange" not in plan_df


def test_latest_fetch_canonical_winner(spark):
    from datetime import datetime
    from ferenda_spark.operators.webfilter import latest_fetch
    rows = [
        ("https://a.com/x", datetime(2024, 1, 1)),
        ("https://a.com/x#frag", datetime(2024, 1, 3)),
        ("https://a.com/x/", datetime(2024, 1, 2)),
        ("https://b.com/y?b=2&a=1", datetime(2024, 1, 1)),
        ("https://b.com/y?a=1&b=2", datetime(2024, 1, 1)),  # ts tie
        ("https://c.com/z", datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    got = {r.canonical_url: r for r in latest_fetch(df).collect()}
    assert set(got) == {"https://a.com/x", "https://b.com/y?a=1&b=2",
                        "https://c.com/z"}
    a = got["https://a.com/x"]
    assert a.url == "https://a.com/x#frag" and a.n_fetches == 3
    # timestamp tie broken by raw url ascending (deterministic)
    b = got["https://b.com/y?a=1&b=2"]
    assert b.url == "https://b.com/y?a=1&b=2" and b.n_fetches == 2
    assert got["https://c.com/z"].n_fetches == 1


def test_latest_fetch_full_row_tiebreak_deterministic(spark):
    """Same canonical url, same warc_ts, same raw url, DIFFERENT
    content: the winner must be identical across partitionings (the
    order key covers the full row)."""
    from datetime import datetime
    from ferenda_spark.operators.webfilter import latest_fetch
    rows = [("https://a.com/x", datetime(2024, 1, 1), f"<html>{i}</html>")
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html string")
    a = latest_fetch(df).collect()
    b = latest_fetch(df.repartition(7)).collect()
    assert len(a) == len(b) == 1
    assert a[0].html == b[0].html and a[0].n_fetches == 20


# ------------------------------------------------------ url templates

TEMPLATE_URLS = [
    ("https://shop.example.com/product/12345", 
     "shop.example.com/product/{d}"),
    ("https://Example.com/2024/7/post-title-99?utm=x#frag",
     "example.com/{d}/{d}/{a}?utm"),
    ("https://a.io/u/deadbeef01/Profile", "a.io/u/{x}/profile"),
    ("https://a.io/u/0123e567/x", "a.io/u/{x}/x"),
    ("https://a.io/u/01234567/x", "a.io/u/{d}/x"),   # digits beat hex
    ("https://b.net/item/f47ac10b-58cc-4372-a567-0e02b2c3d479",
     "b.net/item/{uuid}"),
    ("https://c.org/search?q=hello&page=2&q=dup",
     "c.org/search?page,q,q"),
    ("https://c.org//a///b/", "c.org/a/b"),          # empty segs drop
    ("https://c.org", "c.org/"),
    ("https://user:pw@c.org:8080/Dir/File", "c.org/dir/file"),
    ("no-scheme/path", None),
]


def test_url_template_python_form():
    from ferenda_spark.functions.web import url_template
    for url, want in TEMPLATE_URLS:
        assert url_template(url) == want, url


def test_url_template_column_twin_equivalence(spark):
    from ferenda_spark.functions.web import url_template, url_template_col
    df = spark.createDataFrame([(u,) for u, _ in TEMPLATE_URLS],
                               "url string")
    got = {r["url"]: r["t"]
           for r in df.select("url", url_template_col(F.col("url"))
                              .alias("t")).collect()}
    for url, _ in TEMPLATE_URLS:
        assert got[url] == url_template(url), url


def test_url_templates_aggregation(spark):
    from ferenda_spark.operators.webfilter import url_templates
    urls = ([f"https://s.com/product/{i}" for i in range(5)]
            + ["https://s.com/about", "https://t.com/about",
               "bad-url"])
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["template"]: (r["n_urls"], r["sample_url"])
           for r in url_templates(df).collect()}
    assert got["s.com/product/{d}"] == (5, "https://s.com/product/0")
    assert got["s.com/about"] == (1, "https://s.com/about")
    assert got["t.com/about"] == (1, "https://t.com/about")
    assert len(got) == 3                     # bad-url dropped
    # a per-template budget is one filter on n_urls
    assert url_templates(df).filter("n_urls >= 2").count() == 1


def test_script_mix_profiles_and_homograph_flag(spark):
    from ferenda_spark.operators.textstats import script_mix
    rows = [(1, "plain ascii text"),
            (2, "paypal vs раураl"),       # latin + cyrillic
            (3, "漢字だけ"),          # cjk only
            (4, "Αθήνα abc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in script_mix(df).collect()}
    assert got[1]["dominant_script"] == "latin"
    assert not got[1]["latin_cyrillic_mix"]
    assert got[2]["latin_cyrillic_mix"]
    assert got[2]["n_cyrillic"] == 5
    assert got[3]["dominant_script"] == "cjk"
    assert got[3]["n_latin"] == 0
    assert got[4]["n_greek"] == 5 and got[4]["n_latin"] == 3
    assert got[4]["dominant_script"] == "greek"


def test_declared_canonical_fetch_collapse_and_fallback(spark):
    from ferenda_spark.operators.webfilter import (
        declared_canonical_fetch, latest_fetch)

    def pg(canon):
        return (f'<html><head><link rel="canonical" href="{canon}">'
                "</head></html>").encode() if canon else b"<html/>"

    import datetime as dt

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # three mirrors declaring one canonical: newest wins
        ("https://m.a.com/p1", ts(1), pg("https://a.com/art/1")),
        ("https://a.com/p1?utm=x", ts(3), pg("https://a.com/art/1")),
        ("https://a.com/art/1", ts(2), pg("https://a.com/art/1")),
        # silent page: falls back to its own normalized url
        ("https://b.com/q#frag", ts(5), pg(None)),
        # first-canonical-wins inside one page
        ("https://c.com/r", ts(6),
         b'<head><link rel="canonical" href="https://c.com/first">'
         b'<link rel="canonical" href="https://c.com/second"></head>'),
    ]
    fetches = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary")
    out = {r["canonical_url"]: r
           for r in declared_canonical_fetch(fetches).collect()}
    assert set(out) == {"https://a.com/art/1", "https://b.com/q",
                        "https://c.com/first"}
    grp = out["https://a.com/art/1"]
    assert grp["url"] == "https://a.com/p1?utm=x"  # newest fetch
    assert grp["n_fetches"] == 3 and grp["declared"]
    silent = out["https://b.com/q"]
    assert silent["n_fetches"] == 1 and not silent["declared"]
    assert out["https://c.com/first"]["declared"]

    # refinement property: without declarations the operator equals
    # latest_fetch's keying exactly
    silent_only = fetches.filter("url like 'https://b.com%'")
    a = {(r["canonical_url"], r["url"])
         for r in declared_canonical_fetch(silent_only).collect()}
    b = {(r["canonical_url"], r["url"])
         for r in latest_fetch(silent_only).collect()}
    assert a == b


def test_meta_refresh_edges(spark):
    from ferenda_spark.operators.webfilter import meta_refresh_edges

    def pg(content):
        return (f'<html><head><meta http-equiv="refresh" '
                f'content="{content}"></head></html>').encode() \
            if content is not None else b"<html/>"

    pages = spark.createDataFrame([
        ("https://a.com/x/p1", pg("0; url=/new")),          # abs path
        ("https://a.com/x/p2", pg("5;URL='q2'")),           # relative
        ("https://a.com/x/p3", pg("7 ; url = https://b.com/t")),
        ("https://a.com/x/p4", pg("30")),                   # reload
        ("https://a.com/x/p5", pg(None)),                   # none
        ("https://a.com/x/p6", pg("nonsense garbage")),     # invalid
        ("https://a.com/x/p7", pg("1; url=p7")),            # self
    ], "url string, html binary")
    out = {r["src"]: r for r in meta_refresh_edges(pages).collect()}
    assert set(out) == {"https://a.com/x/p1", "https://a.com/x/p2",
                        "https://a.com/x/p3"}
    assert out["https://a.com/x/p1"]["dst"] == "https://a.com/new"
    assert out["https://a.com/x/p1"]["delay_sec"] == 0
    assert out["https://a.com/x/p2"]["dst"] == "https://a.com/x/q2"
    assert out["https://a.com/x/p3"]["dst"] == "https://b.com/t"
    assert out["https://a.com/x/p3"]["delay_sec"] == 7


def test_threshold_for_keep_rate(spark):
    import pytest as _pytest

    from ferenda_spark.operators.classify import threshold_for_keep_rate
    scored = spark.createDataFrame(
        [(1, 2, 8), (2, 2, 6), (3, 2, 4), (4, 2, 2), (5, 0, 0)],
        "id long, n_tokens long, score_sum_milli long")
    # means (micro): 4000, 3000, 2000, 1000; empty doc excluded
    r = threshold_for_keep_rate(scored, rate_milli=500)
    assert r == {"threshold_milli": 3000, "kept": 2, "n": 4,
                 "n_empty": 1}
    # rate 600 of 4 docs → k = ceil(2.4) = 3 → third largest mean
    r = threshold_for_keep_rate(scored, rate_milli=600)
    assert r["threshold_milli"] == 2000 and r["kept"] == 3
    # the chosen threshold reproduces its keep-set via the keep rule
    from ferenda_spark.operators.classify import score_eval
    labels = scored.select("id", (F.col("id") <= 3).alias("label"))
    ev = score_eval(scored, labels,
                    thresholds=[r["threshold_milli"]]).first()
    # t=2000 > 0, so the empty doc drops; kept counts reconcile
    assert ev["tp"] + ev["fp"] == r["kept"]
    with _pytest.raises(ValueError, match="rate_milli"):
        threshold_for_keep_rate(scored, rate_milli=0)


def test_threshold_for_keep_rate_negative_scores(spark):
    """Negative NB log-odds score sums: the floor-mean must use true
    floor division (trunc = floor + 1 there), or the calibrated
    threshold keeps FEWER docs than the keep rule admits."""
    from ferenda_spark.operators.classify import threshold_for_keep_rate
    # floor-means (micro): -7000/3→-2334, -8000/3→-2667, -9000/4→
    # -2250, -1000/7→-143.  Trunc would give -2333 and -2666 for
    # docs 1/2 — thresholds the keep rule then REJECTS those docs
    # under (e.g. -7000 >= -2333*3 = -6999 is false), so a trunc
    # implementation reports kept=k while actually keeping k-1.
    scored = spark.createDataFrame(
        [(1, 3, -7), (2, 3, -8), (3, 4, -9), (4, 7, -1)],
        "id long, n_tokens long, score_sum_milli long")
    rows = scored.collect()
    # k=3 → threshold is doc 1's floor-mean, where floor != trunc
    r = threshold_for_keep_rate(scored, rate_milli=750)
    assert r["threshold_milli"] == -2334 and r["kept"] == 3
    t = r["threshold_milli"]
    keep = [x.id for x in rows
            if x.score_sum_milli * 1000 >= t * x.n_tokens]
    assert len(keep) == r["kept"] == 3 and set(keep) == {1, 3, 4}
    # k=4 → threshold is doc 2's floor-mean (also floor != trunc)
    r = threshold_for_keep_rate(scored, rate_milli=1000)
    assert r["threshold_milli"] == -2667
    t = r["threshold_milli"]
    keep = [x.id for x in rows
            if x.score_sum_milli * 1000 >= t * x.n_tokens]
    assert len(keep) == r["kept"] == 4


def test_hreflang_clusters_asymmetric_and_singletons(spark):
    from ferenda_spark.operators.webfilter import hreflang_clusters

    def pg(links):
        body = "".join(
            f'<link rel="alternate" hreflang="{h}" href="{u}">'
            for h, u in links)
        return f"<html><head>{body}</head></html>".encode()

    pages = spark.createDataFrame([
        # asymmetric family: en lists everyone; fr lists only en
        ("https://s/en", pg([("en", "https://s/en"),
                             ("fr", "https://s/fr"),
                             ("de", "https://s/de")])),
        ("https://s/fr", pg([("en", "https://s/en")])),
        # de exists but declares nothing at all
        ("https://s/de", pg([])),
        # untouched singleton
        ("https://s/solo", pg([])),
    ], "url string, html binary")
    out = {r["url"]: r for r in hreflang_clusters(pages).collect()}
    fam = {"https://s/en", "https://s/fr", "https://s/de"}
    # transitive closure joins all three under the min url
    assert {out[u]["cluster"] for u in fam} == {"https://s/de"}
    assert out["https://s/en"]["hreflang"] == "en"     # self-tag
    assert out["https://s/fr"]["hreflang"] is None     # no self-tag
    assert out["https://s/solo"]["cluster"] == "https://s/solo"
