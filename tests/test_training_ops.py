"""Tests for the training-data operator family (dedup, similarity,
textstats, multimodal) and the analytics operators."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ferenda_spark.operators import (  # noqa: F401
    analytics,
    dedup,
    multimodal,
    similarity,
    textstats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="a quick brown fox jumps over the lazy dog"),
        Row(doc_id=4, text="completely different words here entirely now"),
        Row(doc_id=5, text="to be"),  # shorter than one 3-shingle
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(docs):
    out = {r["text_md5"]: r for r in dedup.exact_dedup(docs).collect()}
    assert sum(r["n_copies"] for r in out.values()) == 5
    dupe = [r for r in out.values() if r["n_copies"] == 2]
    assert len(dupe) == 1 and dupe[0]["keeper_id"] == 1


def test_shingles_and_jaccard(docs, monkeypatch):
    sh = docs.select("doc_id", dedup.shingles(F.col("text")).alias("sh"))
    by_id = {r["doc_id"]: r["sh"] for r in sh.collect()}
    assert "the quick brown" in by_id[1]
    assert len(by_id[1]) == 7  # 9 tokens → 7 trigrams, all distinct
    assert by_id[5] == []      # short doc → empty, not an error

    monkeypatch.setattr("ferenda_spark.operators.dedup.JACCARD_THRESHOLD", 0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_jaccard_cap_default_and_explicit_optout(spark, docs, monkeypatch):
    """The df-cap is ON by default (hot-shingle skew guard); the
    default cap (1000) never binds on small corpora, so results equal
    the explicit ``max_df=None`` opt-out there — while a binding cap
    provably changes the universe (boilerplate shingles dropped)."""
    monkeypatch.setattr("ferenda_spark.operators.dedup.JACCARD_THRESHOLD", 0.5)
    default_pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                     for r in dedup.jaccard_pairs(
                         docs).collect()}
    optout_pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                    for r in dedup.jaccard_pairs(
                        docs, max_df=None).collect()}
    assert default_pairs == optout_pairs
    # a binding cap: boilerplate prefix shared by all 4 docs is
    # dropped at max_df=2, leaving no shared shingles → no pairs
    boiler = spark.createDataFrame(
        [(i, "shared boilerplate header sentence here "
             f"unique{i} tail{i} words{i} end{i}") for i in range(4)],
        "doc_id long, text string")
    # uncapped jaccard = 3 shared trigrams / 11 union = 0.2727
    monkeypatch.setattr(
        "ferenda_spark.operators.dedup.JACCARD_THRESHOLD", 0.25)
    capped = dedup.jaccard_pairs(boiler, max_df=2).collect()
    uncapped = dedup.jaccard_pairs(boiler, max_df=None).collect()
    assert len(uncapped) > 0 and len(capped) == 0


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.minhash_dedup_pairs(
                 docs, k=8, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0    # identical docs always collide
    assert not any(4 in p for p in pairs)


def test_simhash_properties(docs):
    sigs = {r["id"]: r["simhash"]
            for r in dedup.simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    ham_close = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_close < ham_far


def test_cosine_topk_exact(spark, monkeypatch):
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate([
        [1.0, 0.0, 0.0],
        [0.9, 0.1, 0.0],   # closest to 0
        [0.0, 1.0, 0.0],
        [-1.0, 0.0, 0.0],  # opposite of 0
    ])]
    emb = spark.createDataFrame(rows)
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr("ferenda_spark.operators.similarity.TOPK", 3)
    out = similarity.cosine_topk(emb, qs).collect()
    ranked = [r["item_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    top = [r for r in out if r["rank"] == 1][0]
    expect = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(top["cos_sim"] - expect) < 1e-6


def test_band_buckets_udf_matches_column(spark):
    """The Arrow-matmul hot path and the declarative Column form of
    banded LSH bucketing must agree bit-for-bit (both operate on
    milli-unit-quantized integer components, so there is no
    float-summation-order ambiguity)."""
    rows = [Row(vec_id=i,
                embedding=[(((i * 13 + j * 7) % 17) - 8) / 5.0
                           for j in range(16)])
            for i in range(50)]
    emb = spark.createDataFrame(rows)
    col_form = {r["vec_id"]: list(r["b"]) for r in emb.select(
        "vec_id", similarity.lsh_band_buckets(
            F.col("embedding"), 16, bands=3, planes_per_band=4)
        .alias("b")).collect()}
    udf_form = {r["vec_id"]: list(r["b"]) for r in emb.select(
        "vec_id", similarity.band_bucket_udf(16, bands=3, planes_per_band=4)(
            F.col("embedding")).alias("b")).collect()}
    assert col_form == udf_form
    assert all(len(v) == 3 and all(0 <= x < 16 for x in v)
               for v in col_form.values())


def test_banded_lsh_recall_vs_brute(spark):
    """Banded multi-probe LSH near-dup must recover most true
    cos≥0.95 pairs (recall vs the exact all-pairs baseline) and
    never emit a pair below the threshold."""
    import numpy as np
    dim = 16
    vecs = {}
    vid = 0
    for c in range(8):  # 8 clusters × 3 near-identical members
        base = np.array([((c * 31 + j * 11 + 3) % 13) - 6.0
                         for j in range(dim)])
        for k in range(3):
            v = base.copy()
            v[(c + k) % dim] += 0.05 * k
            vecs[vid] = v
            vid += 1
    truth = set()
    for a in vecs:
        for b in vecs:
            if a < b:
                va, vb = vecs[a], vecs[b]
                cos = va.dot(vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
                if cos >= 0.95:
                    truth.add((a, b))
    assert len(truth) >= 8  # fixture produces real near-dup pairs
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in vecs.items()])
    found = {(r["id_a"], r["id_b"])
             for r in similarity.embedding_near_dup_pairs(
                 emb, dim, threshold=0.95,
                 bands=4, planes_per_band=4).collect()}
    recall = len(found & truth) / len(truth)
    assert recall >= 0.75
    for a, b in found:  # precision: nothing below threshold
        va, vb = vecs[a], vecs[b]
        cos = va.dot(vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert cos >= 0.9499


def test_canonical_url_forms_agree(spark):
    """py and Column canonicalizers must agree, and both must
    collapse the classic crawl variants to one key."""
    from ferenda_spark.functions.web import canonical_url, canonical_url_col
    urls = [
        "http://example.com/p/7?a=1&b=2",
        "HTTP://EXAMPLE.COM/p/7?a=1&b=2",
        "http://example.com:80/p/7?a=1&b=2",
        "http://example.com/p/7/?b=2&a=1",
        "http://example.com/p/7?a=1&b=2#sec-3",
        "https://Secure.Example.com:443/x",
        "https://secure.example.com/x/",
        "not a url at all",
        "http://h.io",
    ]
    py = [canonical_url(u) for u in urls]
    assert len(set(py[:5])) == 1  # five variants → one key
    assert py[0] == "http://example.com/p/7?a=1&b=2"
    assert py[5] == py[6] == "https://secure.example.com/x"
    assert py[7] == "not a url at all"  # non-URLs pass through
    df = spark.createDataFrame([Row(u=u) for u in urls])
    col = [r["c"] for r in df.select(
        canonical_url_col(F.col("u")).alias("c")).collect()]
    assert col == py


def test_repetition_signals(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="spam spam spam spam"),
        Row(doc_id=2, text="all words here are unique tokens"),
        Row(doc_id=3, text="one"),
    ])
    out = {r["doc_id"]: r for r in textstats.text_metrics(docs).collect()}
    assert out[1]["top_unigram_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0
    assert out[1]["distinct_frac"] == 0.25
    assert out[2]["top_unigram_frac"] == round(1 / 6, 6)
    assert out[2]["distinct_frac"] == 1.0
    assert out[3]["top_bigram_frac"] == 0.0  # no bigrams in 1 token


def test_ivf_topk_recall_vs_brute(spark, monkeypatch):
    """IVF probe search must agree with the exact brute-force top-k
    on most (query, rank-1) answers, and scoring must only touch
    probed lists (every returned item shares a probed list)."""
    import numpy as np
    dim = 16
    rows = []
    for i in range(60):
        base = np.array([((i % 6) * 17 + j * 5 + 1) % 11 - 5.0
                         for j in range(dim)])
        v = base + 0.01 * ((i * 7) % 13)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    emb = spark.createDataFrame(rows)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr("ferenda_spark.operators.similarity.TOPK", 3)
    exact = {(r["query_id"], r["rank"]): r["item_id"]
             for r in similarity.cosine_topk(emb, qs).collect()}
    monkeypatch.setattr("ferenda_spark.operators.similarity.IVF_CENTROIDS", 6)
    approx = {(r["query_id"], r["rank"]): r["item_id"]
              for r in similarity.ivf_topk(
                  emb, qs, dim).collect()}
    hits = sum(1 for q in range(5)
               if exact.get((q, 1)) == approx.get((q, 1)))
    assert hits >= 4  # rank-1 recall ≥ 0.8 on clustered fixture
    # determinism across partitionings
    approx2 = {(r["query_id"], r["rank"]): r["item_id"]
               for r in similarity.ivf_topk(
                   emb.repartition(7), qs, dim).collect()}
    assert approx == approx2


def test_textstats(docs):
    q = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert 0 <= q[1]["quality"] <= 1
    assert q[1]["stopword_ratio"] > q[4]["stopword_ratio"]


def test_gopher_rules(spark):
    """Each published band trips on a purpose-built doc; a normal
    English paragraph passes all seven rules; the whole filter is one
    shuffle-free projection."""
    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs back to the barn with plenty of words that have "
            "normal shape and size so the filter should be happy " * 3)
    short = "too few words here"
    bullets = "\n".join("• item %d with several more words" % i
                        for i in range(10)) + "\n" + good
    ellipsis = "\n".join("trailing thought number %d goes on..." % i
                         for i in range(10)) + "\nplain line\n" + good
    symbols = good + " " + "# " * 40
    nonalpha = ("the be to of and that have with " +
                "1234 5678 " * 30)
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, bullets), (4, ellipsis),
         (5, symbols), (6, nonalpha)],
        "doc_id long, text string")
    out = {r["id"]: r for r in textstats.gopher_rules(docs).collect()}
    assert out[1]["keep"] is True
    assert all(out[1][c] for c in out[1].asDict() if c.startswith("rule_"))
    assert out[2]["rule_n_words"] is False and out[2]["keep"] is False
    assert out[3]["rule_bullets"] is False and out[3]["bullet_line_frac"] > 0.9
    assert out[4]["rule_ellipsis"] is False
    assert out[5]["rule_symbols"] is False
    assert out[6]["rule_alpha"] is False
    assert out[6]["rule_stopwords"] is True  # all 8 present
    plan = (textstats.gopher_rules(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_langid(spark):
    rows = [
        Row(doc_id=1, text="the cat and the dog of the house is that"),
        Row(doc_id=2, text="el gato de la casa que los perros una por"),
        Row(doc_id=3, text="le chat dans la maison est pour les des une"),
        Row(doc_id=4, text="der hund und die katze ist nicht ein mit"),
    ]
    out = {r["doc_id"]: r["pred_lang"]
           for r in textstats.langid(spark.createDataFrame(rows)).collect()}
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de"}


def test_media_metadata_fake_and_stub(docs, spark):
    media = multimodal.attach_media(docs)
    meta = {r["media_id"]: r
            for r in multimodal.media_metadata(media).collect()}
    assert meta[1]["n_bytes"] == len(
        "the quick brown fox jumps over the lazy dog")
    assert meta[1]["kind"] in ("image", "audio", "video")


def test_asof_join(spark):
    left = spark.createDataFrame([
        Row(k="a", ts=10, v="l1"), Row(k="a", ts=20, v="l2"),
        Row(k="b", ts=5, v="l3")])
    right = spark.createDataFrame([
        Row(k="a", ts=9, event_id="r1"), Row(k="a", ts=15, event_id="r2"),
        Row(k="b", ts=6, event_id="r3")])
    out = {(r["k"], r["ts"]): r["asof_event_id"]
           for r in analytics.asof_join(left, right, "k").collect()}
    assert out == {("a", 10): "r1", ("a", 20): "r2", ("b", 5): None}


def test_sessionize(spark):
    rows = [Row(user_id=1, event_id=i, ts=t) for i, t in enumerate([
        "2024-01-01 10:00:00", "2024-01-01 10:10:00",  # session 1
        "2024-01-01 12:00:00",                          # session 2
    ])]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.to_timestamp("ts"))
    out = {r["event_id"]: r["session_id"]
           for r in analytics.sessionize(df).collect()}
    assert out == {0: 1, 1: 1, 2: 2}


def test_transitive_closure(spark):
    edges = spark.createDataFrame([
        Row(child="s11", parent="s1"), Row(child="s1", parent="doc"),
        Row(child="s12", parent="s1")])
    out = {(r["descendant"], r["ancestor"]): r["depth"]
           for r in analytics.transitive_closure(edges).collect()}
    assert out[("s11", "s1")] == 1
    assert out[("s11", "doc")] == 2
    assert out[("s1", "doc")] == 1
    assert len(out) == 5


def test_salted_join_equals_plain_join(spark, monkeypatch):
    big = spark.createDataFrame(
        [Row(k=i % 3, v=i) for i in range(100)])
    dim = spark.createDataFrame(
        [Row(k=i, name=f"n{i}") for i in range(3)])
    plain = set(map(tuple, big.join(dim, "k").select(
        "k", "v", "name").collect()))
    monkeypatch.setattr("ferenda_spark.operators.analytics.SALT_BUCKETS", 4)
    salted = set(map(tuple, analytics.salted_join(big, dim, "k")
                     .select("k", "v", "name").collect()))
    assert plain == salted


def test_facet_stats_cube(spark):
    df = spark.createDataFrame(
        [Row(a="x", b="p"), Row(a="x", b="q"), Row(a="y", b="p")])
    out = analytics.facet_stats(df, ["a", "b"]).collect()
    total = [r for r in out if r["grouping_mask"] == 3]
    assert len(total) == 1 and total[0]["n"] == 3
    per_a = {r["a"]: r["n"] for r in out if r["grouping_mask"] == 2}
    assert per_a == {"x": 2, "y": 1}


def test_natural_sort_key_col(spark):
    from ferenda_spark.functions.text import natural_sort_key_col
    # ordinal domain as the reference compares it (util.numcmp over
    # split_numalpha sort keys): "2" < "6" < "6 a" < "10"
    df = spark.createDataFrame(
        [Row(s="2"), Row(s="10"), Row(s="6 a"), Row(s="6")])
    out = [r["s"] for r in df.orderBy(
        natural_sort_key_col(F.col("s"))).collect()]
    assert out == ["2", "6", "6 a", "10"]


def test_facet_schema_and_statistics(spark):
    from ferenda_spark.functions.facets import (
        Facet,
        facet_statistics,
        faceted_data,
    )
    cols = "subj string, pred string, obj string"
    edges = spark.createDataFrame([
        ("d1", "rdf:type", "T1"), ("d1", "dcterms:issued", "1998-07"),
        ("d1", "dcterms:title", "Alpha"),
        ("d2", "rdf:type", "T1"), ("d2", "dcterms:issued", "2001-01"),
        ("d2", "dcterms:title", "beta"),
        ("d3", "rdf:type", "T2"), ("d3", "dcterms:title", "Axe"),
    ], cols)
    facets = [Facet("rdf:type"), Facet("dcterms:issued", "year"),
              Facet("dcterms:title", "firstletter")]
    wide = {r["uri"]: r for r in faceted_data(edges, facets).collect()}
    assert wide["d1"]["issued_year"] == "1998"
    assert wide["d2"]["title_firstletter"] == "b"
    assert wide["d3"]["issued_year"] is None

    stats = {(r["facet"], r["value"]): r["n"]
             for r in facet_statistics(edges, facets).collect()}
    assert stats[("type", "T1")] == 2
    assert stats[("type", "T2")] == 1
    assert stats[("title_firstletter", "a")] == 2
    assert stats[("issued_year", None)] == 1  # d3 lacks issued


def test_chunk_words_udtf_matches_column(spark):
    """§2.11: the Python UDTF and the JVM Column form of word
    chunking must produce identical row sets."""
    from ferenda_spark.functions import tablefns
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f g h i j k l m"),
        Row(doc_id=2, text="one two three"),
        Row(doc_id=3, text=""),      # word-less → zero rows, both forms
        Row(doc_id=4, text="   "),
    ])
    tablefns.register(spark)
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = {tuple(r) for r in spark.sql(
        "SELECT doc_id, f.frag_no, f.fragment "
        "FROM udtf_docs, LATERAL chunk_words(text, 5) AS f").collect()}
    via_col = {tuple(r) for r in
               tablefns.chunk_words_col(docs, 5).collect()}
    assert via_udtf == via_col
    assert (1, 2, "k l m") in via_udtf
    assert (2, 0, "one two three") in via_udtf


def test_crawl_frontier_bfs(spark, monkeypatch):
    """S1 scheduler: min-depth BFS with visited anti-join, cycle
    tolerance, and early stop when a round finds nothing."""
    from ferenda_spark.operators.crawl import crawl_frontier
    links = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),  # diamond
         ("d", "a"),                                      # cycle back
         ("d", "e"), ("x", "y")],                         # y unreachable
        "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "url string")
    monkeypatch.setattr("ferenda_spark.operators.crawl.FRONTIER_MAX_DEPTH", 5)
    out = {r["url"]: r["depth"]
           for r in crawl_frontier(links, seeds).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}


def test_atom_feeds_render(spark):
    """S11: entries newest-first, XML-escaped titles, feed updated =
    newest entry."""
    import datetime
    from ferenda_spark.operators import render
    t = lambda s: datetime.datetime(2024, 1, 1, 12, 0, s)
    entries = spark.createDataFrame(
        [Row(feed="f", event_id=1, title="a & <b>", ts=t(30)),
         Row(feed="f", event_id=2, title="plain", ts=t(50)),
         Row(feed="g", event_id=3, title="x", ts=t(10))])
    out = {r["feed"]: r["atom_xml"]
           for r in render.atom_feeds(entries).collect()}
    f = out["f"]
    assert f.startswith('<?xml version="1.0" encoding="utf-8"?><feed')
    assert "a &amp; &lt;b&gt;" in f and "&" not in f.replace(
        "&amp;", "").replace("&lt;", "").replace("&gt;", "")
    assert "<updated>2024-01-01T12:00:50Z</updated>" in f.split(
        "<entry>")[0]                       # feed updated = newest
    assert f.index("urn:entry:2") < f.index("urn:entry:1")  # newest first
    assert out["g"].count("<entry>") == 1


def test_render_xhtml_pages(spark, monkeypatch):
    """S11: XHTML+RDFa page render — head triples sorted (pred, obj)
    with title/link/meta element choice, used-prefix-only xmlns
    declarations, nested-div body in natural sibling order, XML
    escaping, xml:lang from the langs table."""
    from ferenda_spark.operators.render import render_xhtml_pages
    trip = spark.createDataFrame(
        [("u1", "dcterms:title", "A & B"),
         ("u1", "rdf:type", "https://example.org/ontology/rfc#Act"),
         ("u1", "dcterms:extent", "12")],
        "subj string, pred string, obj string")
    nodes = spark.createDataFrame(
        [("u1", "K2", "chapter", "2", None, 1, "later <chap>"),
         ("u1", "K10", "chapter", "10", None, 1, "tenth"),
         ("u1", "K2P1", "section", "1", "K2", 2, "sec")],
        "url string, node_id string, kind string, ordinal string, "
        "parent_id string, depth int, text string")
    langs = spark.createDataFrame([("u1", "sv")], "url string, lang string")
    monkeypatch.setattr("ferenda_spark.operators.render.RENDER_MAX_DEPTH", 2)
    x = render_xhtml_pages(trip, nodes, langs=langs).collect()[0]["xhtml"]
    # head: sorted by pred → extent, title, rdf:type; element choice
    assert x.index('<meta property="dcterms:extent" content="12"/>') \
        < x.index('<title property="dcterms:title">A &amp; B</title>') \
        < x.index('<link rel="rdf:type" '
                  'href="https://example.org/ontology/rfc#Act"/>')
    # only used prefixes declared, sorted
    assert 'xmlns:dcterms="http://purl.org/dc/terms/"' in x
    assert "xmlns:rdfs" not in x and "xmlns:prov" not in x
    assert x.index("xmlns:dcterms") < x.index("xmlns:rdf=")
    # body: natural order K2 before K10; section nested inside K2
    k2, k10 = x.index('about="u1#K2"'), x.index('about="u1#K10"')
    assert k2 < k10
    assert k2 < x.index('about="u1#K2P1"') < k10
    assert "later &lt;chap&gt;" in x
    assert ' xml:lang="sv">' in x
    assert x.startswith('<?xml version="1.0" encoding="utf-8"?><html ')


def test_render_xhtml_escapes_attribute_quotes(spark, monkeypatch):
    """A double quote or ampersand inside an attribute value (meta
    content, link href, about URL) must not break the document —
    the whole page has to stay parseable XML."""
    import xml.etree.ElementTree as ET
    from ferenda_spark.operators.render import render_xhtml_pages
    trip = spark.createDataFrame(
        [('u"x&y', "dcterms:title", 'The "GDPR" directive'),
         ('u"x&y', "dcterms:publisher", 'Pub "quoted" & Co'),
         ('u"x&y', "rdf:type", "https://example.org/t?a=1&b=2")],
        "subj string, pred string, obj string")
    nodes = spark.createDataFrame(
        [('u"x&y', "K1", "chapter", "1", None, 1, 'body "text"')],
        "url string, node_id string, kind string, ordinal string, "
        "parent_id string, depth int, text string")
    monkeypatch.setattr("ferenda_spark.operators.render.RENDER_MAX_DEPTH", 1)
    x = render_xhtml_pages(trip, nodes).collect()[0]["xhtml"]
    assert 'content="Pub &quot;quoted&quot; &amp; Co"' in x
    assert 'href="https://example.org/t?a=1&amp;b=2"' in x
    assert '<head about="u&quot;x&amp;y">' in x
    root = ET.fromstring(x)  # must parse as well-formed XML
    assert root.tag.endswith("html")


def test_facet_multitype_subject_guard(spark):
    """A subject with several rdf:types must satisfy a type guard via
    ANY of them (facet_query FILTER semantics) — not via one
    arbitrarily-chosen type."""
    from ferenda_spark.functions.facets import Facet, faceted_data
    edges = spark.createDataFrame(
        [("s1", "rdf:type", "bibo:Report"),
         ("s1", "rdf:type", "bibo:Standard"),   # multi-typed
         ("s1", "dcterms:title", "alpha"),
         ("s2", "rdf:type", "bibo:Report"),
         ("s2", "dcterms:title", "beta"),
         ("s3", "rdf:type", "bibo:Webpage"),
         ("s3", "dcterms:title", "gamma")],
        "subj string, pred string, obj string")
    out = {r["uri"]: r["title"] for r in faceted_data(
        edges, [Facet("dcterms:title", rdftype="bibo:Standard")],
        types=["bibo:Report", "bibo:Standard"]).collect()}
    assert out == {"s1": "alpha", "s2": None}   # s3 filtered, s2 nulled


def test_version_tiebreak_is_natural_order(spark):
    """'v10' must outrank 'v9' under equal valid_from (string sort
    would pick v9)."""
    import datetime
    from ferenda_spark.operators import versions as V
    d = datetime.date(2024, 1, 1)
    vs = spark.createDataFrame(
        [("u", f"v{i}", d, None, f"a/v{i}") for i in range(11)],
        "url string, version string, valid_from date, valid_to date, "
        "archive_uri string")
    cur = V.latest_versions(vs).collect()
    assert len(cur) == 1 and cur[0]["version"] == "v10"
    asof = V.versions_asof(vs, d).collect()
    assert asof[0]["version"] == "v10"


def test_two_sided_validity_drops_repealed(spark):
    """TemporalElement.in_effect semantics (elements.py:417-447):
    valid_from ≤ d < valid_to.  A repealed document (its last
    version's valid_to in the past) has NO version in effect; an
    expiry exactly ON the as-of date is already out (strict <); a
    superseded version stays selectable only inside its interval."""
    import datetime
    from ferenda_spark.operators import versions as V
    D = datetime.date
    vs = spark.createDataFrame(
        [
            # doc "a": v0 superseded by v1 (open-ended) — v1 in effect
            ("a", "v0", D(2020, 1, 1), D(2020, 2, 1), "a/arkiv/v0"),
            ("a", "v1", D(2020, 2, 1), None, "a"),
            # doc "b": repealed 2020-03-01 — gone at any later date
            ("b", "v0", D(2020, 1, 1), D(2020, 3, 1), "b"),
            # doc "c": expires exactly on the as-of date → out
            ("c", "v0", D(2020, 1, 1), D(2020, 6, 1), "c"),
        ],
        "url string, version string, valid_from date, valid_to date, "
        "archive_uri string")
    got = {r["url"]: r["version"]
           for r in V.versions_asof(vs, D(2020, 6, 1)).collect()}
    assert got == {"a": "v1"}
    # inside v0's interval the superseded version is the one in effect
    got_jan = {r["url"]: r["version"]
               for r in V.versions_asof(vs, D(2020, 1, 15)).collect()}
    assert got_jan == {"a": "v0", "b": "v0", "c": "v0"}


def test_components_chain_and_islands(spark):
    # chain 1-2-3-4 (one cluster), island pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in dedup.components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_components_beats_pairwise_keeper(spark):
    # 1~3 and 2~3 but the 1~2 pair was never emitted (e.g. missed an
    # LSH band): pairwise drop-id_b keeps BOTH 1 and 2 even though
    # they are transitive near-dups through 3; components keeps only 1.
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    clusters = dedup.component_clusters(pairs)
    rows = clusters.collect()
    keepers = sorted(r["id"] for r in rows if r["id"] == r["comp"])
    assert keepers == [1]
    assert all(r["csize"] == 3 for r in rows)
    pairwise_kept = {1, 2, 3} - {r["id_b"] for r in pairs.collect()}
    assert pairwise_kept == {1, 2}  # the under-merge this fixes


def test_components_long_chain_converges_logarithmically(spark, monkeypatch):
    # 64-node path: plain min-propagation needs ~63 rounds; pointer
    # doubling must finish well within max_iters=10.  The driver
    # union-find is switched off, so the distributed rounds run.
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    monkeypatch.setattr(
        "ferenda_spark.operators.dedup.COMPONENTS_DRIVER_MAX", 0)
    monkeypatch.setattr(
        "ferenda_spark.operators.dedup.COMPONENTS_MAX_ITERS", 10)
    lab = dedup.components(pairs)
    got = {r["id"]: r["comp"] for r in lab.collect()}
    assert got == {i: 0 for i in range(n)}


def test_components_random_graphs_match_union_find(spark):
    """Seeded random pair graphs: the distributed result must equal a
    driver-side union-find (min id per component) exactly."""
    import random

    def union_find_comps(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {x: find(x) for x in parent}

    for seed, n, m in [(1, 40, 30), (2, 60, 90), (3, 25, 12)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(u, v) for u, v in edges if u != v]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["comp"]
               for r in dedup.components(pairs).collect()}
        assert got == union_find_comps(edges), f"seed={seed}"


def test_decontaminate_ngram_overlap(spark):
    """A verbatim 13-gram from the benchmark flags the doc; disjoint
    text and sub-13-token docs stay clean; map-side plan broadcasts
    the bench shingles."""
    gram = "one two three four five six seven eight nine ten eleven " \
           "twelve thirteen"
    docs = spark.createDataFrame(
        [(1, "prefix words here " + gram + " and a tail"),
         (2, "totally disjoint content with enough words to form "
             "many shingles of thirteen tokens padded padded padded "
             "padded padded padded"),
         (3, "short doc under thirteen tokens total here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("the eval question is " + gram + " answer follows",)],
        "text string")
    out = dedup.decontaminate(docs, bench)
    got = {r["id"]: (r["n_hits"], r["contaminated"])
           for r in out.collect()}
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_bloom_equals_exact(spark, monkeypatch):
    """The bloom-prefiltered path is the same function as the exact
    broadcast path — on overlap-heavy synthetic docs AND with a
    deliberately tiny, collision-heavy filter (1 bit/key, 1 probe)
    whose false positives the verify join must kill."""
    import random
    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rnd.choice(vocab) for _ in range(30))
             for _ in range(40)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    monkeypatch.setattr("ferenda_spark.operators.dedup.DECONTAM_N", 5)
    want = sorted(dedup.decontaminate(docs, bench).collect())
    got = sorted(dedup.decontaminate_bloom(docs, bench).collect())
    assert got == want
    monkeypatch.setattr("ferenda_spark.operators.dedup.BLOOM_BITS_PER_KEY", 1)
    monkeypatch.setattr("ferenda_spark.operators.dedup.BLOOM_NUM_HASHES", 1)
    tiny = sorted(dedup.decontaminate_bloom(
        docs, bench).collect())
    assert tiny == want


def test_decontaminate_bloom_probe_and_empty_bench(spark):
    """A shared 13-gram is caught, an empty bench marks every doc
    clean, and the corpus-side probe is an Arrow-vectorized filter."""
    gram = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lambda mu nu"
    docs = spark.createDataFrame(
        [(1, "lead in " + gram + " trailing words"),
         (2, "nothing shared here at all " * 5)],
        "doc_id long, text string")
    bench = spark.createDataFrame([("q: " + gram + " a: yes",)],
                                  "text string")
    out = dedup.decontaminate_bloom(docs, bench)
    got = {r["id"]: r["contaminated"] for r in out.collect()}
    assert got == {1: True, 2: False}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    empty = bench.filter(F.lit(False))
    got = {r["id"]: r["contaminated"]
           for r in dedup.decontaminate_bloom(docs, empty).collect()}
    assert got == {1: False, 2: False}


def test_components_null_ids_dropped(spark, monkeypatch):
    """Null ids (upstream left-join artifacts) are dropped, not
    crashed on — same answer on both the driver fast path and the
    distributed path."""
    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (2, 5)],
        "id_a long, id_b long")
    for dm in (10**6, 0):
        monkeypatch.setattr(
            "ferenda_spark.operators.dedup.COMPONENTS_DRIVER_MAX", dm)
        got = {(r["id"], r["comp"])
               for r in dedup.components(df).collect()}
        assert got == {(1, 1), (2, 1), (5, 1)}


def test_stratified_sample_rates_and_reproducibility(spark, monkeypatch):
    """Empirical keep-rates track the per-stratum targets, the same
    salt reproduces the identical row set, a different salt draws a
    different one, and the plan is a pure scan-side filter (no
    Exchange)."""
    from ferenda_spark.operators import sampling
    rows = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("xx").alias("lang"))
    monkeypatch.setattr(
        "ferenda_spark.operators.sampling.STRATIFIED_SALT", "s1")
    out = sampling.stratified_sample(
        rows, {"en": 0.5}, default_rate=0.1)
    kept = out.groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in kept}
    assert abs(by["en"] / 10000 - 0.5) < 0.03
    assert abs(by.get("xx", 0) / 10000 - 0.1) < 0.03
    ids1 = {r["doc_id"] for r in out.collect()}
    ids1_again = {r["doc_id"] for r in sampling.stratified_sample(
        rows, {"en": 0.5}, default_rate=0.1).collect()}
    assert ids1 == ids1_again
    monkeypatch.setattr(
        "ferenda_spark.operators.sampling.STRATIFIED_SALT", "s2")
    ids2 = {r["doc_id"] for r in sampling.stratified_sample(
        rows, {"en": 0.5}, default_rate=0.1).collect()}
    assert ids1 != ids2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        sampling.rate_threshold(1.5)


def test_stratified_sample_null_keys_dropped_explicitly(spark):
    """NULL keys have no deterministic draw: dropped even at rate
    1.0 (documented contract, not a NULL-comparison artifact)."""
    from ferenda_spark.operators import sampling
    rows = spark.createDataFrame(
        [(1, "en"), (None, "en"), (2, "en")],
        "doc_id long, lang string")
    out = sampling.stratified_sample(rows, {"en": 1.0}, default_rate=1.0)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_quota_sample_cap_semantics(spark, monkeypatch):
    """Per-group quota: under-cap groups keep every row; over-cap
    groups down-sample to ~cap deterministically; a new salt draws a
    different sample; null keys drop, null groups participate."""
    from ferenda_spark.operators import sampling
    rows = spark.range(0, 10050).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10000, "big").otherwise(
            F.when(F.col("id") < 10040, "mid")).alias("dom"))
    monkeypatch.setattr("ferenda_spark.operators.sampling.QUOTA_SALT", "q1")
    out = sampling.quota_sample(rows, cap=50, group_col="dom")
    by = {r["dom"]: r["count"]
          for r in out.groupBy("dom").count().collect()}
    # 'mid' (40 rows) and NULL group (10 rows) are under cap: all kept
    assert by["mid"] == 40 and by[None] == 10
    # 'big' (10000 rows) downsamples to ~50 (expected cap, binomial)
    assert 25 <= by["big"] <= 85
    ids1 = {r["doc_id"] for r in out.collect()}
    ids_again = {r["doc_id"] for r in sampling.quota_sample(
        rows, cap=50, group_col="dom").collect()}
    assert ids1 == ids_again
    monkeypatch.setattr("ferenda_spark.operators.sampling.QUOTA_SALT", "q2")
    ids2 = {r["doc_id"] for r in sampling.quota_sample(
        rows, cap=50, group_col="dom").collect()}
    assert ids1 != ids2
    # cap=0 empties over-cap groups but keeps... nothing anywhere:
    # every group with count>0 > cap keeps only u < 0 rows = none
    assert sampling.quota_sample(rows, cap=0, group_col="dom").count() == 0
    with pytest.raises(ValueError):
        sampling.quota_sample(rows, cap=-1, group_col="dom")
    # null keys dropped even in under-cap groups
    nk = spark.createDataFrame([(1, "a"), (None, "a")],
                               "doc_id long, dom string")
    assert sampling.quota_sample(nk, cap=5, group_col="dom").count() == 1


def test_redact_pii_counts_and_replacement(spark):
    """Counts reflect the ORIGINAL text; every pattern type is
    replaced by its token; clean text passes through untouched."""
    rows = spark.createDataFrame(
        [(1, "mail a@b.co and c.d+x@e.org from 192.168.0.1 ref 123456789"),
         (2, "no identifiers here at all"),
         (3, "ip 10.0.0.7 twice 10.0.0.8")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.redact_pii(rows).collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_longnum"]) \
        == (2, 1, 1)
    assert got[1]["clean_text"] == \
        "mail <EMAIL> and <EMAIL> from <IPV4> ref <LONGNUM>"
    assert got[2]["clean_text"] == "no identifiers here at all"
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_longnum"]) \
        == (0, 0, 0)
    assert got[3]["n_ipv4"] == 2 and got[3]["clean_text"].count("<IPV4>") == 2


def test_strip_boilerplate_units(spark, monkeypatch):
    """Units over the df threshold vanish corpus-wide, unique units
    survive in original order, all-boilerplate docs keep an empty
    row, and repeated units within ONE doc don't count as df > 1."""
    banner = "Subscribe now"
    rows = [(i, f"body {i} text. {banner}") for i in range(1, 5)]
    rows.append((5, banner))                      # all boilerplate
    rows.append((6, f"intro six. {banner}. middle six. {banner}"))
    rows.append((7, "solo seven. repeated. repeated. repeated"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr("ferenda_spark.operators.dedup.BOILERPLATE_MAX_DF", 3)
    out = {r["id"]: r for r in dedup.strip_boilerplate(
        docs).collect()}
    assert out[1]["clean_text"] == "body 1 text" and out[1]["n_dropped"] == 1
    assert out[5]["clean_text"] == "" and out[5]["n_dropped"] == 1
    assert out[6]["clean_text"] == "intro six. middle six"
    assert out[6]["n_units"] == 4 and out[6]["n_dropped"] == 2
    # 'repeated' occurs 3x but only in ONE document: df=1, kept
    assert out[7]["clean_text"] == "solo seven. repeated. repeated. repeated"
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}


def test_dedup_units_keepfirst(spark):
    """Duplicated units survive ONLY at the smallest (id, pos)
    occurrence — across docs, within a doc, and under case/space
    normalization — and an all-duplicate doc keeps an empty row."""
    rows = [
        (1, "shared quote. body one"),
        (2, "body two. shared quote"),          # loses the quote to doc 1
        (3, "Shared Quote"),                     # normalizes to the same
        (4, "twice. twice. after"),              # within-doc repeat cut
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in dedup.dedup_units_keepfirst(docs).collect()}
    assert out[1]["clean_text"] == "shared quote. body one"
    assert out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == "body two" and out[2]["n_dropped"] == 1
    # doc 3's only unit occurred earlier (case-insensitively): empty row
    assert out[3]["clean_text"] == "" and out[3]["n_dropped"] == 1
    assert out[4]["clean_text"] == "twice. after"
    assert (out[4]["n_units"], out[4]["n_dropped"]) == (3, 1)
    assert set(out) == {1, 2, 3, 4}


def test_duplicate_token_spans(spark, monkeypatch):
    """Window hashes flag shared passages at any alignment; the
    globally first occurrence is never flagged; within-doc repeats
    and case variants are; short docs have zero windows."""
    rows = [
        (1, "a b c d e f g h"),                  # 4 windows, all first
        (2, "x y a b c d e f q"),                # shares 'a b c d e f'
        (3, "A B C D E"),                        # case variant of w1[0]
        (4, "p q r s t p q r s t"),              # within-doc repeat
        (5, "one two"),                          # shorter than window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr("ferenda_spark.operators.dedup.SPAN_WINDOW", 5)
    out = {r["id"]: r for r in dedup.duplicate_token_spans(
        docs).collect()}
    assert (out[1]["n_windows"], out[1]["n_dup_windows"],
            out[1]["n_dup_tokens"]) == (4, 0, 0)
    # doc 2 windows at pos 2,3 duplicate doc 1 → tokens {2..7}
    assert (out[2]["n_windows"], out[2]["n_dup_windows"],
            out[2]["n_dup_tokens"]) == (5, 2, 6)
    assert (out[3]["n_windows"], out[3]["n_dup_windows"],
            out[3]["n_dup_tokens"]) == (1, 1, 5)
    # doc 4: window 5 repeats window 0 → tokens {5..9}
    assert (out[4]["n_windows"], out[4]["n_dup_windows"],
            out[4]["n_dup_tokens"]) == (6, 1, 5)
    assert (out[5]["n_tokens"], out[5]["n_windows"],
            out[5]["n_dup_windows"]) == (2, 0, 0)


def test_duplicate_token_spans_partition_invariant(spark, monkeypatch):
    rows = [(i, "the same viral passage spreads here verbatim today "
             + f"unique tail {i}") for i in range(1, 20)]
    d1 = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(1)
    d8 = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8)
    monkeypatch.setattr("ferenda_spark.operators.dedup.SPAN_WINDOW", 8)
    r1 = sorted(map(tuple, dedup.duplicate_token_spans(
        d1).collect()))
    r8 = sorted(map(tuple, dedup.duplicate_token_spans(
        d8).collect()))
    assert r1 == r8
    by_id = {t[0]: t for t in r1}
    # doc 1 keeps the first occurrence of the shared 8-token window
    assert by_id[1][3] == 0 and all(by_id[i][3] >= 1 for i in range(2, 20))


def test_dedup_units_keepfirst_partition_invariant(spark):
    """The keeper choice is a global min, not a partition accident."""
    rows = [(i, "common line. unique " + str(i)) for i in range(1, 30)]
    docs1 = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(1)
    docs9 = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(9)
    r1 = sorted(map(tuple, dedup.dedup_units_keepfirst(docs1).collect()))
    r9 = sorted(map(tuple, dedup.dedup_units_keepfirst(docs9).collect()))
    assert r1 == r9
    keep = dict((t[0], t[1]) for t in r1)
    assert keep[1] == "common line. unique 1"
    assert all(keep[i] == f"unique {i}" for i in range(2, 30))


def test_semantic_dedup_chain_collapses_to_one_keeper(spark, monkeypatch):
    """SemDeDup: A~B and B~C (but A!~C directly) is ONE epsilon-group
    — the component collapses the chain and exactly the min id
    survives; far-away vectors stay singleton keepers."""
    import numpy as np

    def rot(theta):
        v = np.zeros(8)
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return [float(x) for x in v]

    far = [0.0] * 8
    far[2] = 1.0
    rows = [
        Row(vec_id=10, embedding=rot(0.00)),    # A
        Row(vec_id=11, embedding=rot(0.25)),    # B: cos(A,B)=.969
        Row(vec_id=12, embedding=rot(0.50)),    # C: cos(B,C)=.969,
                                                #    cos(A,C)=.878 < thr
        Row(vec_id=20, embedding=far),          # singleton
    ]
    monkeypatch.setattr(
        "ferenda_spark.operators.similarity.SEMANTIC_DEDUP_THRESHOLD", 0.95)
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        spark.createDataFrame(rows), dim=8, planes_per_band=2).collect()}
    assert {k for k, r in out.items() if r["keep"]} == {10, 20}
    assert out[11]["group"] == out[12]["group"] == 10
    assert out[20]["group"] == 20


def test_lsh_params_for_scaling_contract():
    """lsh_params_for: occupancy-bounded planes grow with log n,
    bands recover the recall target, and the candidate-work bound
    bands·occupancy stays ~flat as n grows (the linear-in-n
    contract the sf1 probe demanded)."""
    import math

    from ferenda_spark.operators.similarity import lsh_params_for
    prev_planes = 0
    for n in (10, 1_000, 100_000, 10_000_000, 10**12):
        bands, planes = lsh_params_for(n, threshold=0.95)
        assert planes >= prev_planes      # monotone in n
        prev_planes = planes
        # the banded union recall meets the target (except where the
        # max_bands cap binds, which only happens past the planes cap)
        p = 1 - math.acos(0.95) / math.pi
        if bands < 32:
            assert 1 - (1 - p ** planes) ** bands >= 0.9
    # tiny corpora keep the floor params
    assert lsh_params_for(5)[1] == 4
    # occupancy target actually bounds the expected bucket load
    bands, planes = lsh_params_for(20_000)
    assert 20_000 / 2 ** planes <= 12


def test_semantic_dedup_auto_params(spark, monkeypatch):
    """planes_per_band='auto' preserves the semantic outcome on the
    chain fixture (near-dups still collapse, singletons survive)
    while sizing the grid from the corpus count."""
    import numpy as np

    def rot(theta):
        v = np.zeros(8)
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return [float(x) for x in v]

    rows = [Row(vec_id=10, embedding=rot(0.00)),
            Row(vec_id=11, embedding=rot(0.25)),
            Row(vec_id=20, embedding=[0.0, 0.0, 1.0] + [0.0] * 5)]
    monkeypatch.setattr(
        "ferenda_spark.operators.similarity.SEMANTIC_DEDUP_THRESHOLD", 0.95)
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        spark.createDataFrame(rows), dim=8, planes_per_band="auto").collect()}
    assert {k for k, r in out.items() if r["keep"]} == {10, 20}
    assert out[11]["group"] == 10


def test_semantic_dedup_all_unique_keeps_everything(spark, monkeypatch):
    import numpy as np
    rows = [Row(vec_id=i,
                embedding=[1.0 if j == i else 0.0 for j in range(8)])
            for i in range(8)]
    monkeypatch.setattr(
        "ferenda_spark.operators.similarity.SEMANTIC_DEDUP_THRESHOLD", 0.95)
    out = similarity.semantic_dedup(
        spark.createDataFrame(rows), dim=8).collect()
    assert all(r["keep"] and r["group"] == r["vec_id"] for r in out)


def test_dedup_against_index_history_and_batch_keeper(spark):
    """Incremental dedup against a persisted band index: a batch doc
    band-colliding with history is rejected (even a NEAR copy), a
    genuinely new doc survives, and a batch-internal copy collapses
    to the min id."""
    history = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "completely novel sentence with brand new words here"),
         (12, "completely novel sentence with brand new words here"),
         (13, "another fully unrelated document speaking other things")],
        "doc_id long, text string")
    index = dedup.minhash_bands(history, k=8, bands=4)
    kept = {r["doc_id"] for r in dedup.dedup_against_index(
        batch, index).collect()}
    assert kept == {11, 13}


def test_dedup_against_index_short_doc_survives(spark):
    """A batch doc too short for one shingle has no bands at all — it
    must pass through untouched, not be dropped or crash."""
    history = spark.createDataFrame(
        [(1, "some historical document with plenty of words inside")],
        "doc_id long, text string")
    batch = spark.createDataFrame([(20, "to be")],
                                  "doc_id long, text string")
    index = dedup.minhash_bands(history, k=8, bands=4)
    kept = {r["doc_id"] for r in dedup.dedup_against_index(
        batch, index).collect()}
    assert kept == {20}


def test_components_driver_equals_distributed(spark, monkeypatch):
    """The union-find fast path and the pointer-doubling distributed
    path are the same function on chains, stars and random graphs."""
    import random
    rnd = random.Random(11)
    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        [(5, 1), (5, 2), (5, 3)],
    ] + [
        [(rnd.randrange(30), rnd.randrange(30)) for _ in range(25)]
        for _ in range(3)
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        fast = {(r["id"], r["comp"])
                for r in dedup.components(df).collect()}
        monkeypatch.setattr(
            "ferenda_spark.operators.dedup.COMPONENTS_DRIVER_MAX", 0)
        slow = {(r["id"], r["comp"])
                for r in dedup.components(df).collect()}
        assert fast == slow, pairs


def test_gopher_rules_fuzz_consistency(spark):
    """Arbitrary unicode text never crashes the rule projection, and
    keep is exactly the conjunction of the per-rule booleans."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    texts: list[str] = []

    @settings(max_examples=60, deadline=None)
    @given(st.text(max_size=120))
    def collect(t):
        texts.append(t)

    collect()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    rows = textstats.gopher_rules(docs).collect()
    assert len(rows) == len(texts)
    for r in rows:
        rules = [v for k, v in r.asDict().items()
                 if k.startswith("rule_")]
        assert r["keep"] == all(rules)


def test_containment_pairs_detects_quote(spark, monkeypatch):
    """A short quote inside a long page: Jaccard tiny, containment 1."""
    from ferenda_spark.operators.dedup import (containment_pairs,
                                               jaccard_pairs)
    words = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(40, 60))
    df = spark.createDataFrame([(1, words), (2, quote),
                                (3, "entirely different text here ok")],
                               "doc_id long, text string")
    monkeypatch.setattr(
        "ferenda_spark.operators.dedup.CONTAINMENT_THRESHOLD", 0.9)
    got = {(r["id_part"], r["id_whole"]): r["containment"]
           for r in containment_pairs(df).collect()}
    assert got == {(2, 1): 1.0}          # quote ⊂ page, one direction
    monkeypatch.setattr("ferenda_spark.operators.dedup.JACCARD_THRESHOLD", 0.5)
    assert jaccard_pairs(df).count() == 0


def test_containment_pairs_mutual_for_exact_copies(spark, monkeypatch):
    from ferenda_spark.operators.dedup import containment_pairs
    t = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame([(1, t), (2, t)],
                               "doc_id long, text string")
    monkeypatch.setattr(
        "ferenda_spark.operators.dedup.CONTAINMENT_THRESHOLD", 0.9)
    got = {(r["id_part"], r["id_whole"]): r["containment"]
           for r in containment_pairs(df).collect()}
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def _winnow_local(text, k=5, window=4):
    """Pure-Python mirror of winnow_fingerprints (same md5 fold,
    rightmost-tie rule)."""
    import hashlib
    toks = [t for t in text.lower().split() if t]
    if len(toks) < k:
        return set()
    h = [int(hashlib.md5(" ".join(toks[i:i + k]).encode())
             .hexdigest()[:15], 16) for i in range(len(toks) - k + 1)]
    if len(h) < window:
        return set()
    out = set()
    for j in range(len(h) - window + 1):
        win = h[j:j + window]
        mv = min(win)
        right = max(x for x in range(window) if win[x] == mv)
        out.add((j + right + 1, mv))   # 1-based pos like the operator
    return out


def test_winnow_matches_python_mirror_and_guarantee(spark):
    from ferenda_spark.operators.dedup import winnow_fingerprints
    common = " ".join(f"shared{i}" for i in range(12))
    t1 = "alpha beta gamma " + common + " delta epsilon zeta eta"
    t2 = "one two three four five " + common + " six seven"
    t3 = " ".join(f"unrelated{i}" for i in range(25))
    df = spark.createDataFrame([(1, t1), (2, t2), (3, t3)],
                               "doc_id long, text string")
    fps = winnow_fingerprints(df)
    got = {}
    for r in fps.collect():
        got.setdefault(r["id"], set()).add((r["pos"], r["fp"]))
    assert got[1] == _winnow_local(t1)
    assert got[2] == _winnow_local(t2)
    assert got[3] == _winnow_local(t3)
    # guarantee: a shared run of >= window+k-1 = 8 tokens (here 12)
    # must put at least one common fingerprint in both documents
    shared = {f for _, f in got[1]} & {f for _, f in got[2]}
    assert shared
    # density: far fewer fingerprints than k-grams
    assert len(got[3]) < len(t3.split()) - 4


def test_select_canonical_prefers_score_then_min_id(spark):
    from ferenda_spark.operators.dedup import select_canonical
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, score long")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, comp long")
    got = {r["id"]: (r["comp"], r["keeper_id"], r["is_keeper"])
           for r in select_canonical(docs, clusters, "score").collect()}
    # cluster {1,2,3}: 2 and 3 tie on score 30 — min id 2 wins
    assert got[1] == (1, 2, False)
    assert got[2] == (1, 2, True)
    assert got[3] == (1, 2, False)
    # 4 and 9 unclustered: their own singleton keepers
    assert got[4] == (4, 4, True)
    assert got[9] == (9, 9, True)


def test_pq_topk_adc_recall_and_determinism(spark, monkeypatch):
    """PQ/ADC nearest neighbors track exact L2 nearest neighbors on
    a clustered fixture, codes are partition-independent, and the
    asymmetric distance of a vector to ITS OWN cluster twin is far
    below cross-cluster distances."""
    import numpy as np
    dim = 16
    rows = []
    for i in range(60):
        base = np.array([((i % 6) * 17 + j * 5 + 1) % 11 - 5.0
                         for j in range(dim)])
        v = base + 0.01 * ((i * 7) % 13)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    emb = spark.createDataFrame(rows)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr("ferenda_spark.operators.similarity.TOPK", 3)
    monkeypatch.setattr("ferenda_spark.operators.similarity.PQ_M", 4)
    monkeypatch.setattr("ferenda_spark.operators.similarity.PQ_KSUB", 8)
    got = {(r["query_id"], r["rank"]): r["item_id"]
           for r in similarity.pq_topk(emb, qs, dim).collect()}
    # quantization collapses within-cluster offsets (same codes →
    # identical adist), so the PQ recall notion is CLUSTER-level:
    # every rank-1 answer must come from the query's own cluster,
    # at asymmetric distance strictly below any cross-cluster item
    adist = {(r["query_id"], r["item_id"]): r["adist"]
             for r in similarity.pq_topk(emb, qs, dim).collect()}
    for q in range(5):
        top1 = got[(q, 1)]
        assert top1 % 6 == q % 6, (q, top1)
        same = adist[(q, top1)]
        cross = [v for (qq, it), v in adist.items()
                 if qq == q and it % 6 != q % 6]
        assert all(same < c for c in cross), (q, same, cross)
    got2 = {(r["query_id"], r["rank"]): r["item_id"]
            for r in similarity.pq_topk(emb.repartition(7), qs, dim).collect()}
    assert got == got2


def test_strip_repeated_paragraphs(spark):
    from ferenda_spark.operators.dedup import strip_repeated_paragraphs
    docs = spark.createDataFrame(
        [(1, "A\nB\nA\nC\nB"), (2, "A\nA\nA"), (3, "A\nB\nC"),
         (4, "solo")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           strip_repeated_paragraphs(docs).collect()}
    # first occurrences, original order
    assert out[1]["text"] == "A\nB\nC"
    assert out[1]["n_paras"] == 5 and out[1]["n_removed"] == 2
    assert out[2]["text"] == "A" and out[2]["n_removed"] == 2
    assert out[3]["text"] == "A\nB\nC" and out[3]["n_removed"] == 0
    assert out[4]["text"] == "solo" and out[4]["n_paras"] == 1
    # zero shuffle: the fold runs in the scan
    plan = strip_repeated_paragraphs(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_noindex_filter(spark):
    from ferenda_spark.operators.webfilter import noindex_filter

    def pg(meta):
        return (f"<html><head>{meta}</head><body>x</body>"
                "</html>").encode()

    pages = spark.createDataFrame([
        ("u1", pg('<meta name="robots" content="noindex, follow">')),
        ("u2", pg('<meta name="ROBOTS" content="INDEX, FOLLOW">')),
        ("u3", pg('<meta name="googlebot" content=" none ">')),
        ("u4", pg("")),                       # absence = indexable
        ("u5", pg('<meta name="robots" content="nofollow">'
                  '<meta name="robots" content="noindex">')),
    ], "url string, html binary")
    kept = {r["url"] for r in noindex_filter(pages).collect()}
    assert kept == {"u2", "u4"}


def test_hash_embed_into_ann_family(spark, monkeypatch):
    """hash_embed bridges raw text into the similarity operators:
    near-identical docs land close in cosine, disjoint docs do not,
    and the vectors plug straight into cosine_topk."""
    from pyspark.sql import functions as F

    from ferenda_spark.operators.similarity import (cosine_topk,
                                                    hash_embed)
    docs = spark.createDataFrame(
        [(1, "spark shuffle join agg window partition"),
         (2, "spark shuffle join agg window partition extra"),
         (3, "violin sonata cadenza allegro tempo adagio")],
        "doc_id long, text string")
    emb = hash_embed(docs)
    rows = {r["id"]: r["embedding"] for r in emb.collect()}
    assert all(len(v) == 32 for v in rows.values())
    # integer, deterministic
    again = {r["id"]: r["embedding"] for r in
             hash_embed(docs).collect()}
    assert again == rows
    # plug into the existing exact ANN path
    items = emb.select(F.col("id").alias("vec_id"), "embedding")
    qs = emb.filter("id = 1").select(
        F.col("id").alias("query_id"), "embedding")
    monkeypatch.setattr("ferenda_spark.operators.similarity.TOPK", 2)
    top = cosine_topk(items, qs).collect()
    ranked = [r["item_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ranked[0] == 2          # near-dup text ranks above disjoint
    # zero shuffle in the embed itself
    plan = hash_embed(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_int_cosine_test_exact_boundaries(spark):
    from pyspark.sql import functions as F

    from ferenda_spark.operators.similarity import int_cosine_test
    rows = [
        (1, [3, 4], [3, 4]),      # identical: cos = 1
        (2, [1, 0], [0, 1]),      # orthogonal: cos = 0
        (3, [1, 0], [-1, 0]),     # opposite: cos = -1 (dot < 0 arm)
        (4, [1, 1], [1, 0]),      # cos = 1/sqrt(2) ≈ 0.7071
        (5, [0, 0], [1, 1]),      # zero vector: never near
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<long>, b array<long>")

    def verdicts(t):
        return {r["id"]: r["v"] for r in df.select(
            "id", int_cosine_test(F.col("a"), F.col("b"), t)
            .alias("v")).collect()}

    v95 = verdicts(950)
    assert v95 == {1: True, 2: False, 3: False, 4: False, 5: False}
    # the sqrt(2)/2 boundary: 707 keeps it, 708 rejects — exact
    # integer arithmetic decides the fence, no float rounding
    assert verdicts(707)[4] is True
    assert verdicts(708)[4] is False
    assert verdicts(1000)[1] is True    # cos=1 at threshold 1.0
