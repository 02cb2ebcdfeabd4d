"""Fulltext index + boosted/fielded/wildcard/phrase search.

Mirrors the reference's fulltext query surface
(/root/reference/ferenda/fulltextindex.py:685-745 boosted query,
:307-333 More/Less/Between, wsgiapp.py:483-600 wildcard), restated as
DataFrame ops — see ferenda_spark/operators/fulltext.py.
"""

from pyspark.sql import functions as F

from ferenda_spark.operators import fulltext as ft


def _corpus(spark):
    rows = [
        (1, "alpha beta gamma", "alpha title"),
        (2, "beta gamma beta gamma", "other"),
        (3, "gamma alpha beta gamma alpha", "beta title"),
        (4, "delta only here", "unrelated"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, title string")


def test_index_tf_and_idf(spark):
    d = _corpus(spark)
    idx = ft.fulltext_index(d, "doc_id", {"title": 4, "text": 1})
    tf = {(r["term"], r["field"], r["id"]): r["tf"]
          for r in idx.collect()}
    assert tf[("beta", "text", 2)] == 2
    assert tf[("beta", "title", 3)] == 1
    idf = {r["term"]: r["idf_milli"]
           for r in ft.idf_milli(idx, 4).collect()}
    # 'delta' in 1 of 4 docs: floor(1000*ln(4)) ; 'beta' in 3 of 4
    assert idf["delta"] == 1386
    assert idf["beta"] == 287
    assert idf["gamma"] < idf["alpha"] < idf["delta"]


def test_search_boosts_fields_wildcard_eligible(spark):
    d = _corpus(spark)
    idx = ft.fulltext_index(d, "doc_id", {"title": 4, "text": 1})
    idf = ft.idf_milli(idx, 4)
    # boost: doc 1 has 'alpha' in title (boost 4) AND text
    out = {r["id"]: r["score"]
           for r in ft.fulltext_search(idx, idf, ["alpha"]).collect()}
    a = 287  # idf_milli('alpha'), df=2... recompute: ln(4/2)*1000=693
    assert set(out) == {1, 3}
    assert out[1] == 693 * 1 + 693 * 4      # text tf1 + title tf1·4
    assert out[3] == 693 * 2                # text tf2
    # fielded restriction: title only
    out_t = {r["id"]: r["score"] for r in ft.fulltext_search(
        idx, idf, ["alpha"], fields=["title"]).collect()}
    assert out_t == {1: 693 * 4}
    # wildcard prefix matches beta AND (nothing else with be*)
    out_w = {r["id"] for r in ft.fulltext_search(
        idx, idf, ["be*"]).collect()}
    assert out_w == {1, 2, 3}
    # eligible range predicate prunes doc 3
    elig = d.filter(F.col("doc_id") <= 2).select(
        F.col("doc_id").alias("id"))
    out_e = {r["id"] for r in ft.fulltext_search(
        idx, idf, ["alpha"], eligible=elig).collect()}
    assert out_e == {1}
    # empty query: empty result, stable schema
    empty = ft.fulltext_search(idx, idf, ["", "   "])
    assert empty.columns == ["id", "score", "rank"]
    assert empty.count() == 0


def test_phrase_hits_adjacency_and_counts(spark):
    d = _corpus(spark)
    pidx = ft.positional_index(d, "doc_id", {"title": 4, "text": 1})
    ph = {(r["id"], r["field"]): r["hits"]
          for r in ft.phrase_hits(pidx, "beta gamma").collect()}
    # doc1: one 'beta gamma'; doc2: twice; doc3: once (positions 2-3)
    assert ph == {(1, "text"): 1, (2, "text"): 2, (3, "text"): 1}
    # order matters: 'gamma beta' only in doc 2 (middle of
    # 'beta gamma beta gamma'), once — not in docs 1/3
    rev = {(r["id"], r["field"]): r["hits"]
           for r in ft.phrase_hits(pidx, "gamma beta").collect()}
    assert rev == {(2, "text"): 1}
    # phrases never match across fields or docs
    assert ft.phrase_hits(pidx, "gamma alpha title").count() == 0
    # 3-term phrase
    p3 = {r["id"]: r["hits"]
          for r in ft.phrase_hits(pidx, "gamma alpha beta").collect()}
    assert p3 == {3: 1}


def test_phrase_scoring_composes_with_terms(spark):
    d = _corpus(spark)
    idx = ft.fulltext_index(d, "doc_id", {"title": 4, "text": 1})
    idf_df = ft.idf_milli(idx, 4)
    pidx = ft.positional_index(d, "doc_id", {"title": 4, "text": 1})
    idf = {r["term"]: r["idf_milli"] for r in idf_df.collect()}
    out = {r["id"]: r["score"] for r in ft.fulltext_search(
        idx, idf_df, ["delta"], phrases=["beta gamma"],
        pindex=pidx).collect()}
    p = idf["beta"] + idf["gamma"]
    assert out[2] == 2 * p            # two phrase hits, boost 1
    assert out[4] == idf["delta"]     # term-only hit
    assert out[1] == p and out[3] == p


def test_repo_boosts_excludes_and_paging(spark, monkeypatch):
    """wsgiapp.py:388-435 API surface: exclude_repos drops a repo's
    docs, boost_repos scales scores BEFORE top-k (a boosted doc can
    displace unboosted ones), and pagenum/pagelen return one page plus
    the envelope (start_index/items_per_page/total_results)."""
    d = _corpus(spark)
    idx = ft.fulltext_index(d, "doc_id", {"title": 4, "text": 1})
    idf = ft.idf_milli(idx, 4)
    repos = spark.createDataFrame(
        [(1, "ra"), (2, "rb"), (3, "ra"), (4, "rc")], "id long, repo string")

    base = {r["id"]: r["score"] for r in ft.fulltext_search(
        idx, idf, ["beta"], k=10).collect()}
    assert set(base) == {1, 2, 3}

    # exclude rb: doc 2 gone, others' scores untouched
    got = {r["id"]: r["score"] for r in ft.fulltext_search(
        idx, idf, ["beta"], k=10, repos=repos,
        exclude_repos=["rb"]).collect()}
    assert set(got) == {1, 3} and got[1] == base[1] and got[3] == base[3]

    # boosting rb lifts doc 2 to rank 1 even though doc 3 wins unboosted
    byrank = {r["rank"]: r["id"] for r in ft.fulltext_search(
        idx, idf, ["beta"], k=10, repos=repos,
        boost_repos={"rb": 100}).collect()}
    assert byrank[1] == 2
    assert set(byrank.values()) == {1, 2, 3}

    # paging: page 2 of pagelen=1 is the SECOND-ranked doc + envelope
    monkeypatch.setattr("ferenda_spark.operators.fulltext.PAGELEN", 1)
    page = ft.fulltext_search(idx, idf, ["beta"], repos=repos,
                              pagenum=2).collect()
    assert len(page) == 1
    r = page[0]
    assert r["rank"] == 2 and r["start_index"] == 1
    assert r["items_per_page"] == 1 and r["total_results"] == 3

    # empty query with paging: stable envelope schema, zero rows
    monkeypatch.setattr("ferenda_spark.operators.fulltext.PAGELEN", 5)
    empty = ft.fulltext_search(idx, idf, ["   "], pagenum=1)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "score", "rank", "start_index",
                                  "items_per_page", "total_results"}

    # repo prefs without the map: loud error
    import pytest
    with pytest.raises(ValueError, match="repos"):
        ft.fulltext_search(idx, idf, ["beta"], boost_repos={"ra": 2})


def test_bm25_tracks_float_formula_and_length_norm(spark, monkeypatch):
    """The BIGINT fixed-point BM25 must track the float Okapi formula
    (Robertson/Zaragoza 2009) within fixed-point truncation, and
    length normalization must hold: equal tf, longer doc scores less."""
    import math
    rows = [
        (1, "beta " + "filler " * 40, "t"),       # tf(beta)=1, long
        (2, "beta unrelated words", "t"),         # tf(beta)=1, short
        (3, "beta beta beta pad pad", "t"),       # tf(beta)=3
        (4, "nothing matches here at all", "t"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, src string")
    idx = ft.fulltext_index(d, "doc_id", {"text": 1})
    monkeypatch.setattr("ferenda_spark.operators.fulltext.BM25_TOP_K", 10)
    out = {r["id"]: r["score"]
           for r in ft.bm25_search(idx, 4, ["beta"]).collect()}
    assert set(out) == {1, 2, 3}
    # length normalization: same tf, shorter doc wins
    assert out[2] > out[1]
    # the float reference value, same idf scaling (floor 1000·ln);
    # avgdl is over the WHOLE corpus (doc 4 included), per Okapi
    dls = {1: 41, 2: 3, 3: 5}
    avgdl = (41 + 3 + 5 + 5) / 4
    idf = math.floor(1000 * math.log(4 / 3))
    k1, b = 1.2, 0.75
    for doc, tf in ((1, 1), (2, 1), (3, 3)):
        want = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[doc] / avgdl))
        # integer plan: within 3 milli-units of the float formula
        assert abs(out[doc] - want) <= 3, (doc, out[doc], want)


def test_bm25_field_restriction_and_empty(spark):
    d = _corpus(spark)
    idx = ft.fulltext_index(d, "doc_id", {"title": 4, "text": 1})
    # a title-only index: only docs with 'beta' in title (doc 3)
    title_idx = ft.fulltext_index(d, "doc_id", {"title": 4})
    only = ft.bm25_search(title_idx, 4, ["beta"]).collect()
    assert [r["id"] for r in only] == [3]
    # empty query: stable schema, zero rows
    empty = ft.bm25_search(idx, 4, ["   "])
    assert empty.count() == 0
    assert empty.columns == ["id", "score", "rank"]
