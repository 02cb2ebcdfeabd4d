"""Trained n-gram language ID (operators/langprofile.py)."""

from pyspark.sql import functions as F

from ferenda_spark.operators.langprofile import (char_ngrams,
                                                 classify_language,
                                                 train_lang_profiles)

CORPUS = [
    ("en", "the quick brown fox jumps over the lazy dog and then "
           "the other dog with the usual thing"),
    ("en", "this is the thing that the other thing was with and "
           "the rest of the things there"),
    ("sv", "det här är den vanliga texten och den andra texten "
           "som den brukar vara med den"),
    ("sv", "och det var det som det handlade om när den andra "
           "texten kom med det vanliga"),
]


def test_char_ngrams_normalization(spark):
    df = spark.createDataFrame([(" The  QUICK\nfox ",), ("ab",)],
                               "t string")
    rows = df.select(char_ngrams(F.col("t")).alias("g")).collect()
    g = rows[0]["g"]
    assert g[0] == "the" and "e q" in g and " qu" in g
    # collapsed whitespace: no double-space grams
    assert not any("  " in x for x in g)
    # sub-length text → empty, not a descending-sequence artifact
    assert rows[1]["g"] == []


def test_train_and_classify_separates_languages(spark, monkeypatch):
    labeled = spark.createDataFrame(CORPUS, "lang string, text string")
    monkeypatch.setattr("ferenda_spark.operators.langprofile.PROFILE_K", 60)
    prof = train_lang_profiles(labeled)
    rows = prof.collect()
    assert {r["lang"] for r in rows} == {"en", "sv"}
    assert max(r["rank"] for r in rows) <= 60
    # ranks are dense and start at 1 per language
    for lg in ("en", "sv"):
        rs = sorted(r["rank"] for r in rows if r["lang"] == lg)
        assert rs[0] == 1 and rs == list(range(1, len(rs) + 1))

    tests = spark.createDataFrame(
        [(1, "the other thing was with the dog"),
         (2, "det var den andra texten med det vanliga")],
        "doc_id long, text string")
    monkeypatch.setattr("ferenda_spark.operators.langprofile.DOC_K", 40)
    monkeypatch.setattr("ferenda_spark.operators.langprofile.OOP_PENALTY", 60)
    got = {r["id"]: r["lang_pred"] for r in classify_language(
        tests, prof).collect()}
    assert got == {1: "en", 2: "sv"}
    # deterministic replay
    again = {r["id"]: r["lang_pred"] for r in classify_language(
        tests, prof).collect()}
    assert again == got


def test_classify_penalty_and_absent_empty_docs(spark, monkeypatch):
    labeled = spark.createDataFrame(CORPUS, "lang string, text string")
    monkeypatch.setattr("ferenda_spark.operators.langprofile.PROFILE_K", 60)
    prof = train_lang_profiles(labeled)
    docs = spark.createDataFrame(
        [(1, "zzz qqq xxx www vvv"), (2, "ab")],
        "doc_id long, text string")
    monkeypatch.setattr("ferenda_spark.operators.langprofile.DOC_K", 40)
    monkeypatch.setattr("ferenda_spark.operators.langprofile.OOP_PENALTY", 60)
    out = {r["id"]: r for r in classify_language(
        docs, prof).collect()}
    # all-unknown grams: every gram pays the full penalty, and the
    # tie between languages breaks by language code
    r = out[1]
    n_grams = len("zzz qqq xxx www vvv") - 2
    assert r["dist"] == n_grams * 60 and r["lang_pred"] == "en"
    # sub-3-char doc is absent by contract (length filters upstream)
    assert 2 not in out
