"""CCNet-style bigram-LM perplexity scoring (operators/lmscore.py)."""

import math

from pyspark.sql import functions as F

from ferenda_spark.operators.lmscore import (fit_bigram_lm,
                                             perplexity_buckets,
                                             score_perplexity)

TRAIN = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
]
SCORE = [
    (10, "the cat sat"),          # all bigrams seen
    (11, "the zebra ran"),        # OOV bigrams
    (12, "single"),               # no bigrams
    (13, ""),                     # empty
    (14, "THE CAT... sat!"),      # case/punct-normalized = doc 10
]


def _py_score(train_texts, text):
    """Independent pure-Python mirror of the model arithmetic."""
    c12, c1, vocab = {}, {}, set()
    for t in train_texts:
        toks = [w for w in t.lower().split() if w]
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    v = len(vocab)
    toks = [w for w in text.lower().split() if w]
    s, oov = 0.0, 0
    for a, b in zip(toks, toks[1:]):
        c = c12.get((a, b), 0)
        if c == 0:
            oov += 1
        s += math.log((c + 1) / (c1.get(a, 0) + v))
    n = max(len(toks) - 1, 0)
    return n, oov, (math.floor(s * 1000) if n else 0)


def _fit(spark):
    train = spark.createDataFrame(TRAIN, "doc_id long, text string")
    return fit_bigram_lm(train)


def test_score_matches_python_reference(spark):
    lm = _fit(spark)
    docs = spark.createDataFrame(SCORE, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["logprob_milli"])
           for r in score_perplexity(docs, lm).collect()}
    train_texts = [t for _, t in TRAIN]
    for doc_id, text in SCORE:
        # the fixture texts tokenize identically under whitespace and
        # the [^a-z0-9]+ split once lowercased/punct-stripped
        norm = text.lower().replace("...", " ").replace("!", " ")
        assert got[doc_id] == _py_score(train_texts, norm), doc_id
    # normalization: doc 14 scores identically to doc 10
    assert got[14] == got[10]
    # OOV doc scores strictly worse per bigram than the in-domain doc
    assert got[11][2] < got[10][2]
    assert got[12] == (0, 0, 0) and got[13] == (0, 0, 0)


def test_buckets_equal_frequency_and_order(spark):
    lm = _fit(spark)
    # 7 docs: ntile(3) over 7 rows -> sizes 3,2,2
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(3)]
        + [(i, "the dog zebra") for i in range(3, 5)]
        + [(i, "qq zz xx") for i in range(5, 7)],
        "doc_id long, text string")
    scored = score_perplexity(docs, lm)
    out = perplexity_buckets(scored).collect()
    sizes = {}
    by_doc = {}
    for r in out:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        by_doc[r["doc_id"]] = r["bucket"]
    assert sizes == {1: 3, 2: 2, 3: 2}
    # head bucket = the in-domain docs, tail = the gibberish
    assert {by_doc[i] for i in range(3)} == {1}
    assert {by_doc[i] for i in range(5, 7)} == {3}


def test_buckets_empty_input(spark):
    lm = _fit(spark)
    docs = spark.createDataFrame([], "doc_id long, text string")
    out = perplexity_buckets(score_perplexity(docs, lm))
    assert out.count() == 0
    assert "bucket" in out.columns
