"""Hashed-feature linear quality scoring (operators/classify.py)."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators.classify import quality_score, token_weight_milli


def _docs(spark):
    return spark.createDataFrame(
        [(1, "good informative prose with substance"),
         (2, "good informative prose with substance"),   # same text
         (3, "ZZZZ QQQQ"),
         (4, "")],
        "doc_id long, text string")


def test_score_deterministic_and_text_keyed(spark):
    out = {r["id"]: r for r in quality_score(_docs(spark)).collect()}
    # identical text → identical score, independent of doc id
    assert out[1]["score_sum_milli"] == out[2]["score_sum_milli"]
    assert out[1]["n_tokens"] == 5
    assert out[3]["n_tokens"] == 2
    # empty doc scores 0 and keeps at threshold 0
    assert out[4]["n_tokens"] == 0 and out[4]["score_sum_milli"] == 0
    assert out[4]["keep"] is True
    # rerun is bit-identical
    again = {r["id"]: r for r in quality_score(_docs(spark)).collect()}
    assert {k: tuple(v) for k, v in out.items()} == \
        {k: tuple(v) for k, v in again.items()}


def test_weights_in_span_and_salt_independence(spark):
    toks = spark.createDataFrame(
        [(w,) for w in "alpha beta gamma delta epsilon".split()],
        "tok string")
    w1 = [r["w"] for r in toks.select(
        token_weight_milli(F.col("tok"), "qw-v1").alias("w")).collect()]
    assert all(-1000 <= w <= 1000 for w in w1)
    w2 = [r["w"] for r in toks.select(
        token_weight_milli(F.col("tok"), "other-salt").alias("w")).collect()]
    assert w1 != w2     # a new salt is an independent model


def test_trained_bucket_weights(spark):
    """With an explicit bucket-weight array the scorer is the fastText
    hashing trick: token → bucket → learned weight."""
    n = 8
    weights = [100 * i for i in range(n)]          # bucket i → 100·i
    docs = spark.createDataFrame([(1, "alpha beta")],
                                 "doc_id long, text string")
    out = quality_score(docs, weights=weights, n_buckets=n).collect()[0]
    per_tok = {r["t"]: r["w"] for r in spark.createDataFrame(
        [("alpha",), ("beta",)], "t string").select(
        "t", token_weight_milli(F.col("t"), "qw-v1", weights, n)
        .alias("w")).collect()}
    assert out["score_sum_milli"] == per_tok["alpha"] + per_tok["beta"]
    assert all(w in weights for w in per_tok.values())
    with pytest.raises(ValueError, match="n_buckets"):
        quality_score(docs, weights=[1, 2], n_buckets=8).collect()


def test_threshold_mean_semantics(spark, monkeypatch):
    """keep compares the MEAN weight to the threshold via integer
    multiplication: sum·1000 ≥ thr·n."""
    docs = _docs(spark)
    monkeypatch.setattr(
        "ferenda_spark.operators.classify.QUALITY_THRESHOLD_MILLI", 10**9)
    out = {r["id"]: r for r in quality_score(
        docs).collect()}
    # an absurd threshold rejects every non-empty doc
    assert not out[1]["keep"] and not out[3]["keep"]
    monkeypatch.setattr(
        "ferenda_spark.operators.classify.QUALITY_THRESHOLD_MILLI", -(10**9))
    out_lo = {r["id"]: r for r in quality_score(
        docs).collect()}
    assert all(r["keep"] for r in out_lo.values())

def test_empty_doc_positive_threshold_rejected(spark, monkeypatch):
    """Review fix: an empty doc must NOT pass a positive-threshold
    gate (sum*1000 >= thr*0 would hold for every thr)."""
    docs = spark.createDataFrame([(1, ""), (2, "")],
                                 "doc_id long, text string")
    monkeypatch.setattr(
        "ferenda_spark.operators.classify.QUALITY_THRESHOLD_MILLI", 500)
    out = quality_score(docs).collect()
    assert all(not r["keep"] for r in out)
    monkeypatch.setattr(
        "ferenda_spark.operators.classify.QUALITY_THRESHOLD_MILLI", 0)
    out0 = quality_score(docs).collect()
    assert all(r["keep"] for r in out0)

def test_broadcast_weights_match_literal_path(spark, monkeypatch):
    """The broadcast pandas-UDF path (large n_buckets) must score
    identically to the literal-array codegen path — same hashing
    trick, different delivery of the weight table."""
    import ferenda_spark.operators.classify as classify
    n = 64
    weights = [((7 * i) % 2001) - 1000 for i in range(n)]
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta beta"), (3, "")],
        "doc_id long, text string")
    monkeypatch.setattr(
        "ferenda_spark.operators.classify.QUALITY_THRESHOLD_MILLI", 5)
    lit = sorted(map(tuple, quality_score(
        docs, weights=weights, n_buckets=n).collect()))
    orig = classify._LITERAL_MAX_BUCKETS
    classify._LITERAL_MAX_BUCKETS = 1          # force the broadcast path
    try:
        bc = sorted(map(tuple, quality_score(
            docs, weights=weights, n_buckets=n).collect()))
    finally:
        classify._LITERAL_MAX_BUCKETS = orig
    assert lit == bc


def test_large_model_broadcast_no_literal_plan(spark):
    """A fastText-sized model (2^18 buckets) must build and score
    without embedding the table into the plan (VERDICT r3 wrong-#4:
    the literal array was a plan-size bomb at real model sizes)."""
    n = 2 ** 18
    weights = [((13 * i) % 2001) - 1000 for i in range(n)]
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zzzz qqqq")],
        "doc_id long, text string")
    df = quality_score(docs, weights=weights, n_buckets=n)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan           # broadcast UDF path
    assert len(plan) < 100_000                 # no 2^18-literal array
    out = {r["id"]: r for r in df.collect()}
    assert out[1]["n_tokens"] == 3
    # scores are real gathered weights: bounded by n_tokens * max |w|
    assert abs(out[1]["score_sum_milli"]) <= 3 * 1000
    assert abs(out[2]["score_sum_milli"]) <= 2 * 1000


def test_train_nb_weights_discriminates(spark, monkeypatch):
    from ferenda_spark.operators.classify import train_nb_weights
    rows = [(True, "excellent prose excellent prose insight"),
            (True, "insight excellent careful prose"),
            (False, "spam spam winner click spam"),
            (False, "click winner spam click")]
    labeled = spark.createDataFrame(rows, "label boolean, text string")
    monkeypatch.setattr("ferenda_spark.operators.classify.NB_BUCKETS", 256)
    w = train_nb_weights(labeled)
    assert len(w) == 256
    scored = {r["id"]: r for r in quality_score(
        spark.createDataFrame(
            [(1, "excellent insight prose"), (2, "spam click winner")],
            "doc_id long, text string"),
        weights=w, n_buckets=256).collect()}
    # trained log-odds separate the classes with the right signs
    assert scored[1]["score_sum_milli"] > 0 and scored[1]["keep"]
    assert scored[2]["score_sum_milli"] < 0 and not scored[2]["keep"]
    # deterministic replay
    assert train_nb_weights(labeled) == w
    # untouched buckets share the smoothing-only constant
    import collections
    fill = collections.Counter(w).most_common(1)[0][0]
    touched = [i for i, v in enumerate(w) if v != fill]
    assert 0 < len(touched) <= 7   # ≤ distinct training tokens


def test_train_nb_weights_single_class_raises(spark, monkeypatch):
    import pytest as _pytest

    from ferenda_spark.operators.classify import train_nb_weights
    labeled = spark.createDataFrame(
        [(True, "only positive text here")], "label boolean, text string")
    with _pytest.raises(ValueError, match="single-class"):
        monkeypatch.setattr("ferenda_spark.operators.classify.NB_BUCKETS", 64)
        train_nb_weights(labeled)


def test_score_eval_threshold_sweep(spark):
    from ferenda_spark.operators.classify import score_eval
    scored = spark.createDataFrame(
        [(1, 4, 4000), (2, 4, -4000), (3, 4, 400), (4, 0, 0)],
        "id long, n_tokens long, score_sum_milli long")
    labels = spark.createDataFrame(
        [(1, True), (2, False), (3, True), (4, False)],
        "id long, label boolean")
    out = {r["threshold_milli"]: r for r in score_eval(
        scored, labels, thresholds=[0, 500_000]).collect()}
    # thr=0: keep = mean >= 0 → docs 1,3 kept (both pos), doc 4
    # empty keeps (neg), doc 2 dropped (neg)
    t0 = out[0]
    assert (t0["tp"], t0["fp"], t0["fn"], t0["tn"]) == (2, 1, 0, 1)
    assert t0["precision_milli"] == 2000 // 3
    assert t0["recall_milli"] == 1000
    # thr=500000 (micro units — mean_milli 500): doc 3 (mean_milli
    # 100) drops, the empty doc drops too
    t5 = out[500_000]
    assert (t5["tp"], t5["fp"], t5["fn"], t5["tn"]) == (1, 0, 1, 2)
    assert t5["precision_milli"] == 1000
    assert t5["recall_milli"] == 500
    # degenerate denominators are NULL, never fake zeros
    hi = score_eval(scored, labels, thresholds=[10_000_000]).first()
    assert hi["tp"] == 0 and hi["precision_milli"] is None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty threshold"):
        score_eval(scored, labels, thresholds=[])
