"""Count-Min sketch (operators/sketch.py): one-sided error, merge
law, geometry sensitivity."""

from pyspark.sql import functions as F

from ferenda_spark.operators.sketch import cms_lookup, cms_sketch


def _toks(spark, words):
    return spark.createDataFrame([(w,) for w in words], "key string")


def test_cms_never_underestimates(spark, monkeypatch):
    words = (["apple"] * 50 + ["banana"] * 20 + ["cherry"] * 5
             + [f"noise{i}" for i in range(300)])
    df = _toks(spark, words)
    # deliberately tiny width: collisions guaranteed
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_DEPTH", 3)
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_WIDTH", 16)
    sk = cms_sketch(df)
    exact = {"apple": 50, "banana": 20, "cherry": 5}
    probes = _toks(spark, list(exact))
    got = {r["key"]: r["est"]
           for r in cms_lookup(sk, probes).collect()}
    for k, n in exact.items():
        assert got[k] >= n, (k, got[k], n)
    # total sketch mass per row = total updates (conservation)
    per_row = {r["row"]: r["s"]
               for r in sk.groupBy("row").agg(F.sum("cnt").alias("s"))
               .collect()}
    assert set(per_row.values()) == {len(words)}


def test_cms_exact_when_wide(spark, monkeypatch):
    words = ["a"] * 7 + ["b"] * 3 + ["c"]
    df = _toks(spark, words)
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_WIDTH", 4096)
    sk = cms_sketch(df)
    got = {r["key"]: r["est"]
           for r in cms_lookup(
               sk, _toks(spark, ["a", "b", "c", "zz"])).collect()}
    assert got == {"a": 7, "b": 3, "c": 1, "zz": 0}


def test_cms_sketches_merge_by_cell_sum(spark, monkeypatch):
    w1 = ["x"] * 5 + ["y"] * 2
    w2 = ["x"] * 3 + ["z"] * 4
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_DEPTH", 3)
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_WIDTH", 64)
    s1 = cms_sketch(_toks(spark, w1))
    s2 = cms_sketch(_toks(spark, w2))
    merged = (s1.unionByName(s2).groupBy("row", "col")
              .agg(F.sum("cnt").alias("cnt")))
    direct = cms_sketch(_toks(spark, w1 + w2))
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_cms_bounded_state(spark, monkeypatch):
    # 5000 distinct keys, sketch stays at <= depth*width rows
    df = _toks(spark, [f"k{i}" for i in range(5000)])
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_WIDTH", 128)
    sk = cms_sketch(df)
    assert sk.count() <= 4 * 128
