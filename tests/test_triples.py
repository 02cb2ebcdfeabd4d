"""Triple parity: P/R vs the by-construction golden set (the
reference's graph-compare method, testutil.py:58-117, as set ops)."""

from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import (
    entities_df,
    golden_triples_df,
    pages_df,
)
from ferenda_spark.operators.graph import precision_recall
from ferenda_spark.operators.metadata import assert_required_predicates
from ferenda_spark.pipeline import build_triples

N_DOCS = 150
KEY = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype", "obj_lang"]


def _canon(df):
    return df.select(*KEY).na.fill("~null~",
                                   ["obj_datatype", "obj_lang"]).distinct()


def test_triple_precision_recall(spark):
    pages = pages_df(spark, N_DOCS, partitions=4)
    golden = _canon(golden_triples_df(spark, N_DOCS, partitions=4))
    got = _canon(build_triples(pages, entities_df(spark)))

    pr = precision_recall(got, golden, KEY)
    precision, recall = pr["precision"], pr["recall"]
    assert precision >= 0.95, (precision, got.exceptAll(golden).take(10))
    assert recall >= 0.95, (recall, golden.exceptAll(got).take(10))
    # by construction the pipeline should be exact on this corpus
    assert precision == 1.0 and recall == 1.0


def test_required_predicates(spark):
    pages = pages_df(spark, 60, partitions=2)
    triples = build_triples(pages, entities_df(spark))
    missing = assert_required_predicates(triples)
    assert missing.count() == 0


def test_citation_skew_exists(spark):
    """The corpus must exhibit head-entity skew (zipf targets)."""
    golden = golden_triples_df(spark, 200, partitions=4)
    counts = (golden.filter(F.col("pred") == "dcterms:references")
              .groupBy("obj").count().orderBy(F.desc("count")))
    top = [r["count"] for r in counts.take(5)]
    med = counts.approxQuantile("count", [0.5], 0.01)[0]
    assert top[0] >= 10 * med


def test_fused_column_built_once_per_jvm(spark, monkeypatch):
    """The fused triple Column is DataFrame-independent: a second
    build_triples reuses it (a few hundred py4j round trips instead of
    thousands) and emits the same triple multiset; a new gateway
    rebuilds it."""
    import gc

    from py4j.clientserver import JavaClient
    from pyspark import SparkContext

    from ferenda_spark.operators import fused

    pages = pages_df(spark, 20, partitions=2)
    ents = entities_df(spark)
    first = build_triples(pages, ents)
    col = fused.triple_array()

    calls = []
    send = JavaClient.send_command

    def counting(self, command, *a, **kw):
        calls.append(command)
        return send(self, command, *a, **kw)

    gc.collect()
    monkeypatch.setattr(JavaClient, "send_command", counting)
    second = build_triples(pages, ents)
    monkeypatch.setattr(JavaClient, "send_command", send)
    assert len(calls) < 1000, len(calls)
    assert fused.triple_array() is col
    assert sorted(map(tuple, second.collect())) == \
        sorted(map(tuple, first.collect()))

    class OtherJVM:
        def __init__(self, jvm):
            self._jvm = jvm

        def __getattr__(self, name):
            return getattr(self._jvm, name)

    # restore this JVM's cached Column after the test
    monkeypatch.setattr(fused, "_TRIPLE_ARRAY", fused._TRIPLE_ARRAY)
    monkeypatch.setattr(SparkContext, "_jvm", OtherJVM(SparkContext._jvm))
    rebuilt = fused.triple_array()
    assert rebuilt is not col
    assert fused.triple_array() is rebuilt
