"""Entity linking: exact → fuzzy(0.8) → unlinkable semantics
(reference lookup_resource, documentrepository.py:500-547)."""

import pandas as pd
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import entities_df
from ferenda_spark.operators.linker import link_labels


def test_link_exact_fuzzy_and_miss(spark):
    ents = entities_df(spark).filter(F.col("kind") == "publisher")
    mentions = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3, 4],
        "label": [
            "Network Working Group",              # exact
            "Internet Enginering Task Force",     # fuzzy >= 0.8
            "W3 Consortium Publishing House",     # < 0.8 → no link
            "network working group",              # case differs → fuzzy hit
        ],
    }))
    got = {r["id"]: r["entity_uri"]
           for r in link_labels(mentions, ents).collect()}
    assert got[1] == "https://example.org/res/org/network-working-group"
    assert got[2] == "https://example.org/res/org/internet-engineering-task-force"
    assert got[3] is None
    assert got[4] == "https://example.org/res/org/network-working-group"


def test_length_band_blocking_identical_to_unblocked(spark):
    """The length-band blocking must be lossless: for every PUBLISHERS
    fixture variant (close, far, and canonical), the blocked fuzzy
    pass links exactly what an unblocked difflib pass over the full
    label list links."""
    import difflib

    from ferenda_spark.fixtures.pages import PUBLISHERS
    from ferenda_spark.functions.text import normalize_space

    ents = entities_df(spark).filter(F.col("kind") == "publisher")
    ent_rows = ents.collect()
    labels = sorted({normalize_space(r["label"]) for r in ent_rows})
    uri_by = {normalize_space(r["label"]): r["uri"] for r in ent_rows}

    variants = []
    for canonical, close, far in PUBLISHERS:
        variants += [canonical] + close + far
    mentions = spark.createDataFrame([(v,) for v in variants],
                                     "label string")
    got = {r["label"]: r["entity_uri"]
           for r in link_labels(mentions, ents).collect()}
    for v in variants:
        best = difflib.get_close_matches(
            normalize_space(v), labels, n=1, cutoff=0.8)
        want = uri_by[best[0]] if best else None
        assert got[v] == want, (v, got[v], want)


def test_fuzzy_miss_cap_logged_and_unlinked(spark, capsys, monkeypatch):
    """Misses past max_fuzzy_misses stay unlinked (null), kept ones
    (lexicographically smallest) still fuzzy-link; the drop count is
    printed, never silent."""
    ents = entities_df(spark).filter(F.col("kind") == "publisher")
    mentions = spark.createDataFrame(
        [("Aetwork Working Group",),   # sorts first → kept, fuzzy hit
         ("zz-no-such-entity-1",),
         ("zz-no-such-entity-2",)],
        "label string")
    monkeypatch.setattr("ferenda_spark.operators.linker.MAX_FUZZY_MISSES", 1)
    got = {r["label"]: r["entity_uri"]
           for r in link_labels(mentions, ents).collect()}
    assert got["Aetwork Working Group"] == \
        "https://example.org/res/org/network-working-group"
    assert got["zz-no-such-entity-1"] is None
    assert got["zz-no-such-entity-2"] is None
    assert "capped at 1 of 3" in capsys.readouterr().err


def test_link_passthrough_columns(spark):
    ents = entities_df(spark).filter(F.col("kind") == "publisher")
    mentions = spark.createDataFrame(pd.DataFrame({
        "extra": ["keepme"], "label": ["Network Working Group"]}))
    row = link_labels(mentions, ents).collect()[0]
    assert row["extra"] == "keepme" and row["entity_uri"] is not None


def test_null_labels_pass_through_unlinked(spark):
    ents = entities_df(spark).filter(F.col("kind") == "publisher")
    mentions = spark.createDataFrame(
        [(1, "Network Working Group"), (2, None), (3, None)],
        "id long, label string")
    got = {r["id"]: r["entity_uri"]
           for r in link_labels(mentions, ents).collect()}
    assert got[1] is not None and got[2] is None and got[3] is None
    assert len(got) == 3  # null rows survive, unlinked


def test_duplicate_entity_labels_link_deterministically(spark):
    """Two dim rows with the same normalized label must not fan out
    mention rows; the winner is the minimum uri on both the exact
    and the fuzzy path."""
    ents = spark.createDataFrame(
        [("https://x.test/b", "Same Label"),
         ("https://x.test/a", "Same  Label")],   # normalizes equal
        "uri string, label string")
    mentions = spark.createDataFrame(
        [(1, "Same Label"), (2, "Same Lable")],  # exact + fuzzy
        "id long, label string")
    rows = link_labels(mentions, ents).collect()
    assert len(rows) == 2                        # no fan-out
    got = {r["id"]: r["entity_uri"] for r in rows}
    assert got[1] == "https://x.test/a"          # min uri wins
    assert got[2] == "https://x.test/a"
