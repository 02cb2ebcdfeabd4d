"""Redirect-chain resolution, host-graph projection, random walks.

Reference behavior being restated: the reference follows HTTP
redirects inline during download (documentrepository.py:964-1040);
at archive scale the hops are index rows and resolution is a bounded
graph fold.  Host graph and walks have no reference counterpart —
they are the Common-Crawl-side additions a web-scale KG consumes.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators.crawl import host_graph, resolve_redirects
from ferenda_spark.operators.rank import random_walks


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture()
def redirects(spark):
    # chain a→b→c→T, 2-cycle x⇄y, isolated hop s→T2
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "T"),
         ("x", "y"), ("y", "x"),
         ("s", "T2")], "src string, dst string")


def test_resolve_chain_hops_and_terminals(redirects):
    got = {r["src"]: r for r in resolve_redirects(
        redirects).collect()}
    assert got["a"]["final_url"] == "T" and got["a"]["hops"] == 3
    assert got["b"]["final_url"] == "T" and got["b"]["hops"] == 2
    assert got["c"]["final_url"] == "T" and got["c"]["hops"] == 1
    assert got["s"]["final_url"] == "T2" and got["s"]["hops"] == 1
    assert all(got[k]["resolved"] for k in "abcs")


def test_resolve_cycle_is_loud_not_looping(redirects):
    got = {r["src"]: r for r in resolve_redirects(
        redirects).collect()}
    # a 2-cycle followed 2^4 = 16 hops lands back on the source
    assert not got["x"]["resolved"] and not got["y"]["resolved"]
    assert got["x"]["final_url"] == "x" and got["x"]["hops"] == 16
    assert got["y"]["final_url"] == "y"


def test_resolve_conflicting_captures_take_min(spark, monkeypatch):
    r = spark.createDataFrame([("a", "z"), ("a", "b")],
                              "src string, dst string")
    monkeypatch.setattr("ferenda_spark.operators.crawl.REDIRECT_ROUNDS", 2)
    got = resolve_redirects(r).collect()
    assert len(got) == 1 and got[0]["final_url"] == "b"


def test_host_graph_projection(spark):
    links = spark.createDataFrame(
        [("https://a.com/1", "https://b.com/x"),
         ("https://a.com/1", "https://b.com/y"),
         ("https://a.com/2", "https://b.com/x"),
         ("https://a.com/1", "https://a.com/3"),   # intra-host
         ("https://c.com/7", "https://b.com/x")],
        "src string, dst string")
    got = {(r["src_host"], r["dst_host"]): r
           for r in host_graph(links).collect()}
    assert set(got) == {("a.com", "b.com"), ("c.com", "b.com")}
    ab = got[("a.com", "b.com")]
    assert ab["n_links"] == 3 and ab["n_src_pages"] == 2


@pytest.fixture()
def diamond(spark):
    # u → {p, q}; p → t; q → t; t is a sink
    return spark.createDataFrame(
        [("u", "p"), ("u", "q"), ("p", "t"), ("q", "t")],
        "src string, dst string")


def test_random_walks_deterministic_choice(spark, diamond):
    walks = random_walks(diamond).collect()
    by_walk = {}
    for r in walks:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    w = by_walk["u#0"]
    # step 1 from u: the argmin of h("walk-v1:u#0:1:" + v) over {p,q}
    expect = min(("p", "q"),
                 key=lambda v: (_h60(f"walk-v1:u#0:1:{v}"), v))
    assert w[0] == "u" and w[1] == expect
    assert w[2] == "t"          # both p and q lead only to t
    assert 3 not in w           # t is a sink: the walk ends


def test_random_walks_rerun_identical(spark, diamond, monkeypatch):
    monkeypatch.setattr("ferenda_spark.operators.rank.WALKS_PER_NODE", 2)
    a = sorted(map(tuple, random_walks(
        diamond).collect()))
    b = sorted(map(tuple, random_walks(
        diamond).collect()))
    assert a == b and len(a) > 0


def test_random_walks_counts(spark, diamond, monkeypatch):
    monkeypatch.setattr("ferenda_spark.operators.rank.WALKS_PER_NODE", 2)
    monkeypatch.setattr("ferenda_spark.operators.rank.WALK_LENGTH", 2)
    out = random_walks(diamond)
    # 4 nodes (u p q t) × 2 walks at step 0
    assert out.filter("step = 0").count() == 8
    # the sink t contributes no step-1 rows: 3 walking nodes × 2
    assert out.filter("step = 1").count() == 6
    # exactly one node per (walk, step)
    dup = (out.groupBy("walk_id", "step").count()
           .filter("count > 1").count())
    assert dup == 0


def test_random_walks_leave_a_hub(spark, monkeypatch):
    hub = spark.createDataFrame(
        [("h", f"n{i}") for i in range(50)] + [("o", "h")],
        "src string, dst string")
    monkeypatch.setattr("ferenda_spark.operators.rank.WALK_LENGTH", 1)
    out = random_walks(hub)
    # the walk moves off the hub to exactly one of its neighbors
    step1 = {r["node"] for r in
             out.filter("walk_id = 'h#0' and step = 1").collect()}
    assert len(step1) == 1 and next(iter(step1)).startswith("n")


# ---- snapshot churn --------------------------------------------------------

@pytest.fixture()
def snapshots(spark):
    prev = spark.createDataFrame(
        [("https://a.com/1", "h1"),     # unchanged
         ("https://a.com/2", "h2"),     # modified
         ("https://a.com/3", "h3"),     # gone
         ("https://b.com/1", "h4")],    # unchanged
        "url string, content_hash string")
    curr = spark.createDataFrame(
        [("https://a.com/1", "h1"),
         ("https://a.com/2", "h2x"),
         ("https://a.com/4", "h5"),     # new
         ("https://b.com/1", "h4")],
        "url string, content_hash string")
    return prev, curr


def test_snapshot_churn_statuses(snapshots):
    from ferenda_spark.operators.crawl import snapshot_churn
    got = {r["url"]: r["status"]
           for r in snapshot_churn(*snapshots).collect()}
    assert got == {"https://a.com/1": "unchanged",
                   "https://a.com/2": "modified",
                   "https://a.com/3": "gone",
                   "https://a.com/4": "new",
                   "https://b.com/1": "unchanged"}


def test_host_churn_permille(snapshots):
    from ferenda_spark.operators.crawl import host_churn, snapshot_churn
    got = {r["host"]: r for r in
           host_churn(snapshot_churn(*snapshots)).collect()}
    a = got["a.com"]
    # a.com: 1 new + 1 gone + 1 modified + 1 unchanged → 750‰
    assert (a["n_new"], a["n_gone"], a["n_modified"],
            a["n_unchanged"]) == (1, 1, 1, 1)
    assert a["churn_permille"] == 750
    b = got["b.com"]
    assert b["churn_permille"] == 0 and b["n_unchanged"] == 1


def test_host_churn_floor_division(spark):
    # 1 changed of 3 total → floor(1000/3) = 333, engine-exact
    from ferenda_spark.operators.crawl import host_churn
    churn = spark.createDataFrame(
        [("https://c.com/1", "modified"),
         ("https://c.com/2", "unchanged"),
         ("https://c.com/3", "unchanged")], "url string, status string")
    [r] = host_churn(churn).collect()
    assert r["churn_permille"] == 333
