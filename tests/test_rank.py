"""Integer PageRank (operators/rank.py): determinism + agreement with
the textbook float iteration."""

from pyspark.sql import functions as F

from ferenda_spark.operators.rank import SCALE, pagerank


def _pr_float(edges, iters, d=0.85):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        inc = {v: 0.0 for v in nodes}
        for a, b in edges:
            inc[b] += r[a] / outdeg[a]
        dm = sum(r[v] for v in nodes if v not in outdeg)  # dangling
        r = {v: (1 - d) / n + d * (inc[v] + dm / n) for v in nodes}
    return r


EDGES = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "C")]


def test_pagerank_matches_float_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank_micro"] for r in pagerank(df, iters=3).collect()}
    want = _pr_float(EDGES, iters=3)
    assert set(got) == set(want)
    for v, micro in got.items():
        # integer floor-division truncation loses < 1e-4 over 3 iters
        assert abs(micro / 1e6 - want[v]) < 1e-4, (v, micro, want[v])
    # C has the most in-links; D (never cited) sits at the base rank
    assert got["C"] == max(got.values())
    assert got["D"] == min(got.values())


def test_pagerank_deterministic_across_partitionings(spark):
    df1 = spark.createDataFrame(EDGES, "src string, dst string").repartition(1)
    df7 = spark.createDataFrame(EDGES, "src string, dst string").repartition(7)
    r1 = sorted(map(tuple, pagerank(df1, iters=4).collect()))
    r7 = sorted(map(tuple, pagerank(df7, iters=4).collect()))
    assert r1 == r7


def test_pagerank_symmetric_cycle(spark):
    df = spark.createDataFrame([("X", "Y"), ("Y", "X")],
                               "src string, dst string")
    got = {r["node"]: r["rank_micro"] for r in pagerank(df, iters=5).collect()}
    # a symmetric 2-cycle keeps the uniform rank exactly: 1/2 each
    assert got["X"] == got["Y"] == SCALE // 2 // 10**6


def test_pagerank_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df, iters=2).count() == 0


DANGLING_EDGES = [("A", "B"), ("A", "C"), ("B", "C")]   # C is dangling


def test_pagerank_dangling_mass_redistributed(spark):
    """Canonical treatment: a dangling hub's mass flows back to every
    node instead of draining out of the system."""
    df = spark.createDataFrame(DANGLING_EDGES, "src string, dst string")
    got = {r["node"]: r["rank_micro"]
           for r in pagerank(df, iters=4).collect()}
    want = _pr_float(DANGLING_EDGES, iters=4)
    for v, micro in got.items():
        assert abs(micro / 1e6 - want[v]) < 1e-4, (v, micro, want[v])
    # mass conserved up to floor truncation: Σ rank ≈ 1
    assert abs(sum(got.values()) / 1e6 - 1.0) < 1e-3


# ---- HITS ----------------------------------------------------------------

from ferenda_spark.operators.rank import HITS_SCALE, hits  # noqa: E402


def _hits_int(edges, iters):
    """Pure-Python mirror of the integer L1-normalized HITS."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    h = {v: HITS_SCALE for v in nodes}
    a = {v: 0 for v in nodes}

    def norm(x):
        tot = sum(x.values())
        if tot <= 0:
            return {v: 0 for v in x}
        return {v: x[v] * HITS_SCALE // tot for v in x}

    for _ in range(iters):
        a = {v: 0 for v in nodes}
        for u, v in edges:
            a[v] += h[u]
        a = norm(a)
        h = {v: 0 for v in nodes}
        for u, v in edges:
            h[u] += a[v]
        h = norm(h)
    return h, a


def test_hits_matches_int_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: (r["hub_micro"], r["auth_micro"])
           for r in hits(df).collect()}
    h, a = _hits_int(EDGES, iters=2)
    assert got == {v: (h[v], a[v]) for v in h}
    # C is the strongest authority (3 in-links); A the strongest hub
    # (points at both B and C)
    assert got["C"][1] == max(v[1] for v in got.values())
    assert got["A"][0] == max(v[0] for v in got.values())
    # D points at C but nothing points at D: pure hub, zero authority
    assert got["D"][1] == 0 and got["D"][0] > 0


def test_hits_deterministic_across_partitionings(spark, monkeypatch):
    df1 = spark.createDataFrame(EDGES, "src string, dst string").repartition(1)
    df7 = spark.createDataFrame(EDGES, "src string, dst string").repartition(7)
    monkeypatch.setattr("ferenda_spark.operators.rank.HITS_ITERS", 3)
    r1 = sorted(map(tuple, hits(df1).collect()))
    r7 = sorted(map(tuple, hits(df7).collect()))
    assert r1 == r7


def test_hits_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert hits(df).count() == 0


# ---- triangles -------------------------------------------------------------

from itertools import combinations  # noqa: E402

from ferenda_spark.operators.rank import triangles  # noqa: E402


def _tri_ref(edges):
    """Brute-force undirected triangle counts + coeff millis."""
    und = set()
    for a, b in edges:
        if a != b:
            und.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    t = {v: 0 for v in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                t[v] += 1
    return {v: (len(adj[v]), t[v],
                (2000 * t[v]) // (len(adj[v]) * (len(adj[v]) - 1)))
            for v in adj if t[v] > 0}


TRI_EDGES = [("A", "B"), ("B", "C"), ("C", "A"),      # triangle
             ("C", "D"), ("D", "A"),                  # second: A C D
             ("D", "E"),                              # dangling spoke
             ("B", "A"),                              # reverse dup
             ("E", "E")]                              # self-loop


def test_triangles_matches_bruteforce(spark):
    df = spark.createDataFrame(TRI_EDGES, "src string, dst string")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff_milli"])
           for r in triangles(df).collect()}
    assert got == _tri_ref(TRI_EDGES)
    # A and C each close both triangles, B and D one each
    assert got["A"][1] == 2 and got["C"][1] == 2
    assert got["B"][1] == 1 and got["D"][1] == 1
    # B's neighborhood is fully connected: coefficient 1.000
    assert got["B"][2] == 1000
    assert "E" not in got  # no triangle through E


def test_triangles_skewed_hub(spark):
    # hub H connects to 30 spokes; spokes i,i+1 connected pairwise:
    # 29 triangles at H, degree-ordering keeps the hub's out-set tiny
    edges = [("H", f"s{i:02d}") for i in range(30)] + \
            [(f"s{i:02d}", f"s{i+1:02d}") for i in range(29)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["n_triangles"] for r in triangles(df).collect()}
    assert got["H"] == 29
    assert got["s00"] == 1 and got["s15"] == 2
    ref = _tri_ref(edges)
    full = {r["node"]: (r["degree"], r["n_triangles"], r["coeff_milli"])
            for r in triangles(df).collect()}
    assert full == ref


def test_triangles_none(spark):
    df = spark.createDataFrame([("A", "B"), ("B", "C")],
                               "src string, dst string")
    assert triangles(df).count() == 0


def test_link_prediction_ra_exact_and_hub_cap(spark, monkeypatch):
    """RA scores on a hand-checked graph: score = Σ 10^6 DIV deg(w)
    over common neighbors; adjacent pairs excluded; a hub above the
    degree cap stops generating candidates (and only loses its
    ≤10^6/cap contribution)."""
    from ferenda_spark.operators.rank import link_prediction_ra
    # path graph a-w-b plus w-c: w has degree 3
    # pairs via w: (a,b),(a,c),(b,c) each score 10^6 DIV 3 = 333333
    edges = spark.createDataFrame(
        [("w", "a"), ("w", "b"), ("w", "c")], "src string, dst string")
    out = {(r["u"], r["v"]): (r["score_micro"], r["n_common"])
           for r in link_prediction_ra(edges).collect()}
    assert out == {("a", "b"): (333333, 1), ("a", "c"): (333333, 1),
                   ("b", "c"): (333333, 1)}
    # two common neighbors of degree 2 each: score = 2·500000
    edges2 = spark.createDataFrame(
        [("a", "w1"), ("w1", "b"), ("a", "w2"), ("w2", "b")],
        "src string, dst string")
    out2 = {(r["u"], r["v"]): (r["score_micro"], r["n_common"])
            for r in link_prediction_ra(edges2).collect()}
    assert out2[("a", "b")] == (1000000, 2)
    # adjacent pair never predicted even with a common neighbor
    edges3 = spark.createDataFrame(
        [("a", "b"), ("a", "w"), ("w", "b")], "src string, dst string")
    assert link_prediction_ra(edges3).count() == 0
    # hub cap: w exceeds max_hub_degree -> no candidates at all
    monkeypatch.setattr("ferenda_spark.operators.rank.RA_MAX_HUB_DEGREE", 2)
    assert link_prediction_ra(edges).count() == 0


def test_label_propagation_triangle_and_determinism(spark):
    """Hand-traced synchronous LPA: a triangle converges to the min
    id in 2 rounds; disjoint triangles get separate labels; the
    result is identical across runs (pure integer/min arithmetic)."""
    from ferenda_spark.operators.rank import label_propagation
    tri = [("a", "b"), ("b", "c"), ("c", "a"),
           ("x", "y"), ("y", "z"), ("z", "x")]
    edges = spark.createDataFrame(tri, "src string, dst string")
    out = {r["node"]: r["label"]
           for r in label_propagation(edges).collect()}
    # round 1: every node takes its min neighbor; round 2: majority
    # (a sees b->"a", c->"a" => "a"; b sees a->"b", c->"a" => "a"...)
    assert out == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x"}
    again = {r["node"]: r["label"]
             for r in label_propagation(edges).collect()}
    assert out == again
    # two triangles bridged by one edge: hand-trace of the exact
    # 2-round synchronous state.  Round 1 minimums: a->b, b->a,
    # c->a, x->c (the bridge pulls x to "c"), y->x, z->x.  Round 2:
    # a/b/c majority-or-min-tie to "a"; x's own triangle outvotes
    # the bridge (y,z both carry "x"); y and z each see {c,x} — a
    # tie — and the min tie-break picks "c".  The a-triangle stays
    # intact and never absorbs the x-triangle's core.
    bridged = tri + [("c", "x")]
    out2 = {r["node"]: r["label"] for r in label_propagation(
        spark.createDataFrame(bridged, "src string, dst string")).collect()}
    assert {out2["a"], out2["b"], out2["c"]} == {"a"}
    assert out2["x"] == "x"
    assert {out2["y"], out2["z"]} == {"c"}


def test_k_core_peels_to_fixpoint(spark, monkeypatch):
    """Hand-traced: a triangle with a pendant chain — the chain peels
    off over two rounds, the triangle is the 2-core; a 4-clique
    survives k=3 while everything else drops."""
    from ferenda_spark.operators.rank import k_core
    edges = [("a", "b"), ("b", "c"), ("c", "a"),   # triangle
             ("c", "d"), ("d", "e")]               # pendant chain
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["node"]: r["degree"] for r in k_core(df, k=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}
    # exactly-N-rounds contract: after ONE round only e is gone
    # (e had degree 1; d still had degree 2 when peeled rounds start)
    monkeypatch.setattr("ferenda_spark.operators.rank.K_CORE_ITERS", 1)
    one = {r["node"]: r["degree"]
           for r in k_core(df, k=2).collect()}
    assert one == {"a": 2, "b": 2, "c": 3, "d": 1}
    # early-exit == generous-bound (identity rounds are free)
    monkeypatch.setattr("ferenda_spark.operators.rank.K_CORE_ITERS", 50)
    deep = {r["node"]: r["degree"]
            for r in k_core(df, k=2).collect()}
    assert deep == out
    # k=3: 4-clique with a pendant triangle attached at one vertex
    clique = [(a, b) for i, a in enumerate("pqrs")
              for b in "pqrs"[i + 1:]]
    df3 = spark.createDataFrame(
        clique + [("p", "t"), ("t", "u"), ("u", "p")],
        "src string, dst string")
    got3 = {r["node"]: r["degree"] for r in k_core(df3, k=3).collect()}
    assert got3 == {"p": 3, "q": 3, "r": 3, "s": 3}
    # empty core
    assert k_core(df, k=5).count() == 0


def test_cocitation_and_coupling(spark, monkeypatch):
    """Hand-traced: s1 cites {t1,t2,t3}, s2 cites {t2,t3}, s3 cites
    {t3} — co-citation counts common citers per target pair; coupling
    counts shared references per source pair; caps drop hub centers."""
    from ferenda_spark.operators.rank import (bibliographic_coupling,
                                              co_citation)
    edges = [("s1", "t1"), ("s1", "t2"), ("s1", "t3"),
             ("s2", "t2"), ("s2", "t3"), ("s3", "t3"),
             ("s2", "t3")]  # duplicate edge: ignored
    df = spark.createDataFrame(edges, "src string, dst string")
    cc = {(r["a"], r["b"]): r["n_cocited"]
          for r in co_citation(df).collect()}
    assert cc == {("t1", "t2"): 1, ("t1", "t3"): 1, ("t2", "t3"): 2}
    bc = {(r["a"], r["b"]): r["n_shared"]
          for r in bibliographic_coupling(df).collect()}
    assert bc == {("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1}
    # cap: excluding sources with out-degree > 2 removes s1's wedges
    monkeypatch.setattr(
        "ferenda_spark.operators.rank.COCITATION_MAX_OUT_DEGREE", 2)
    cc2 = {(r["a"], r["b"]): r["n_cocited"]
           for r in co_citation(df).collect()}
    assert cc2 == {("t2", "t3"): 1}
    # cap on coupling: t3 (in-degree 3) excluded
    monkeypatch.setattr(
        "ferenda_spark.operators.rank.COUPLING_MAX_IN_DEGREE", 2)
    bc2 = {(r["a"], r["b"]): r["n_shared"]
           for r in bibliographic_coupling(df).collect()}
    assert bc2 == {("s1", "s2"): 1}


# ---------------------------------------------------------------- scc

def _scc_local(edges):
    """Independent reference: Kosaraju on the driver."""
    from collections import defaultdict
    fwd, bwd = defaultdict(list), defaultdict(list)
    nodes = set()
    for a, b in edges:
        if a == b:
            continue  # operator contract: self-loop-only nodes absent
        fwd[a].append(b)
        bwd[b].append(a)
        nodes.update((a, b))
    order = []
    seen = set()
    for s in sorted(nodes):
        if s in seen:
            continue
        stack = [(s, iter(fwd[s]))]
        seen.add(s)
        while stack:
            v, it = stack[-1]
            adv = False
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(fwd[w])))
                    adv = True
                    break
            if not adv:
                order.append(v)
                stack.pop()
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        members = [s]
        comp[s] = None
        while members:
            v = members.pop()
            comp[v] = s  # placeholder root; re-min below
            for w in bwd[v]:
                if w not in comp:
                    comp[w] = s
                    members.append(w)
    # relabel each component by its min member (the operator contract)
    groups = {}
    for v, c in comp.items():
        groups.setdefault(c, []).append(v)
    out = {}
    for mem in groups.values():
        m = min(mem)
        for v in mem:
            out[v] = m
    return out


def _scc_spark(spark, edges):
    from ferenda_spark.operators.rank import scc
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["id"]: r["comp"] for r in scc(df).collect()}


def _scc_distributed(spark, edges, monkeypatch, **consts):
    """scc through the distributed coloring path (``DRIVER_MAX`` 0),
    with any other rank constants overridden for this call only."""
    with monkeypatch.context() as m:
        m.setattr("ferenda_spark.operators.rank.DRIVER_MAX", 0)
        for name, value in consts.items():
            m.setattr(f"ferenda_spark.operators.rank.{name}", value)
        return _scc_spark(spark, edges)


def test_scc_rings_bridges_chord(spark, monkeypatch):
    # two 4-rings bridged one way -> separate SCCs; a back chord
    # merges them; plus a DAG tail and a self-loop, through the
    # DISTRIBUTED coloring path.
    ring1 = [(0, 1), (1, 2), (2, 3), (3, 0)]
    ring2 = [(10, 11), (11, 12), (12, 13), (13, 10)]
    edges = ring1 + ring2 + [(10, 0)] + [(20, 10), (21, 20), (5, 5)]
    got = _scc_distributed(spark, edges, monkeypatch)
    want = _scc_local(edges)
    assert got == want
    assert got[0] == got[1] == got[2] == got[3] == 0
    assert got[10] == got[13] == 10          # not merged: bridge is one-way
    assert got[20] == 20 and got[21] == 21   # DAG tail: singletons
    # now add the back chord 0 -> 10: one SCC of 8 (fast path)
    edges2 = edges + [(0, 10)]
    got2 = _scc_spark(spark, edges2)
    assert got2 == _scc_local(edges2)
    assert {got2[v] for v in (0, 1, 2, 3, 10, 11, 12, 13)} == {0}


def test_scc_pure_dag_all_singletons(spark):
    edges = [(i, i + 1) for i in range(8)] + [(0, 5), (2, 7)]
    got = _scc_spark(spark, edges)
    assert got == {v: v for v in range(9)}


def test_scc_matches_kosaraju_on_random_graphs(spark, monkeypatch):
    import random
    for seed in (7, 19, 23):
        rng = random.Random(seed)
        n = 40
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(90)})
        got = _scc_spark(spark, edges)
        assert got == _scc_local(edges), seed
    # one irregular graph through the distributed path too: pins the
    # coloring algorithm (not just the fast path) against Kosaraju
    # (kept small — every coloring round is several Spark jobs)
    rng = random.Random(101)
    edges = sorted({(rng.randrange(16), rng.randrange(16))
                    for _ in range(36)})
    assert _scc_distributed(spark, edges, monkeypatch) == \
        _scc_local(edges)


def test_scc_nonconvergence_raises(spark, monkeypatch):
    import pytest
    # a 16-chain of 2-cycles forms 16 SCCs in a 16-deep condensation
    # path; with one coloring round the periphery cannot retire
    edges = []
    for g in range(16):
        a, b = 2 * g, 2 * g + 1
        edges += [(a, b), (b, a)]
        if g:
            edges.append((a, a - 2))
    ok = _scc_spark(spark, edges)        # fast path: converges
    assert ok == _scc_local(edges)
    with pytest.raises(RuntimeError, match="scc"):
        _scc_distributed(spark, edges, monkeypatch, SCC_MAX_ROUNDS=1)


# ---------------------------------------------------------- trustrank

def _trustrank_local(edges, seeds, iters=3, damping_pct=85):
    """Exact integer mirror of rank.trustrank for small graphs."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges}
                   | set(seeds))
    seeds = set(seeds)
    s = len(seeds)
    unit = 10**12 // s
    base = (100 - damping_pct) * unit // 100
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {v: (unit if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for u, v in edges:
            inc[v] += r[u] // outdeg[u]
        dm = sum(r[v] for v in nodes if v not in outdeg)
        r = {v: ((base if v in seeds else 0)
                 + damping_pct * (inc[v] + (dm // s if v in seeds else 0))
                 // 100)
             for v in nodes}
    return {v: r[v] // 10**6 for v in nodes}


def _trustrank_spark(spark, edges, seeds, **kw):
    from ferenda_spark.operators.rank import trustrank
    e = spark.createDataFrame(edges, "src string, dst string")
    sdf = spark.createDataFrame([(x,) for x in seeds], "node string")
    return {r["node"]: r["trust_micro"]
            for r in trustrank(e, sdf, **kw).collect()}


def test_trustrank_matches_integer_mirror(spark):
    # chain + cycle + dangling sink, seeds on one side only
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
             ("d", "e"), ("x", "y")]
    seeds = ["a", "x"]
    got = _trustrank_spark(spark, edges, seeds)
    assert got == _trustrank_local(edges, seeds)


def test_trustrank_unreachable_scores_zero(spark):
    # two disconnected components; seeds only in the first — the
    # second must score exactly 0 (the spam-demotion property)
    edges = [("a", "b"), ("b", "a"), ("p", "q"), ("q", "p")]
    got = _trustrank_spark(spark, edges, ["a"])
    assert got["p"] == 0 and got["q"] == 0
    assert got["a"] > 0 and got["b"] > 0
    assert got == _trustrank_local(edges, ["a"])


def test_trustrank_all_seeds_is_pagerank(spark):
    # teleporting uniformly to EVERY node degenerates to pagerank
    from ferenda_spark.operators.rank import pagerank
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    nodes = sorted({u for e in edges for u in e})
    got = _trustrank_spark(spark, edges, nodes)
    e = spark.createDataFrame(edges, "src string, dst string")
    want = {r["node"]: r["rank_micro"] for r in pagerank(e).collect()}
    assert got == want


def test_trustrank_empty_seeds_raises(spark):
    import pytest
    from ferenda_spark.operators.rank import trustrank
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    sdf = spark.createDataFrame([], "node string")
    with pytest.raises(ValueError, match="seed"):
        trustrank(e, sdf)


# ---------------------------------------- condensation + topo levels

def test_condensation_projects_scc_dag(spark):
    from ferenda_spark.operators.rank import condensation, scc
    # two 2-cycles chained, plus a lone DAG node feeding in
    edges = [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3), (9, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    comps = scc(e)
    dag = {(r["csrc"], r["cdst"])
           for r in condensation(e, comps).collect()}
    assert dag == {(1, 3), (9, 1)}


def test_topo_levels_driver_and_distributed_agree(spark, monkeypatch):
    from ferenda_spark.operators.rank import topo_levels
    # diamond + tail: longest path decides the level
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (9, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    want = {0: 0, 9: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    got = {r["node"]: r["level"] for r in topo_levels(e).collect()}
    assert got == want
    monkeypatch.setattr("ferenda_spark.operators.rank.DRIVER_MAX", 0)
    dist = {r["node"]: r["level"]
            for r in topo_levels(e).collect()}
    assert dist == want


def test_topo_levels_cycle_raises(spark, monkeypatch):
    import pytest
    from ferenda_spark.operators.rank import topo_levels
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                              "src long, dst long")
    with pytest.raises(ValueError, match="cycle"):
        topo_levels(e)
    with pytest.raises(ValueError, match="cycle"):
        monkeypatch.setattr("ferenda_spark.operators.rank.DRIVER_MAX", 0)
        monkeypatch.setattr("ferenda_spark.operators.rank.TOPO_MAX_ITERS", 10)
        topo_levels(e)


# ----------------------------------------------- landmark distances

def test_landmark_distances_match_bfs(spark):
    from collections import deque
    from ferenda_spark.operators.rank import landmark_distances
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (2, 4), (4, 5), (9, 0),
             (5, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    lms = spark.createDataFrame([(0,), (4,)], "node long")
    got = {(int(r["node"]), int(r["landmark"])): r["dist"]
           for r in landmark_distances(e, lms).collect()}

    def bfs_to(target):
        rev = {}
        for u, v in edges:
            rev.setdefault(v, []).append(u)
        dist = {target: 0}
        q = deque([target])
        while q:
            x = q.popleft()
            for u in rev.get(x, []):
                if u not in dist:
                    dist[u] = dist[x] + 1
                    q.append(u)
        return dist
    want = {}
    for lm in (0, 4):
        for n, d in bfs_to(lm).items():
            want[(n, lm)] = d
    assert got == want


def test_landmark_distances_truncation_raises(spark):
    import pytest
    from ferenda_spark.operators.rank import landmark_distances
    chain = [(i, i + 1) for i in range(6)]
    e = spark.createDataFrame(chain, "src long, dst long")
    lms = spark.createDataFrame([(6,)], "node long")
    with pytest.raises(ValueError, match="max_depth"):
        landmark_distances(e, lms, max_depth=3)
    full = landmark_distances(e, lms, max_depth=6)
    assert full.count() == 7


# -------------------------------------------------- assortativity

def test_degree_assortativity_star_vs_clique(spark):
    from ferenda_spark.operators.rank import degree_assortativity
    # star: hub degree n, leaves degree 1 — maximally disassortative
    star = [(0, i) for i in range(1, 8)]
    r_star = degree_assortativity(
        spark.createDataFrame(star, "src long, dst long")
    ).collect()[0]
    assert r_star["n_edges"] == 7
    assert r_star["r"] < 0                       # hub→leaf mixing
    # two cliques of different sizes: within-clique degrees equal —
    # perfectly assortative (r = 1)
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique += [(a, b) for a in range(10, 16) for b in range(10, 16)
               if a < b]
    r_cl = degree_assortativity(
        spark.createDataFrame(clique, "src long, dst long")
    ).collect()[0]
    assert r_cl["r"] == 1.0
    # direction + duplicates don't matter (undirected distinct)
    both = clique + [(b, a) for a, b in clique]
    r_b = degree_assortativity(
        spark.createDataFrame(both, "src long, dst long")
    ).collect()[0]
    assert (r_b["n_edges"], r_b["r"]) == (r_cl["n_edges"], r_cl["r"])


def test_harmonic_centrality_landmark_estimate(spark, monkeypatch):
    from ferenda_spark.operators.rank import harmonic_centrality
    # path graph 0→1→2→3 plus isolated pair 8→9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (8, 9)], "src long, dst long")
    lms = spark.createDataFrame([(3,), (9,)], "node long")
    monkeypatch.setattr("ferenda_spark.operators.rank.HARMONIC_MAX_DEPTH", 6)
    out = {r["node"]: r for r in harmonic_centrality(
        edges, lms).collect()}
    # node 0: d(0,3)=3, 9 unreachable → 1000000//3; N=6, k=2
    assert out["0"]["k_reached"] == 1
    assert out["0"]["inv_dist_sum_micro"] == 333333
    assert out["0"]["harmonic_micro"] == 333333 * 5 // 2
    # node 8 reaches only 9 at distance 1
    assert out["8"]["inv_dist_sum_micro"] == 1000000
    # landmarks exclude themselves (dist 0 skipped): node 3 reaches
    # neither other landmark → absent
    assert "3" not in out
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty landmark"):
        harmonic_centrality(edges, spark.createDataFrame(
            [], "node long"))
