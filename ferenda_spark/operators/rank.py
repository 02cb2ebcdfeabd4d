"""Link-graph importance: fixed-iteration integer PageRank.

Head-entity ranking over the citation/link graph — the standard
graph-quality signal a web-scale curation pipeline derives from its
KG (harmonic-centrality/PageRank corpus ranking à la Common Search;
the reference's nearest analog is its inbound-reference annotation
counting, documentrepository.py:1829-1891, which kg_inbound_refs
covers — this operator generalizes it to transitive importance).

Engine-deterministic by construction: all arithmetic is BIGINT
floor-division (``rank // outdeg``, damping ``85/100``), so partial
aggregation order can never perturb a result bit — the same property
the fulltext scorer relies on.  Scale design:

* one shuffle per iteration (groupBy dst), plus the one-time outdeg
  build; contributions are computed map-side from the joined rank;
* the rank vector is K rows (nodes); each iteration ends in a
  localCheckpoint so lineage stays O(1) deep, the final vector is
  materialized eagerly, and the cached edges/nodes inputs are
  unpersisted before returning — repeated calls on a long-running
  driver do not accumulate cached inputs;
* a skewed in-degree hub is ONE reducer key whose input is its
  in-neighbor contributions — at 10^12 edges pre-aggregate per
  partition (partial sums are exact for integer addition), which
  Spark's hash aggregate already does map-side.

Dangling-node mass (nodes with no out-edges — leaf citation targets,
external urls) is REDISTRIBUTED uniformly each iteration, the
canonical PageRank treatment: ``dm = Σ r(dangling)`` is one tiny
aggregate (a 1-row DataFrame cross-joined broadcast into the update —
no driver round-trip), and every node's update adds ``dm DIV n``
inside the damped term.  All still BIGINT floor division, so the
result stays bit-deterministic; total mass is conserved up to floor
truncation.  ``dangling="drop"`` keeps the cheaper variant for graphs
where leaves are known-irrelevant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: ranks live in [0, 10^12] "pico" units
SCALE = 10**12

#: PageRank/TrustRank damping factor, in percent
DAMPING_PCT = 85


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, rank_micro) for every node of ``edges(src, dst)``.

    ``rank_micro`` = floor(rank · 10^6) of the iteration-``iters``
    integer PageRank with damping ``DAMPING_PCT``/100, uniform
    initialization 1/N; dangling mass redistributed uniformly per
    iteration.
    """
    damping_pct = DAMPING_PCT
    from pyspark import StorageLevel
    edges = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))
    n = nodes.count()  # one scalar: sizes the uniform prior
    if n == 0:
        return nodes.withColumn("rank_micro", F.lit(0).cast("long"))
    unit = SCALE // n
    base = (100 - damping_pct) * unit // 100
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    has_out = outdeg.select(F.col("src").alias("node"))

    rank = nodes.withColumn("r", F.lit(unit).cast("long"))
    for _ in range(iters):
        contribs = (edges
                    .join(rank.withColumnRenamed("node", "src"), "src")
                    .join(outdeg, "src")
                    .select(F.col("dst").alias("node"),
                            F.expr("r DIV outdeg").alias("c")))
        incoming = contribs.groupBy("node").agg(F.sum("c").alias("inc"))
        # Σ r over no-out-edge nodes: a 1-row aggregate broadcast into
        # every update — each node receives dm DIV n inside the damped
        # term (canonical PageRank; integer-exact)
        dm = (rank.join(has_out, "node", "left_anti")
              .agg(F.coalesce(F.sum("r"), F.lit(0))
                   .cast("long").alias("dm")))
        rank = (nodes.join(incoming, "node", "left")
                .crossJoin(F.broadcast(dm))
                .select("node",
                        (F.lit(base).cast("long")
                         + F.expr(f"({damping_pct} * (coalesce(inc, 0)"
                                  f" + dm DIV {n})) DIV 100"))
                        .alias("r"))
                .localCheckpoint(eager=False))
    out = rank.select("node",
                      F.expr(f"r DIV {10**6}").cast("long")
                      .alias("rank_micro")).localCheckpoint(eager=True)
    edges.unpersist()
    nodes.unpersist()
    return out


def trustrank(edges: DataFrame, seeds: DataFrame,
              iters: int = 3) -> DataFrame:
    """(node, trust_micro) — seed-personalized PageRank (Gyöngyi,
    Garcia-Molina & Pedersen, "Combating Web Spam with TrustRank",
    VLDB 2004) over ``edges(src, dst)`` with trusted ``seeds(node)``.

    The teleport vector is uniform over the SEED set instead of all
    nodes: only seeds receive the ``(100-damping)/100`` base term,
    only seeds receive redistributed dangling mass, and the rank
    vector starts as ``1/|S|`` on seeds and 0 elsewhere.  Trust
    therefore flows ONLY along links out of the seed neighborhood —
    pages unreachable from any seed score exactly 0, which is the
    spam-demotion property plain PageRank lacks (every page gets
    teleport mass there).  Composed with :func:`pagerank` the gap
    ``rank - trust`` is the classic "spam mass" estimate; composed
    with ``crawl.host_graph`` it is domain-level trust for crawl
    admission.  The reference has no transitive analog — its nearest
    signal is one-hop inbound-reference counting
    (documentrepository.py:1829-1891), same lineage as pagerank's.

    Arithmetic is the :func:`pagerank` scheme verbatim — BIGINT floor
    division at ``SCALE`` fixed point with the seed-uniform prior
    ``SCALE // |S|`` — so results are bit-deterministic under any
    partial-aggregation order and an unrolled-SQL oracle can compare
    exactly.  Scale shape is pagerank's too: one shuffle per
    iteration, map-side-combinable hub sums, O(1) lineage via
    per-iteration localCheckpoint, inputs unpersisted on return; the
    seed flag rides the rank vector (computed once, never re-joined).
    """
    from pyspark import StorageLevel
    damping_pct = DAMPING_PCT
    edges = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    seed_nodes = seeds.select(F.col("node")).distinct()
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .unionByName(seed_nodes)
             .distinct()
             .join(seed_nodes.withColumn("is_seed", F.lit(True)),
                   "node", "left")
             .select("node", F.coalesce("is_seed", F.lit(False))
                     .alias("is_seed"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    s = nodes.filter("is_seed").count()
    if s == 0:
        edges.unpersist()
        nodes.unpersist()
        raise ValueError("trustrank: empty seed set — trust has no "
                         "source; pass at least one seed node")
    unit = SCALE // s
    base = (100 - damping_pct) * unit // 100
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    has_out = outdeg.select(F.col("src").alias("node"))

    rank = nodes.withColumn(
        "r", F.when(F.col("is_seed"), F.lit(unit)).otherwise(F.lit(0))
        .cast("long"))
    for _ in range(iters):
        contribs = (edges
                    .join(rank.select(F.col("node").alias("src"), "r"),
                          "src")
                    .join(outdeg, "src")
                    .select(F.col("dst").alias("node"),
                            F.expr("r DIV outdeg").alias("c")))
        incoming = contribs.groupBy("node").agg(F.sum("c").alias("inc"))
        # dangling mass teleports per the PERSONALIZED vector: each
        # seed gets dm DIV s, non-seeds get none (1-row broadcast)
        dm = (rank.join(has_out, "node", "left_anti")
              .agg(F.coalesce(F.sum("r"), F.lit(0))
                   .cast("long").alias("dm")))
        rank = (nodes.join(incoming, "node", "left")
                .crossJoin(F.broadcast(dm))
                .select("node", "is_seed",
                        (F.when(F.col("is_seed"), F.lit(base))
                         .otherwise(F.lit(0)).cast("long")
                         + F.expr(
                             f"({damping_pct} * (coalesce(inc, 0) + "
                             f"if(is_seed, dm DIV {s}, 0))) DIV 100"))
                        .alias("r"))
                .localCheckpoint(eager=False))
    out = rank.select("node",
                      F.expr(f"r DIV {10**6}").cast("long")
                      .alias("trust_micro")).localCheckpoint(eager=True)
    edges.unpersist()
    nodes.unpersist()
    return out


#: HITS fixed-point scale: scores live in [0, 10^6] "micro" units
HITS_SCALE = 10**6


HITS_ITERS = 2


def hits(edges: DataFrame) -> DataFrame:
    """Hubs and authorities (Kleinberg HITS) over ``edges(src, dst)``.

    Returns (node, hub_micro, auth_micro): the iteration-``HITS_ITERS``
    mutually-reinforcing scores — a good *authority* is pointed to by
    good hubs, a good *hub* points to good authorities.  On a web/
    citation KG this separates survey/index pages (hubs) from the
    canonical documents they point at (authorities), a split PageRank
    cannot make (reference analog: the inbound-reference annotations
    of documentrepository.py:1829-1891 are the one-hop authority
    signal; HITS is its fixpoint generalization).

    Engine-deterministic by construction, like :func:`pagerank`:

    * L1 normalization (divide by the score *sum*, not the usual L2
      norm) so every step is integer: raw sums are exact BIGINT
      addition in any order; the normalize step is
      ``raw * 10^6 DIV total`` carried out in DECIMAL(38,0) so the
      multiply cannot overflow even at 10^12-edge raw sums;
    * one shuffle per half-step (groupBy dst for authorities, groupBy
      src for hubs) + a 1-row total broadcast — no driver round-trip;
    * per-iteration localCheckpoint keeps lineage O(1) deep; inputs
      unpersisted before returning.
    """
    from pyspark import StorageLevel
    edges = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))

    def _l1_normalize(raw: DataFrame, col: str) -> DataFrame:
        """raw(node, col) -> node, col = raw * SCALE DIV sum(raw)."""
        tot = raw.agg(F.coalesce(F.sum(col), F.lit(0))
                      .cast("decimal(38,0)").alias("tot"))
        return (raw.crossJoin(F.broadcast(tot))
                .select("node",
                        F.when(F.col("tot") > 0,
                               F.expr(f"CAST((CAST({col} AS DECIMAL(38,0))"
                                      f" * {HITS_SCALE}) DIV tot AS LONG)"))
                        .otherwise(F.lit(0).cast("long")).alias(col)))

    hub = nodes.withColumn("h", F.lit(HITS_SCALE).cast("long"))
    auth = nodes.withColumn("a", F.lit(0).cast("long"))
    for _ in range(HITS_ITERS):
        # authority step: a(v) = Σ h(u) over in-edges u→v, L1-renorm
        a_raw = (edges.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("h").alias("a")))
        auth = (nodes.join(a_raw, "node", "left")
                .select("node", F.coalesce("a", F.lit(0))
                        .cast("long").alias("a")))
        auth = _l1_normalize(auth, "a").localCheckpoint(eager=False)
        # hub step: h(u) = Σ a(v) over out-edges u→v, L1-renorm
        h_raw = (edges.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("a").alias("h")))
        hub = (nodes.join(h_raw, "node", "left")
               .select("node", F.coalesce("h", F.lit(0))
                       .cast("long").alias("h")))
        hub = _l1_normalize(hub, "h").localCheckpoint(eager=False)
    out = (hub.join(auth, "node")
           .select("node", F.col("h").alias("hub_micro"),
                   F.col("a").alias("auth_micro"))
           .localCheckpoint(eager=True))
    edges.unpersist()
    nodes.unpersist()
    return out


def triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the undirected simple graph of ``edges(src, dst)``.

    Returns (node, degree, n_triangles, coeff_milli) for every node
    that closes at least one triangle, where ``coeff_milli =
    (2000 · T) DIV (deg · (deg-1))`` — the local clustering
    coefficient in integer millis (exact arithmetic, oracle-safe).

    Scale design — the compact-forward / degree-ordered algorithm:
    edges are oriented from the (degree, node)-lower endpoint to the
    higher, so every wedge is enumerated at its LOWEST-ordered vertex.
    A degree-d hub therefore contributes out-degree², not degree²,
    wedges, and out-degrees are O(√|E|)-bounded under this ordering —
    the standard mitigation that makes the wedge self-join survive
    power-law graphs (head-entity skew).  Three shuffles total: the
    degree agg, the wedge self-join, and the closing-edge semi-join;
    self-loops and duplicate/reverse edges are removed first.
    """
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .filter(F.col("u") != F.col("v"))
           .distinct())
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
           .persist())
    # orient by (degree, node): lower order -> higher order
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    lower_first = (und.join(du, "u").join(dv, "v")
                   .select(
                       F.when((F.col("du") < F.col("dv"))
                              | ((F.col("du") == F.col("dv"))
                                 & (F.col("u") < F.col("v"))),
                              F.struct(F.col("u").alias("a"),
                                       F.col("v").alias("b")))
                       .otherwise(F.struct(F.col("v").alias("a"),
                                           F.col("u").alias("b")))
                       .alias("e"))
                   .select("e.a", "e.b").persist())
    # wedges at the lowest-ordered vertex a: pairs of out-neighbors
    e1 = lower_first.select(F.col("a"), F.col("b").alias("x"))
    e2 = lower_first.select(F.col("a"), F.col("b").alias("y"))
    wedges = (e1.join(e2, "a")
              .filter(F.col("x") < F.col("y")))
    # the closing edge x-y exists in SOME orientation; both endpoints
    # sort after a, so it is stored as (min(x,y), max(x,y)) = (x, y)
    # under plain ordering only if orientation agrees — check both
    closing = lower_first.select(F.col("a").alias("x"),
                                 F.col("b").alias("y")) \
        .unionByName(lower_first.select(F.col("b").alias("x"),
                                        F.col("a").alias("y")))
    tris = wedges.join(closing, ["x", "y"], "left_semi")
    per_node = (tris.select(F.explode(F.array("a", "x", "y"))
                            .alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("n_triangles")))
    out = (per_node.join(deg, "node")
           .select("node", "degree", "n_triangles",
                   F.expr("(2000 * n_triangles)"
                          " DIV (degree * (degree - 1))")
                   .cast("long").alias("coeff_milli")))
    out = out.localCheckpoint(eager=True)
    deg.unpersist()
    lower_first.unpersist()
    return out


RA_MAX_HUB_DEGREE = 50


def link_prediction_ra(edges: DataFrame
                       ) -> DataFrame:
    """Resource-Allocation link prediction over the undirected simple
    graph of ``edges(src, dst)``: for every non-adjacent pair (u, v)
    with at least one common neighbor, ``score_micro =
    Σ_w 10^6 DIV deg(w)`` over common neighbors w, plus ``n_common``.

    The RA index (Zhou/Lü/Zhang 2009, the strongest of the classic
    local similarity indices) — here it predicts missing citations /
    suggests related documents, the "documents you should also read"
    join the reference's annotation layer never had.  Integer
    reciprocals keep the score BIGINT-exact for the oracle.

    Scale design: a common neighbor w of degree d generates
    d·(d-1)/2 candidate pairs — quadratic in the head entity's
    degree, the classic skew bomb.  ``RA_MAX_HUB_DEGREE`` excludes
    hub intermediaries from candidate GENERATION; this is the
    standard LSH-style blocking compromise, and near-lossless for
    RA specifically because an excluded hub's score contribution is
    exactly ``10^6 DIV deg ≤ 10^6/max_hub_degree`` — the index
    discounts exactly the neighbors the cap drops.  Three shuffles:
    degree agg, the wedge self-join on w, the adjacency anti-join.
    """
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .filter(F.col("u") != F.col("v"))
           .distinct())
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
           .persist())
    adj = (und.select(F.col("u").alias("w"), F.col("v").alias("n"))
           .unionByName(
               und.select(F.col("v").alias("w"), F.col("u").alias("n"))))
    mids = (adj.join(deg.withColumnRenamed("node", "w"), "w")
            .filter(F.col("degree") <= F.lit(RA_MAX_HUB_DEGREE)))
    a1 = mids.select("w", F.col("n").alias("u"), "degree")
    a2 = mids.select("w", F.col("n").alias("v"))
    cand = (a1.join(a2, "w").filter(F.col("u") < F.col("v")))
    scored = (cand.groupBy("u", "v")
              .agg(F.sum(F.expr("1000000 div degree"))
                   .cast("long").alias("score_micro"),
                   F.count(F.lit(1)).alias("n_common")))
    fresh = scored.join(und, ["u", "v"], "left_anti")
    deg.unpersist()
    return fresh


LABEL_PROPAGATION_ITERS = 2


def label_propagation(edges: DataFrame) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected simple graph of ``edges(src, dst)``: every node starts
    as its own label; each round it adopts the most frequent label
    among its neighbors (ties -> lexicographically smallest), all
    nodes updating from the PREVIOUS round's labels simultaneously.

    Raghavan et al. 2007 (near-linear community detection), made
    engine-deterministic: integer counts + min-label tie-break and a
    FIXED iteration count — synchronous LPA can oscillate on
    bipartite structures, so the operator's contract is "the label
    state after exactly N rounds", which the unrolled SQL oracle can
    restate.  Complements ``dedup.components`` (connectivity):
    LPA splits a connected graph into densely-linked groups.

    One shuffle per round (neighbor-label count) + the argmax — the
    per-round cost of PageRank with a groupBy key of (node, label).
    Returns (node, label) for every node incident to an edge.
    """
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .filter(F.col("u") != F.col("v"))
           .distinct())
    adj = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionByName(
               und.select(F.col("v").alias("node"),
                          F.col("u").alias("nbr")))
           .persist())
    labels = (adj.select("node").distinct()
              .select("node", F.col("node").alias("label")))
    for _ in range(LABEL_PROPAGATION_ITERS):
        nbr_labels = adj.join(
            labels.withColumnRenamed("node", "nbr"), "nbr")
        counts = (nbr_labels.groupBy("node", "label")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        # argmax by (cnt desc, label asc) without a window: min of
        # (-cnt, label) struct is a map-side-combinable aggregate
        new = (counts.groupBy("node")
               .agg(F.min(F.struct((-F.col("cnt")).alias("neg"),
                                   F.col("label"))).alias("top"))
               .select("node", F.col("top.label").alias("label")))
        # localCheckpoint per round: truncates the growing lineage
        # exactly as pagerank/components do
        labels = new.localCheckpoint(eager=True)
    adj.unpersist()
    return labels


K_CORE_ITERS = 3


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """The k-core of the undirected simple graph of ``edges(src,
    dst)``: (node, degree) after ``K_CORE_ITERS`` rounds of peeling — each
    round removes every node whose degree in the CURRENT subgraph is
    below ``k``, and the edges incident to it.

    The k-core itself is unique and order-independent (Seidman 1983),
    so peeling converges; rounds needed = the graph's peeling depth,
    O(log n) on web-like graphs in practice.  As with
    :func:`label_propagation`, the gate contract is the state after
    exactly ``K_CORE_ITERS`` rounds (an unrolled-SQL-restatable statement);
    the loop breaks early once a round removes nothing, which equals
    the N-round state, so early exit never changes the result —
    callers who need the true core pick ``K_CORE_ITERS`` ≥ peel depth and
    check :func:`k_core` against a second call with ``iters+1`` (or
    just pass a generous bound; converged rounds are free).

    Cost per round: one degree aggregation + two left-semi joins that
    drop the peeled endpoints (keep-set joins are hash joins on the
    node key; AQE broadcasts the keep side once the core shrinks).
    localCheckpoint per round keeps lineage O(1); degrees return as
    BIGINT counts.
    """
    cur = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .filter(F.col("u") != F.col("v"))
           .distinct()
           .localCheckpoint(eager=True))
    n_edges = cur.count()
    for _ in range(K_CORE_ITERS):
        if n_edges == 0:
            break
        deg = (cur.select(F.col("u").alias("node"))
               .unionByName(cur.select(F.col("v").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.filter(F.col("deg") >= int(k)).select("node")
        nxt = (cur.join(keep.withColumnRenamed("node", "u"), "u",
                        "left_semi")
               .join(keep.withColumnRenamed("node", "v"), "v",
                     "left_semi")
               .select("u", "v")
               .localCheckpoint(eager=True))
        n_next = nxt.count()
        if n_next == n_edges:
            break  # fixpoint: further rounds are identity
        cur, n_edges = nxt, n_next
    return (cur.select(F.col("u").alias("node"))
            .unionByName(cur.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))


def _copair(edges: DataFrame, key: str, val: str,
            max_fanout: int) -> DataFrame:
    """Shared wedge join of :func:`co_citation` and
    :func:`bibliographic_coupling`: pair up the ``val`` endpoints of
    DISTINCT directed edges that share a ``key`` endpoint, excluding
    wedge centers whose fanout exceeds ``max_fanout`` (a center of
    fanout d yields d·(d-1)/2 pairs — quadratic in the head entity,
    the same skew bomb link_prediction_ra caps)."""
    e = edges.select(key, val).distinct()
    fan = (e.groupBy(key).agg(F.count(F.lit(1)).alias("_fan"))
           .filter(F.col("_fan") <= F.lit(int(max_fanout)))
           .select(key))
    bounded = e.join(fan, key, "left_semi")
    lhs = bounded.withColumnRenamed(val, "a")
    rhs = bounded.withColumnRenamed(val, "b")
    return (lhs.join(rhs, key).filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n")))


COCITATION_MAX_OUT_DEGREE = 50


def co_citation(edges: DataFrame
                ) -> DataFrame:
    """Co-citation pairs over directed ``edges(src, dst)``: (a, b,
    n_cocited) for every target pair cited together by at least one
    common source — the classic "related documents" signal (Small
    1973); two papers co-cited often are topically close even when
    neither cites the other.  Sources citing more than
    ``COCITATION_MAX_OUT_DEGREE`` targets are excluded from pair generation
    (a review article citing 10^4 docs would emit 5·10^7 pairs)."""
    return (_copair(edges, "src", "dst", COCITATION_MAX_OUT_DEGREE)
            .select("a", "b", F.col("n").alias("n_cocited")))


COUPLING_MAX_IN_DEGREE = 50


def bibliographic_coupling(edges: DataFrame) -> DataFrame:
    """Bibliographic-coupling pairs over directed ``edges(src,
    dst)``: (a, b, n_shared) for every source pair citing at least
    one common target (Kessler 1963) — the transpose of
    :func:`co_citation`; targets cited by more than ``COUPLING_MAX_IN_DEGREE``
    sources are excluded (the head statute every document cites
    couples everything to everything and carries no signal)."""
    return (_copair(edges, "dst", "src", COUPLING_MAX_IN_DEGREE)
            .select("a", "b", F.col("n").alias("n_shared")))


WALK_LENGTH = 3
WALK_SALT = "walk-v1"
WALKS_PER_NODE = 1


def random_walks(edges: DataFrame) -> DataFrame:
    """DeepWalk-style walk corpus over directed ``edges(src, dst)``:
    ``WALKS_PER_NODE`` walks of up to ``WALK_LENGTH`` steps from
    every node, as
    ``(walk_id, step, node)`` rows — the training sequences a
    skip-gram graph-embedding job consumes (Perozzi et al., DeepWalk,
    KDD 2014).  The reference has no embedding trainer; this is the
    corpus-construction half a 10^12-edge KG needs before one.

    Engine-deterministic in place of RNG state (the stratified-
    sampling convention): the walk at node ``u`` on step ``t`` moves
    to the out-neighbor ``v`` minimizing the salted-md5 variate
    ``h(salt:walk_id:t:v)`` — a per-walk, per-step pseudo-random
    uniform choice that any ANSI engine reproduces exactly, ties
    broken by ``v`` (min over ``struct(h, v)``).  A re-run, a resume,
    or the SQL oracle derives the identical corpus.

    Scale shape: per step, ONE join of the frontier against the
    adjacency on the current node plus ONE map-side-combinable
    ``min(struct)`` groupBy — no window, no collect; the frontier is
    persisted per step and the parent cache dropped.  Walks stop
    early at sinks (rows simply end).
    """
    from ferenda_spark.operators.sampling import sample_uniform

    adj = (edges.select("src", "dst").distinct()
           .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    adj = adj.persist()
    nodes = (adj.select(F.col("src").alias("node"))
             .unionByName(adj.select(F.col("dst").alias("node")))
             .distinct())
    start = (nodes.select(
        "node",
        F.explode(F.sequence(F.lit(0), F.lit(WALKS_PER_NODE - 1)))
        .alias("_w"))
        .select(F.concat_ws("#", "node", "_w").alias("walk_id"),
                F.lit(0).alias("step"), F.col("node")))
    # each step is localCheckpoint'ed (the pagerank convention): the
    # final union reads materialized blocks, never recomputes the
    # join chain, and lineage stays O(1) deep at any walk length
    frontier = start.localCheckpoint()
    out = [frontier]
    for t in range(1, WALK_LENGTH + 1):
        cand = frontier.join(
            adj, frontier["node"] == adj["src"]).select(
            "walk_id",
            F.struct(
                sample_uniform(
                    F.concat_ws(":", F.col("walk_id"),
                                F.lit(str(t)), F.col("dst")), WALK_SALT)
                .alias("h"),
                F.col("dst").alias("v")).alias("_c"))
        frontier = (cand.groupBy("walk_id")
                    .agg(F.min("_c").alias("_c"))
                    .select("walk_id", F.lit(t).alias("step"),
                            F.col("_c.v").alias("node"))
                    .localCheckpoint())
        out.append(frontier)
    result = out[0]
    for part in out[1:]:
        result = result.unionByName(part)
    adj.unpersist()
    return result

def _min_reach_pair(labels: DataFrame, edges: DataFrame,
                    max_iters: int) -> DataFrame:
    """Fixpoint of the PAIRED min-label propagation over ``labels(id,
    lf, lb)``: ``lf(v)`` converges to the min id reachable FROM v
    along ``edges(u, v)``, ``lb(v)`` to the min id that REACHES v —
    both advanced in the same iteration so each round costs ONE
    checkpoint and ONE driver action.

    Each side uses a pointer-doubling shortcut: if ``lf(v) = u`` then
    u is reachable from v, so everything reachable from u is too —
    ``lf(v) ← min(lf(v), lf(lf(v)))`` only ever adopts genuinely
    reachable ids and collapses propagation paths geometrically (the
    components() doubling trick lifted to directed reachability; the
    symmetric argument holds for ``lb``).  The doubling pointer is
    read from the PREVIOUS generation (the checkpointed ``labels``,
    not this iteration's half-built step), so one iteration is ONE
    plan over one checkpointed scan — one localCheckpoint and one
    driver action per iteration, never a recompute of the propagation
    joins.  Labels are monotonically non-increasing, so the exact
    fixpoint test is "Σ(lf + lb) stopped decreasing", one
    DECIMAL(38,0) aggregate per round.
    """
    def _pair_sum(df: DataFrame):
        return df.agg(F.sum(F.col("lf").cast("decimal(38,0)")
                            + F.col("lb").cast("decimal(38,0)"))).first()[0]

    prev = _pair_sum(labels)
    for _ in range(int(max_iters)):
        succ = (edges.join(labels.select(F.col("id").alias("v"), "lf"), "v")
                .groupBy("u").agg(F.min("lf").alias("s_lf")))
        pred = (edges.join(labels.select(F.col("id").alias("u"), "lb"), "u")
                .groupBy("v").agg(F.min("lb").alias("p_lb")))
        fptr = labels.select(F.col("id").alias("f_id"),
                             F.col("lf").alias("f_lf"))
        bptr = labels.select(F.col("id").alias("b_id"),
                             F.col("lb").alias("b_lb"))
        stepped = (labels
                   .join(succ, labels["id"] == succ["u"], "left")
                   .join(pred, labels["id"] == pred["v"], "left")
                   .join(fptr, labels["lf"] == fptr["f_id"], "left")
                   .join(bptr, labels["lb"] == bptr["b_id"], "left")
                   .select(labels["id"],
                           F.least(labels["lf"],
                                   F.coalesce(F.col("s_lf"),
                                              labels["lf"]),
                                   F.coalesce(F.col("f_lf"),
                                              labels["lf"])).alias("lf"),
                           F.least(labels["lb"],
                                   F.coalesce(F.col("p_lb"),
                                              labels["lb"]),
                                   F.coalesce(F.col("b_lb"),
                                              labels["lb"])).alias("lb"))
                   .localCheckpoint(eager=True))
        cur = _pair_sum(stepped)
        labels = stepped
        if cur == prev:
            return labels
        prev = cur
    raise RuntimeError(
        "scc: min-reach propagation did not converge in "
        f"{max_iters} iterations — raise max_iters")


def _scc_driver(pairs: list) -> dict:
    """Iterative Kosaraju on the driver for the small-graph fast
    path; returns {id: min id of its SCC}."""
    from collections import defaultdict
    fwd, bwd = defaultdict(list), defaultdict(list)
    nodes = set()
    for u, v in pairs:
        fwd[u].append(v)
        bwd[v].append(u)
        nodes.update((u, v))
    order, seen = [], set()
    for s in sorted(nodes):
        if s in seen:
            continue
        seen.add(s)
        stack = [(s, iter(fwd[s]))]
        while stack:
            x, it = stack[-1]
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(fwd[w])))
                    break
            else:
                order.append(x)
                stack.pop()
    comp: dict = {}
    for s in reversed(order):
        if s in comp:
            continue
        members, frontier = [s], [s]
        comp[s] = s
        while frontier:
            x = frontier.pop()
            for w in bwd[x]:
                if w not in comp:
                    comp[w] = s
                    members.append(w)
                    frontier.append(w)
        m = min(members)
        for x in members:
            comp[x] = m
    return comp


DRIVER_MAX = 1_000_000
SCC_MAX_ITERS = 30


SCC_MAX_ROUNDS = 15


def scc(edges: DataFrame) -> DataFrame:
    """Strongly connected components of directed ``edges(src, dst)``:
    ``(id, comp)`` for every node incident to a non-loop edge, where
    ``comp`` is the MINIMUM id in the node's SCC — the cycle
    structure of the webgraph (link farms, mutual-citation cliques,
    redirect loops) that components() cannot see because it
    symmetrizes.

    Distributed algorithm: iterative forward/backward min-label
    coloring (the Orzan coloring family).  Per outer round, over the
    surviving subgraph one :func:`_min_reach_pair` fixpoint yields
    ``lf(v)`` = min id reachable FROM v and ``lb(v)`` = min id that
    REACHES v.  Then:

    * ``lf(v) = lb(v) = c`` ⇔ c is reachable from v and c reaches
      v — v ∈ SCC(c), and c is that SCC's minimum id (lf can't
      exceed the min, and c ∈ SCC forces equality).  All such v are
      emitted with ``comp = c``.
    * two nodes of one SCC have identical reachable / reaching sets
      (each includes the other), hence identical ``(lf, lb)`` pairs —
      an SCC is NEVER split by pruning to same-pair edges, and an
      edge crossing two different pairs can sit on no cycle.  The
      next round runs on the same-pair subgraph only.

    Progress guarantee: within each (lf, lb) class the class minimum
    m has ``lf(m) = lb(m) = m`` in its pruned subgraph, so every
    class retires ≥ 1 SCC per round; web-shaped graphs (one giant
    SCC + shallow DAG periphery) finish in 2-3 rounds because the
    pair partition shatters the condensation DAG immediately.  A
    graph needing more than ``SCC_MAX_ROUNDS`` raises loudly (the
    components() non-convergence contract) rather than returning a
    partial answer.

    Scale shape: keyed equi-joins + min aggregates over (id, lf, lb)
    rows — map-side-combinable, no windows, no crossJoin; every
    generation is localCheckpoint'ed so lineage stays O(1) under the
    doubling self-joins.  Ids are cast to BIGINT (the components()
    convention) so the fixpoint test is an exact DECIMAL sum.
    Self-loops are dropped up front (they never change SCC
    membership); isolated nodes are absent (each trivially its own
    SCC) — union them back at the call site if needed.  Below
    ``DRIVER_MAX`` materialized edges a collect + iterative Kosaraju
    beats ~8 distributed jobs per doubling round by an order of
    magnitude (the components() fast-path precedent).
    """
    e0 = (edges.select(F.col("src").cast("long").alias("u"),
                       F.col("dst").cast("long").alias("v"))
          .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                  & (F.col("u") != F.col("v")))
          .distinct()
          .localCheckpoint(eager=True))
    spark = edges.sparkSession
    if e0.count() <= DRIVER_MAX:
        comp = _scc_driver([(r["u"], r["v"]) for r in e0.collect()])
        return spark.createDataFrame(sorted(comp.items()),
                                     "id long, comp long")
    done = spark.createDataFrame([], "id long, comp long")
    labels = (e0.select(F.col("u").alias("id"))
              .unionByName(e0.select(F.col("v").alias("id")))
              .distinct()
              .select("id", F.col("id").alias("lf"),
                      F.col("id").alias("lb"))
              .localCheckpoint(eager=True))
    cur_edges = e0
    for _ in range(SCC_MAX_ROUNDS):
        if labels.isEmpty():
            return done
        fixed = _min_reach_pair(labels, cur_edges, SCC_MAX_ITERS)
        matched = (fixed.filter(F.col("lf") == F.col("lb"))
                   .select("id", F.col("lf").alias("comp")))
        done = done.unionByName(matched).localCheckpoint(eager=True)
        rest = fixed.filter(F.col("lf") != F.col("lb"))
        labels = (rest.select("id", F.col("id").alias("lf"),
                              F.col("id").alias("lb"))
                  .localCheckpoint(eager=True))
        if labels.isEmpty():
            return done
        a = rest.select(F.col("id").alias("u"),
                        F.col("lf").alias("a_lf"),
                        F.col("lb").alias("a_lb"))
        b = rest.select(F.col("id").alias("v"),
                        F.col("lf").alias("b_lf"),
                        F.col("lb").alias("b_lb"))
        cur_edges = (cur_edges.join(a, "u").join(b, "v")
                     .filter((F.col("a_lf") == F.col("b_lf"))
                             & (F.col("a_lb") == F.col("b_lb")))
                     .select("u", "v")
                     .localCheckpoint(eager=True))
    raise RuntimeError(
        f"scc: {SCC_MAX_ROUNDS} coloring rounds did not retire every "
        "node — the condensation is deeper than expected; raise "
        "SCC_MAX_ROUNDS")


def condensation(edges: DataFrame, comps: DataFrame) -> DataFrame:
    """Project ``edges(src, dst)`` through an SCC labeling
    ``comps(id, comp)`` (the :func:`scc` output) onto the component
    DAG: distinct ``(csrc, cdst)`` pairs with intra-component edges
    dropped.  By the SCC construction the result is acyclic — the
    condensation every DAG algorithm (topological scheduling,
    longest-path layering) can then safely assume.  Two broadcast-able
    equi-joins + one distinct; nodes missing from ``comps`` (isolated
    in the scc contract) are treated as their own singleton
    component."""
    cm = comps.select("id", "comp")
    out = (edges
           .join(cm.select(F.col("id").alias("src"),
                           F.col("comp").alias("csrc")), "src", "left")
           .join(cm.select(F.col("id").alias("dst"),
                           F.col("comp").alias("cdst")), "dst", "left")
           .select(F.coalesce("csrc", F.col("src").cast("long"))
                   .alias("csrc"),
                   F.coalesce("cdst", F.col("dst").cast("long"))
                   .alias("cdst"))
           .filter(F.col("csrc") != F.col("cdst"))
           .distinct())
    return out


TOPO_MAX_ITERS = 50


def topo_levels(dag: DataFrame) -> DataFrame:
    """(node, level) for every node of the acyclic ``dag(src, dst)``:
    ``level`` = length of the longest path from any source (in-degree
    0 ⇒ level 0) — the dependency-scheduling layering: all nodes of
    one level can be processed concurrently once every lower level is
    done (composes with :func:`condensation` + ``regen.py`` for
    ordering incremental regeneration over the citation DAG).

    Distributed path: monotone max-propagation — ``level(v) ←
    max(level(v), 1 + max over in-neighbors)`` — converging in
    longest-path-length iterations (condensations of web graphs are
    shallow; the giant SCC collapses to one node), one shuffle +
    localCheckpoint per iteration, exact fixpoint via the BIGINT
    level sum.  A CYCLIC input cannot converge (levels grow without
    bound) and raises loudly at ``TOPO_MAX_ITERS`` — feeding a non-DAG
    to a topological layering is a caller bug, never silent.  Below
    ``DRIVER_MAX`` edges: collect + Kahn-style driver pass (the scc
    fast-path precedent)."""
    e0 = (dag.select(F.col("src").cast("long").alias("u"),
                     F.col("dst").cast("long").alias("v"))
          .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                  & (F.col("u") != F.col("v")))
          .distinct()
          .localCheckpoint(eager=True))
    spark = dag.sparkSession
    if e0.count() <= DRIVER_MAX:
        pairs = [(r["u"], r["v"]) for r in e0.collect()]
        from collections import defaultdict
        indeg: dict = defaultdict(int)
        out: dict = defaultdict(list)
        nodes = set()
        for u, v in pairs:
            indeg[v] += 1
            out[u].append(v)
            nodes.update((u, v))
        level = {x: 0 for x in nodes if indeg[x] == 0}
        frontier = sorted(level)
        done = 0
        while frontier:
            nxt = []
            for u in frontier:
                done += 1
                for v in out[u]:
                    level[v] = max(level.get(v, 0), level[u] + 1)
                    indeg[v] -= 1
                    if indeg[v] == 0:
                        nxt.append(v)
            frontier = sorted(nxt)
        if done != len(nodes):
            raise ValueError("topo_levels: input contains a cycle — "
                             "run scc()/condensation() first")
        return spark.createDataFrame(sorted(level.items()),
                                     "node long, level long")

    def _lv_sum(df):
        return df.agg(F.sum(F.col("level")
                            .cast("decimal(38,0)"))).first()[0]

    lv = (e0.select(F.col("u").alias("node"))
          .unionByName(e0.select(F.col("v").alias("node")))
          .distinct()
          .withColumn("level", F.lit(0).cast("long"))
          .localCheckpoint(eager=True))
    prev = _lv_sum(lv)
    for _ in range(TOPO_MAX_ITERS):
        inc = (e0.join(lv.select(F.col("node").alias("u"), "level"), "u")
               .groupBy("v").agg((F.max("level") + 1).alias("up")))
        lv = (lv.join(inc, lv["node"] == inc["v"], "left")
              .select("node",
                      F.greatest("level", F.coalesce("up", F.col("level")))
                      .alias("level"))
              .localCheckpoint(eager=True))
        cur = _lv_sum(lv)
        if cur == prev:
            return lv
        prev = cur
    raise ValueError(
        f"topo_levels: no fixpoint in {TOPO_MAX_ITERS} iterations — the "
        "input contains a cycle (or a longer-than-expected path); "
        "run scc()/condensation() first or raise TOPO_MAX_ITERS")


def landmark_distances(edges: DataFrame, landmarks: DataFrame,
                       max_depth: int = 12) -> DataFrame:
    """(node, landmark, dist) — exact shortest-path hop distance from
    every node TO each landmark along ``edges(src, dst)`` (only
    reachable pairs appear; a landmark is at distance 0 from itself).

    The landmark/pivot scheme every web-scale distance estimate rides
    (closeness/harmonic centrality sampling, Bourgain-style distance
    sketches): exact all-pairs BFS is Θ(V·E), but k landmark columns
    cost k simultaneous BFS frontiers — run here as ONE iterated
    join, all landmarks advancing together, so the work per round is
    a single (node, landmark)-keyed frontier expansion + anti-join
    against the seen set (semi-naive: no pair re-derived, cycles
    terminate).  ``dist(u, L)`` then upper-bounds ``dist(u, v)`` via
    any shared landmark — the triangle-inequality estimate served at
    query time without touching the graph.

    Scale shape: frontier and seen are (node, landmark, dist) rows —
    keyed equi-joins and one distinct per round, localCheckpoint
    lineage, O(diameter) rounds; a hub's frontier rows pre-aggregate
    map-side.  Landmarks with no in-edges simply stay singleton.
    ``max_depth`` bounds the walk loudly (frontier still non-empty at
    the bound raises, never a silent truncation)."""
    lm = landmarks.select(F.col("node").alias("landmark")).distinct()
    rev = edges.select(F.col("src").cast("string").alias("u"),
                       F.col("dst").cast("string").alias("v"))
    seen = (lm.select(F.col("landmark").cast("string").alias("node"),
                      F.col("landmark").cast("string").alias("landmark"))
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True))
    frontier = seen
    for d in range(1, int(max_depth) + 1):
        step = (frontier
                .join(rev, frontier["node"] == rev["v"])
                .select(F.col("u").alias("node"), "landmark",
                        F.lit(d).cast("long").alias("dist"))
                .dropDuplicates(["node", "landmark"]))
        nxt = (step.join(seen, ["node", "landmark"], "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            return seen
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if not (frontier
            .join(rev, frontier["node"] == rev["v"])
            .join(seen.select("node", "landmark"),
                  [rev["u"] == seen["node"],
                   frontier["landmark"] == seen["landmark"]],
                  "left_anti")
            .isEmpty()):
        raise ValueError(
            f"landmark_distances: frontier still live at max_depth="
            f"{max_depth} — raise the bound (silent truncation would "
            "understate distances)")
    return seen


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One row — ``(n_edges, sxy, sx, sy, sx2, sy2, r)`` — the degree
    assortativity of the UNDIRECTED graph under ``edges(src, dst)``:
    Pearson correlation of endpoint degrees over distinct undirected
    edges (Newman, PRL 2002).  Webgraphs are famously DISassortative
    (hubs link to leaves, r < 0); a strongly assortative subcorpus is
    a link-farm / mutual-promotion signature, so r is the one-number
    diagnostic crawl QA tracks per snapshot beside the degree
    histogram.

    Determinism: every Σ is an exact BIGINT (degree products and
    squares of integers) accumulated by integer addition — partial
    aggregation order cannot perturb them — and ``r`` is ONE double
    expression over those exact sums, so the oracle reproduces it
    bit-for-bit.  Shape: one distinct, one degree groupBy, two
    broadcast-able degree joins, one global aggregate; each endpoint
    contributes symmetrically (x=a,y=b AND x=b,y=a — the undirected
    convention) without materializing both orientations.
    """
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("n"))
           .unionByName(und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    j = (und.join(deg.select(F.col("n").alias("a"),
                             F.col("d").alias("da")), "a")
         .join(deg.select(F.col("n").alias("b"),
                          F.col("d").alias("db")), "b"))
    # each undirected edge contributes both orientations to the
    # correlation: fold the symmetric sums directly (Σx = Σy = da+db)
    agg = j.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("m2"),
        F.sum(2 * F.col("da") * F.col("db")).cast("long").alias("sxy"),
        F.sum(F.col("da") + F.col("db")).cast("long").alias("sx"),
        F.sum(F.col("da") * F.col("da")
              + F.col("db") * F.col("db")).cast("long").alias("sx2"))
    return agg.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        "sxy", "sx", F.col("sx").alias("sy"), "sx2",
        F.col("sx2").alias("sy2"),
        F.round(
            # exact-BIGINT sums promoted to double BEFORE the final
            # products (n·Σxy at web scale overflows int64); identical
            # expression in the oracle ⇒ identical IEEE result
            (F.col("m2").cast("double") * F.col("sxy")
             - F.col("sx").cast("double") * F.col("sx"))
            / (F.col("m2").cast("double") * F.col("sx2")
               - F.col("sx").cast("double") * F.col("sx")),
            6).alias("r"))


HARMONIC_MAX_DEPTH = 15


def harmonic_centrality(edges: DataFrame,
                        landmarks: DataFrame) -> DataFrame:
    """(node, k_reached, inv_dist_sum_micro, harmonic_micro) —
    landmark-sampled harmonic centrality H(v) = Σ_u 1/d(v,u)
    (Boldi & Vigna's axiomatically-preferred centrality; finite on
    disconnected graphs, unlike closeness).

    Exact all-pairs is Θ(V·E); the standard web-scale estimator
    samples k targets and scales — here the targets are the
    landmark set already paid for by :func:`landmark_distances`,
    so the estimate is ONE map-side-combinable groupBy over its
    (node, landmark, dist) rows: ``inv_dist_sum_micro`` =
    Σ (1_000_000 DIV d) over reached landmarks at d > 0, and
    ``harmonic_micro`` = inv_sum · (N−1) DIV k — every step exact
    BIGINT integer division, so ranks are engine-reproducible and
    the oracle restates the arithmetic bit-for-bit (no float
    harmonic sums that round differently per engine).

    N is the distinct endpoint count of ``edges`` — one bounded
    aggregate job.  Unreached (node, landmark) pairs
    contribute 0, exactly the harmonic convention for infinite
    distance."""
    lm = landmarks.select(F.col("node").alias("landmark")).distinct()
    k = lm.count()
    if k == 0:
        raise ValueError("harmonic_centrality: empty landmark set")
    n_nodes = (edges.select(F.col("src").alias("n"))
               .unionByName(edges.select(F.col("dst").alias("n")))
               .distinct().count())
    d = landmark_distances(edges, landmarks, max_depth=HARMONIC_MAX_DEPTH)
    return (d.filter(F.col("dist") > 0)
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("k_reached"),
                 F.sum(F.expr("1000000 DIV dist")).cast("long")
                 .alias("inv_dist_sum_micro"))
            .withColumn(
                "harmonic_micro",
                F.expr(f"inv_dist_sum_micro * {int(n_nodes) - 1} "
                       f"DIV {int(k)}").cast("long")))
