"""RDFS entailment materialization and owl:sameAs canonicalization —
the KG-construction layer the reference delegates to its triplestore.

The reference mints ``owl:sameAs`` triples during metadata inference
(``sources/legal/se/swedishlegalsource.py:1095`` infer_metadata,
``sources/legal/se/dv.py:1466``; a hand-curated identity graph ships
at ``sources/legal/eu/res/extra/sameas.n3``) and special-cases
``rdf:type``/``owl:sameAs`` in dependency analysis
(``documentrepository.py:2031``); class/property entailment is left
to the backing store (Fuseki/Sesame with an RDFS reasoner).  Here
both become explicit DataFrame operators, designed around the one
asymmetry that matters at 100 TB: the ontology (TBox) and the
identity-link graph are *tiny* next to the instance triples (ABox),
so every rule application is a broadcast hash join the corpus
streams through — the big table shuffles exactly once, for the final
``distinct``.

Rule fragment: the ρdf core of RDFS (Muñoz, Pérez, Gutierrez,
"Minimal deductive systems for RDF", ESWC 2007) — rdfs5/rdfs11
(subPropertyOf / subClassOf transitivity), rdfs7 (property
inheritance), rdfs2/rdfs3 (domain/range typing), rdfs9 (type
inheritance).  Because no ρdf rule derives a *schema* triple from an
*instance* triple, closing the TBox first and then making ONE pass
over the ABox with the closed TBox reaches the full fixpoint — no
instance-side iteration, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analytics import transitive_closure
from .dedup import components

RDF_TYPE = "rdf:type"
SUBCLASS = "rdfs:subClassOf"
SUBPROP = "rdfs:subPropertyOf"
DOMAIN = "rdfs:domain"
RANGE = "rdfs:range"
SAME_AS = "owl:sameAs"

_SCHEMA_PREDS = (SUBCLASS, SUBPROP, DOMAIN, RANGE)


def _pairs(schema: DataFrame, pred: str) -> DataFrame:
    return (schema.filter(F.col("pred") == pred)
            .select(F.col("subj").alias("sub"), F.col("obj").alias("sup"))
            .distinct())


# TBoxes are tiny by definition; above this edge count the closure
# falls back to the distributed fixpoint.  Measured crossover
# (local[4], 4 vCPUs; a fan-out-8 subClassOf tree plus 10 %
# subPropertyOf; building ClosedSchema and counting its five frames,
# local vs distributed): 1k triples 0.94 vs 2.56 s, 9k 1.27 vs
# 3.03 s, 30k 2.43 vs 4.06 s, 100k 7.68 vs 5.58 s.  The cap sits
# below that crossover because the driver BFS's output is worst-case
# quadratic in the longest chain (a tree's is n·log n), so don't
# raise it to "fits in driver RAM" sizes blindly.
_DRIVER_CLOSURE_MAX = 10_000


def _py_strict_closure(pairs) -> set:
    """Driver-side strict transitive closure: BFS from each source
    over the adjacency map; self-reach (cycles) dropped."""
    adj: dict[str, set] = {}
    for sub, sup in pairs:
        adj.setdefault(sub, set()).add(sup)
    out: set = set()
    for s, direct in adj.items():
        seen: set = set()
        stack = list(direct)
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        # a cycle makes a node reach itself; entailing
        # (x subClassOf x) is harmless but noisy — drop it
        out.update((s, t) for t in seen if t != s)
    return out


def _strict_closure(pairs: DataFrame) -> DataFrame:
    """Transitive (non-reflexive) closure of a schema relation above
    the driver-side size, as the semi-naive distributed fixpoint
    (:func:`transitive_closure`); cycle-safe (equivalent classes
    spelled as mutual subClassOf terminate instead of looping)."""
    return (transitive_closure(pairs, max_depth=None,
                               child_col="sub", parent_col="sup")
            .select(F.col("descendant").alias("sub"),
                    F.col("ancestor").alias("sup"))
            .filter(F.col("sub") != F.col("sup")))


class ClosedSchema:
    """A TBox closed once: the sc/sp closures, the effective
    domain/range tables and the schema triples to emit.

    Up to ``_DRIVER_CLOSURE_MAX`` schema triples the WHOLE closure is
    computed driver-side in one collect and every frame is a local
    relation — broadcasting a local relation needs no job and no
    shuffle, so the schema cost is zero (the TBox is a constant of
    the job, and the plan says so).  Above that the distributed
    fixpoint path takes over."""

    def __init__(self, schema: DataFrame):
        sch = schema.select("subj", "pred", "obj") \
            .filter(F.col("pred").isin(*_SCHEMA_PREDS))
        head = sch.limit(_DRIVER_CLOSURE_MAX + 1).collect()
        if len(head) <= _DRIVER_CLOSURE_MAX:
            self._init_local(sch.sparkSession, {tuple(r) for r in head})
        else:
            self._init_distributed(sch)

    def _init_local(self, spark, rows: set) -> None:
        by_pred: dict[str, set] = {p: set() for p in _SCHEMA_PREDS}
        for s, p, o in rows:
            by_pred[p].add((s, o))
        sc = _py_strict_closure(by_pred[SUBCLASS])
        sp = _py_strict_closure(by_pred[SUBPROP])

        def _effective(dr: set) -> set:
            by_sup: dict[str, set] = {}
            for q, cls in dr:
                by_sup.setdefault(q, set()).add(cls)
            return dr | {(p, cls) for p, q in sp
                         for cls in by_sup.get(q, ())}

        def _df(pairs: set, ddl: str) -> DataFrame:
            return spark.createDataFrame(sorted(pairs), ddl)

        self.sc = _df(sc, "sub string, sup string")
        self.sp = _df(sp, "sub string, sup string")
        self.eff_dom = _df(_effective(by_pred[DOMAIN]),
                           "sub string, cls string")
        self.eff_rng = _df(_effective(by_pred[RANGE]),
                           "sub string, cls string")
        self.triples = _df(
            rows | {(s, SUBCLASS, o) for s, o in sc}
            | {(s, SUBPROP, o) for s, o in sp},
            "subj string, pred string, obj string")

    def _init_distributed(self, sch: DataFrame) -> None:
        sc = _strict_closure(_pairs(sch, SUBCLASS))
        sp = _strict_closure(_pairs(sch, SUBPROP))
        dom = _pairs(sch, DOMAIN).withColumnRenamed("sup", "cls")
        rng = _pairs(sch, RANGE).withColumnRenamed("sup", "cls")

        # effective domain/range: p ⊑* q (including p = q) folded in
        def _effective(dr: DataFrame) -> DataFrame:
            inherited = (sp.join(
                F.broadcast(dr.withColumnRenamed("sub", "sup2")),
                sp["sup"] == F.col("sup2"))
                .select("sub", "cls"))
            return dr.select("sub", "cls").unionByName(inherited) \
                .distinct()

        # asserted schema ∪ the rdfs5/rdfs11 closure rows, as triples
        triples_out = sch.dropDuplicates(["subj", "pred", "obj"]) \
            .unionByName(
                sc.select(F.col("sub").alias("subj"),
                          F.lit(SUBCLASS).alias("pred"),
                          F.col("sup").alias("obj"))
                .unionByName(
                    sp.select(F.col("sub").alias("subj"),
                              F.lit(SUBPROP).alias("pred"),
                              F.col("sup").alias("obj"))))
        self.sc, self.sp = sc, sp
        self.eff_dom, self.eff_rng = _effective(dom), _effective(rng)
        self.triples = triples_out


def rdfs_materialize(triples: DataFrame,
                     schema: DataFrame | None = None) -> DataFrame:
    """Forward-chain the ρdf RDFS rules to fixpoint and return the
    materialized graph: input triples ∪ closed schema ∪ entailments,
    as the same ``(subj, pred, obj)`` shape.

    ``schema`` defaults to the schema triples embedded in ``triples``
    itself (preds rdfs:subClassOf / subPropertyOf / domain / range) —
    the mixed-graph case; pass the TBox separately when it lives in
    its own store.  Either way the schema side is closed first
    (driver-side fixpoint over a tiny relation) and every
    instance-side rule is ONE broadcast join the corpus streams
    through map-side:

    - rdfs7:  (s p o), p ⊑* q          → (s q o)
    - rdfs2:  (s p o), p ⊑* q, dom(q,C) → (s rdf:type C)
    - rdfs3:  (s p o), p ⊑* q, rng(q,C) → (o rdf:type C)
    - rdfs9:  (s rdf:type C), C ⊑* D    → (s rdf:type D)
      (applied to asserted AND rdfs2/3-derived types, so the
      domain→superclass chain lands in the same single pass)
    - rdfs5/rdfs11: the sc/sp closures themselves, materialized as
      schema triples.

    The folding of ⊑* into the domain/range tables (effective
    domain/range) is what keeps this one pass: a subproperty inherits
    its superproperties' domains without the ABox ever re-joining.
    The only corpus shuffle is the final ``dropDuplicates``.
    """
    t = triples.select("subj", "pred", "obj")
    closed = ClosedSchema(t.filter(F.col("pred").isin(*_SCHEMA_PREDS))
                          if schema is None else schema)

    inst = t.filter(~F.col("pred").isin(*_SCHEMA_PREDS))
    plain = inst.filter(F.col("pred") != RDF_TYPE)

    # rdfs7 — property inheritance
    derived_prop = (plain.join(
        F.broadcast(closed.sp.withColumnRenamed("sub", "pred")), "pred")
        .select("subj", F.col("sup").alias("pred"), "obj"))
    # rdfs2 / rdfs3 — domain/range typing (⊑* pre-folded)
    dom_types = (plain.join(
        F.broadcast(closed.eff_dom.withColumnRenamed("sub", "pred")),
        "pred")
        .select("subj", F.lit(RDF_TYPE).alias("pred"),
                F.col("cls").alias("obj")))
    rng_types = (plain.join(
        F.broadcast(closed.eff_rng.withColumnRenamed("sub", "pred")),
        "pred")
        .select(F.col("obj").alias("subj"),
                F.lit(RDF_TYPE).alias("pred"),
                F.col("cls").alias("obj")))
    # rdfs9 — type inheritance over asserted ∪ rdfs2/3-derived types
    asserted_types = inst.filter(F.col("pred") == RDF_TYPE)
    all_types = asserted_types.unionByName(dom_types) \
        .unionByName(rng_types)
    super_types = (all_types.join(
        F.broadcast(closed.sc.withColumnRenamed("sub", "obj")), "obj")
        .select("subj", "pred", F.col("sup").alias("obj")))

    # asserted schema ∪ rdfs5/rdfs11 closure rows
    parts = [derived_prop, dom_types, rng_types, super_types,
             closed.triples]
    out = t
    for p in parts:
        out = out.unionByName(p)
    return out.dropDuplicates(["subj", "pred", "obj"])


def sameas_map(triples: DataFrame,
               sameas_pred: str = SAME_AS) -> DataFrame:
    """``(node, canon)`` rewrite map from the graph's owl:sameAs
    links: ``canon`` is the lexicographically smallest URI reachable
    through any chain of sameAs edges (direction-blind, as identity
    is symmetric), one row per node whose spelling differs from its
    canonical one — exactly the rows a rewrite join needs.

    Scale: the identity-link graph is minted per document cluster
    (the reference's infer_metadata emits a handful per doc), so it
    is millions of edges against trillions of triples.  Components
    run pointer-doubled min-label propagation (:func:`components`)
    over xxhash64 node keys; the map is bounded by the sameAs node
    count and broadcasts.  Hash collisions would silently MERGE two
    identity clusters, so the operator counts nodes vs distinct
    hashes (two aggregates over the small node set) and raises on a
    collision rather than corrupting identities — at that point
    re-key with a salted hash.
    """
    pairs = (triples.filter(F.col("pred") == sameas_pred)
             .select("subj", "obj").distinct())
    nodes = (pairs.select(F.col("subj").alias("node"))
             .unionByName(pairs.select(F.col("obj").alias("node")))
             .distinct()
             .withColumn("h", F.xxhash64("node"))
             .persist())
    agg = nodes.agg(F.count("*").alias("n"),
                    F.countDistinct("h").alias("nh")).first()
    if agg["n"] != agg["nh"]:
        nodes.unpersist()
        raise ValueError(
            f"xxhash64 collision among {agg['n']} sameAs nodes "
            f"({agg['n'] - agg['nh']} colliding); identity clusters "
            "would merge — re-key sameas_map with a salted hash")
    hpairs = (pairs
              .join(nodes.select(F.col("node").alias("subj"),
                                 F.col("h").alias("id_a")), "subj")
              .join(nodes.select(F.col("node").alias("obj"),
                                 F.col("h").alias("id_b")), "obj")
              .select("id_a", "id_b"))
    comp = components(hpairs)
    labeled = nodes.join(comp, nodes["h"] == comp["id"]) \
        .select("node", "comp")
    canon = labeled.groupBy("comp").agg(F.min("node").alias("canon"))
    # materialize the (small, sameAs-node-bounded) map BEFORE dropping
    # the nodes cache: the returned plan references the nodes subtree
    # twice (canon groupBy + final join), and unpersisting while it is
    # still lazy would re-run the corpus-scale sameAs scan per use
    out = (labeled.join(canon, "comp")
           .filter(F.col("node") != F.col("canon"))
           .select("node", "canon")
           .localCheckpoint(eager=True))
    nodes.unpersist()
    return out


def sameas_canonicalize(triples: DataFrame,
                        sameas_pred: str = SAME_AS) -> DataFrame:
    """Rewrite every subject/object through the graph's owl:sameAs
    identity clusters so each resource has ONE spelling — the step
    that turns the reference's minted sameAs links (dv.py:1466,
    sameas.n3) into a deduplicated graph instead of a query-time
    UNION.

    Two broadcast left joins (subj, then obj) stream the corpus
    map-side; only nodes that actually appear in a sameAs cluster are
    in the map, so untouched triples pass through unchanged.
    Canonicalization collapses variant spellings of the same edge
    onto identical rows; a final ``dropDuplicates`` removes them (the
    one corpus shuffle).  The now self-referential identity triples
    themselves are dropped.
    """
    m = sameas_map(triples, sameas_pred)
    t = triples.filter(F.col("pred") != sameas_pred)
    sm = F.broadcast(m.select(F.col("node").alias("subj"),
                              F.col("canon").alias("_sc")))
    om = F.broadcast(m.select(F.col("node").alias("obj"),
                              F.col("canon").alias("_oc")))
    out = (t.join(sm, "subj", "left")
           .join(om, "obj", "left")
           .select(F.coalesce("_sc", "subj").alias("subj"),
                   "pred",
                   F.coalesce("_oc", "obj").alias("obj")))
    return out.dropDuplicates(["subj", "pred", "obj"])


# ------------------------------------------------------ OWL properties

INVERSE_OF = "owl:inverseOf"
SYMMETRIC = "owl:SymmetricProperty"
TRANSITIVE = "owl:TransitiveProperty"


def owl_property_materialize(triples: DataFrame) -> DataFrame:
    """Forward-chain the OWL property rules the reference's shipped
    vocabularies actually declare — ``owl:inverseOf``
    (``res/vocab/bibo.ttl:356``: bibo:citedBy inverseOf bibo:cites —
    the citation graph's own inverse), ``owl:SymmetricProperty`` and
    ``owl:TransitiveProperty`` (``res/vocab/skos.ttl:42-43,113``:
    skos:exactMatch is both, skos:related symmetric) — and return the
    materialized graph.

    Rule order reaches the joint fixpoint in one sequence:

    1. orbit pass — the inverse/symmetric declarations form a tiny
       rewrite graph over (predicate, flipped?) states; its CLOSURE
       (the orbit — e.g. a predicate both symmetric and inverseOf q
       derives p-flipped, q-flipped AND q-unflipped forms) is
       computed driver-side and applied as ONE broadcast join + swap
       over the asserted triples, so composed declarations never need
       iterating over the ABox;
    2. per-predicate transitive closure over asserted ∪ orbit (so a
       q-assertion reaches p's closure through p=inverseOf(q) before
       closing; semi-naive fixpoint, the one genuinely iterative
       ABox-scale step);
    3. orbit pass again over the closure output (the closure of p
       entails the mirrored closure of its inverse — and if both are
       declared transitive, q's closure IS p's mirrored closure, so
       nothing further derives).

    The declared-property lists are collected driver-side (they are
    vocabulary statements — a handful of rows) so the orbit and the
    step-2 predicate loop run in plain Python; each closure is the
    shared ``transitive_closure`` fixpoint.  RDFS interaction is by
    composition: run this, then :func:`rdfs_materialize` (property
    swaps never create new subclass/type facts on their own).

    The declarations are the ones embedded in ``triples``:
    ``owl:inverseOf`` rows plus ``rdf:type`` rows whose object is one
    of the two property classes.
    """
    t = triples.select("subj", "pred", "obj")
    decls = t.filter(
        (F.col("pred") == INVERSE_OF)
        | ((F.col("pred") == RDF_TYPE)
           & F.col("obj").isin(SYMMETRIC, TRANSITIVE))).collect()
    inv: set = set()
    sym: set = set()
    trans: set = set()
    for r in decls:
        if r["pred"] == INVERSE_OF:
            inv.add((r["subj"], r["obj"]))
            inv.add((r["obj"], r["subj"]))
        elif r["obj"] == SYMMETRIC:
            sym.add(r["subj"])
        else:
            trans.add(r["subj"])
    # orbit of the declaration group: BFS over (pred, flipped) states
    # where every declared op (x→y, incl. sym self-loops) flips the
    # triple. A MULTI-map (a dict would drop mappings when a property
    # is symmetric AND inverse, or has several inverses), CLOSED under
    # composition (symmetric+inverse on p derives q both flipped and
    # unflipped — one pass over the ABox covers every composed form).
    ops: dict[str, set] = {}
    for x, y in inv | {(p, p) for p in sym}:
        ops.setdefault(x, set()).add(y)
    orbit: set = set()          # (src_pred, to_pred, flipped)
    for s in ops:
        seen = {(s, False)}
        stack = [(s, False)]
        while stack:
            cur, f = stack.pop()
            for y in ops.get(cur, ()):
                ns = (y, not f)
                if ns not in seen:
                    seen.add(ns)
                    stack.append(ns)
        orbit.update((s, t2, f) for t2, f in seen if (t2, f) != (s, False))
    orbit_rows = sorted(orbit)

    def swap_pass(df: DataFrame) -> DataFrame:
        if not orbit_rows:
            return None
        m = df.sparkSession.createDataFrame(
            orbit_rows, "pred string, to_pred string, flip boolean")
        j = df.join(F.broadcast(m), "pred")
        return j.select(
            F.when(F.col("flip"), F.col("obj"))
            .otherwise(F.col("subj")).alias("subj"),
            F.col("to_pred").alias("pred"),
            F.when(F.col("flip"), F.col("subj"))
            .otherwise(F.col("obj")).alias("obj"))

    parts = [t]
    swapped = swap_pass(t)
    if swapped is not None:
        parts.append(swapped)
    base = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    for p in sorted(trans):
        closed = transitive_closure(
            base.filter(F.col("pred") == p)
            .select(F.col("subj").alias("child"),
                    F.col("obj").alias("parent")),
            max_depth=None)
        ptrips = closed.select(
            F.col("descendant").alias("subj"),
            F.lit(p).alias("pred"),
            F.col("ancestor").alias("obj"))
        parts.append(ptrips)
        re_swapped = swap_pass(ptrips)
        if re_swapped is not None:
            parts.append(re_swapped)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["subj", "pred", "obj"])
