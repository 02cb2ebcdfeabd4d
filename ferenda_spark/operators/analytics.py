"""Relational analytics operators from the reference's serving side,
generalized: facet statistics, TOC grouping, top-k, pagination,
as-of/temporal joins, sessionization, transitive closure, keyword
inversion, dependency filtering, and an explicit salted-join helper
for skewed keys.

Each maps to a SURVEY.md §2 row (noted per function). All pure
DataFrame ops — Catalyst picks the physical plan; the salted join is
the one place we override it (hot-key skew per the north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



# -- A1/A2: facet statistics & grouping -------------------------------------

def facet_stats(df: DataFrame, dims: list[str]) -> DataFrame:
    """Per-dimension distinct-doc counts — the reference's API stats
    endpoint (wsgiapp.py:232-386) as ONE pass via grouping sets
    (cube), instead of its per-facet Python loop."""
    mask = (sum([F.grouping(d).cast("long") * (1 << i)
                 for i, d in enumerate(dims)]) if dims
            else F.lit(0).cast("long"))
    return (df.cube(*dims)
            .agg(F.count(F.lit(1)).alias("n"),
                 mask.alias("grouping_mask")))


def toc_pages(df: DataFrame, group_col: str, title_col: str) -> DataFrame:
    """TOC grouping (toc_pagesets/toc_select_for_pages,
    documentrepository.py:2852-2992): per group, the member titles in
    collation order."""
    return (df.select(group_col, F.col(title_col),
                      F.col(title_col).alias("_k"))
            .groupBy(group_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_k").alias("k"),
                                                     F.col(title_col)
                                                     .alias("t")))),
                lambda s: s["t"]).alias("titles"),
                 F.count(F.lit(1)).alias("n")))


# -- W3/W4/W5: sort / top-k / pagination -------------------------------------

def topk_per_group(df: DataFrame, group_cols: list[str],
                   order_col: str, k: int) -> DataFrame:
    """Per-group top-k via row_number window (reference: frontpage
    latest-5, rfc.py:699-719; multi-value facet pick W6)."""
    w = Window.partitionBy(*group_cols).orderBy(F.desc(order_col),
                                                F.asc("o_orderkey"))
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _before(specs: list[tuple[str, bool]], a: str, b: str) -> Column:
    """Strict lexicographic "row a sorts before row b" predicate over
    aliased sides ``a``/``b`` for (col, descending) sort specs."""
    cond = F.lit(False)
    for i in reversed(range(len(specs))):
        col, desc = specs[i]
        ac, bc = F.col(f"{a}.{col}"), F.col(f"{b}.{col}")
        strict = (ac > bc) if desc else (ac < bc)
        cond = strict | ((ac == bc) & cond)
    return cond


def ranked_topk(df: DataFrame, specs: list[tuple[str, bool]],
                k: int) -> DataFrame:
    """Global top-k WITHOUT a global ranking window.

    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject — each
    partition keeps its local top-k and only k·n_partitions rows
    reach the merge, so no single-partition shuffle of the full input
    ever happens (``row_number() OVER (ORDER BY ...)`` would move
    every qualifying row through ONE partition first).  The rank is
    then derived on the ≤k-row result by counting strict sort-order
    predecessors via a self-join — O(k²) comparisons on a bounded
    input, zero WindowExec, no single-partition exchange anywhere.
    The ≤k rows are localCheckpoint-ed first: TakeOrdered is not an
    Exchange, so without it the self-join would re-run the whole
    upstream plan (scan + aggregation + top-k merge) once per side.

    ``specs`` is [(column, descending)] and must be a total order
    over NON-NULL columns (include a unique tiebreak) so every rank
    is deterministic and distinct.
    """
    order = [F.desc(c) if d else F.asc(c) for c, d in specs]
    top = df.orderBy(*order).limit(k).localCheckpoint(eager=True)
    a, b = top.alias("a"), top.alias("b")
    first = specs[0][0]
    joined = a.join(b, _before(specs, "b", "a"), "left")
    return (joined.groupBy(*[F.col(f"a.{c}") for c in top.columns])
            .agg((F.count(F.col(f"b.{first}")) + 1)
                 .cast("int").alias("rank")))


def global_rank(df: DataFrame, order: list[Column],
                rank_col: str = "rank") -> DataFrame:
    """Full global rank via two-phase ranking — the scale-safe
    replacement for ``row_number() OVER (ORDER BY ...)`` (which moves
    the entire input through ONE partition).

    Phase 1: range-repartition on the sort keys, rank locally within
    each (sorted) partition.  Phase 2: offset each partition's local
    ranks by the total count of all earlier partitions.  The
    per-partition counts are ≤ num_partitions scalars — a scheduling
    decision, collected driver-side exactly like the per-round crawl
    frontier counts — and rejoin as a broadcast.

    ``order`` must be a total order (unique tiebreak) so ranks are
    deterministic; range partitioning on the same keys guarantees
    partition p's rows all sort before partition p+1's.
    """
    part = df.repartitionByRange(*order)
    # persist the pid-stamped frame: the counts pass and the ranking
    # pass must see the SAME range bounds (repartitionByRange samples
    # its bounds — deterministic for identical lineage, but pinning
    # the result makes that an invariant instead of an assumption,
    # and saves recomputing the input twice)
    with_pid = part.withColumn("_pid", F.spark_partition_id()).persist()
    lw = Window.partitionBy("_pid").orderBy(*order)
    local = with_pid.withColumn("_lrank", F.row_number().over(lw))
    counts = sorted(
        (r["_pid"], r["_n"]) for r in
        with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
        .collect())
    spark = df.sparkSession
    offs, acc = [], 0
    for pid, n in counts:
        offs.append((pid, acc))
        acc += n
    offsets = spark.createDataFrame(offs, "_pid int, _off long")
    return (local.join(F.broadcast(offsets), "_pid")
            .withColumn(rank_col, F.col("_lrank") + F.col("_off"))
            .drop("_pid", "_lrank", "_off"))


PAGE_SIZE = 100


def paginate(df: DataFrame, partition_col: str, order_col: str) -> DataFrame:
    """Archive pagination (news_write_atom archivesize, W3/W5): page id
    = floor((rn-1)/page_size) per partition, newest first."""
    w = Window.partitionBy(partition_col).orderBy(F.desc(order_col))
    return (df.withColumn("rn", F.row_number().over(w))
            .withColumn("page", F.floor((F.col("rn") - 1) / PAGE_SIZE)))


# -- A4: feedsets (per-facet feeds + the "All" union feed) -------------------

def feedsets(entries: DataFrame, facet_col: str, ts_col: str,
             feed_size: int = 25) -> DataFrame:
    """Newest-first entry feeds per facet value PLUS the union feed —
    the reference's news_feedsets shape (every feedset carries its
    per-value feeds and one feed over all entries,
    documentrepository.py:3398-3437 news_select_for_feeds).

    One explode (each entry lands in its facet feed and in the union
    feed), one window per feed — no driver loop over facets.

    Null facet values land only in the union feed (no spurious null
    feed); a facet value colliding with ``"All"`` fails the job
    at execution (in-plan ``raise_error`` — no eager driver scan, so
    the operator stays lazy and streaming-safe), since its per-value
    feed would silently merge with the union."""
    checked = (F.when(
        F.col(facet_col) == "All",
        F.raise_error(F.lit(
            "feedsets: facet value 'All' collides with the union "
            "feed label"))
        .cast("string"))
        .otherwise(F.col(facet_col)))
    tagged = (entries.withColumn(
        "feed", F.explode(F.when(
            F.col(facet_col).isNull(), F.array(F.lit("All"))
        ).otherwise(F.array(checked, F.lit("All"))))))
    w = Window.partitionBy("feed").orderBy(F.desc(ts_col),
                                           F.asc("event_id"))
    return (tagged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= feed_size))


# -- J8: as-of / temporal join ----------------------------------------------

def asof_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """For each left row, the latest right row with the same key and
    right_ts ≤ left_ts (TemporalElement.in_effect / consolidated-
    version semantics, SURVEY J8).

    Implemented as union + window (one shuffle on the key, no range
    crossJoin): tag sides, sort by time within key, carry the last
    right value forward onto left rows.
    """
    rcols = ["event_id"]
    l_tag = left.select(
        F.col(on), F.col("ts").alias("_ts"), F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in rcols])
                         .alias("s")).schema["s"].dataType).alias("_r"))
    r_tag = right.select(
        F.col(on), F.col("ts").alias("_ts"), F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns])
                        .alias("s")).schema["s"].dataType).alias("_l"),
        F.struct(*[F.col(c) for c in rcols]).alias("_r"))
    # right rows sort before left rows at equal _ts (right_ts ≤ left_ts
    # inclusive), via _side ascending
    w = (Window.partitionBy(on).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (l_tag.unionByName(r_tag)
              .withColumn("_match", F.last("_r", ignorenulls=True).over(w))
              .filter(F.col("_side") == 1))
    out = merged.select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col("_match")[c].alias(f"asof_{c}") for c in rcols])
    return out


# -- W: sessionization ------------------------------------------------------

SESSION_GAP_MINUTES = 30


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since
    the user's previous event exceeds the gap. lag + running sum —
    two window passes over one shuffle on user.

    ``event_id`` (when present in the frame) makes session ids
    deterministic under tied timestamps."""
    order = [F.asc("ts")]
    if "event_id" in events.columns:
        order.append(F.asc("event_id"))
    w = Window.partitionBy("user_id").orderBy(*order)
    gap_s = SESSION_GAP_MINUTES * 60
    flagged = events.withColumn(
        "_new",
        F.when(
            (F.unix_timestamp(F.col("ts"))
             - F.unix_timestamp(F.lag("ts").over(w))) > gap_s, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0))
    return flagged.withColumn(
        "session_id",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ).drop("_new")


# -- J3: bounded transitive closure ----------------------------------------

def transitive_closure(edges: DataFrame, max_depth: int | None = 4,
                       child_col: str = "child",
                       parent_col: str = "parent") -> DataFrame:
    """All (descendant, ancestor, depth) pairs — the ``isPartOf*``
    closure behind annotation construction
    (res/sparql/annotations.rq:4-19, SURVEY J3).

    ``max_depth=None`` iterates to FIXPOINT (the semantics of SPARQL
    property paths and of the gate oracles' unbounded WITH RECURSIVE):
    semi-naive iteration whose frontier is anti-joined against the
    already-seen pair set each round, so cycles terminate and no pair
    is re-derived — the BFS-by-level discovery order also makes the
    recorded depth the SHORTEST path depth for free.  A bounded
    ``max_depth`` keeps the cheaper no-anti-join loop (section nesting
    is ≤ 3-4; one shuffle per level over the persisted base).
    Termination checks count the already-materialized join result, so
    they cost no recompute.  At 100 TB scale swap persist() for
    localCheckpoint() to also truncate the growing plan lineage."""
    from pyspark import StorageLevel
    base = edges.select(F.col(child_col).alias("descendant"),
                        F.col(parent_col).alias("ancestor"),
                        F.lit(1).alias("depth"))
    if max_depth is None:
        # duplicate input pairs must collapse here: the fixpoint path
        # returns `seen` with no final groupBy (the bounded path dedups
        # via min(depth)), and SPARQL path semantics are set-valued.
        # No persist either — _closure_fixpoint localCheckpoints the
        # base immediately, so a persisted copy would just sit in the
        # CacheManager for the life of the session (one dead cached
        # edge subset per property-path query on the long-lived gate
        # driver / serving CLI).
        return _closure_fixpoint(
            base.dropDuplicates(["descendant", "ancestor"]))
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    parts = [base]
    frontier = base
    for d in range(2, max_depth + 1):
        nxt = (frontier.alias("f")
               .join(base.alias("b"),
                     F.col("f.ancestor") == F.col("b.descendant"))
               .select(F.col("f.descendant").alias("descendant"),
                       F.col("b.ancestor").alias("ancestor"),
                       F.lit(d).alias("depth"))
               .persist(StorageLevel.MEMORY_AND_DISK))
        n = nxt.count()  # materializes nxt; termination is free
        if n == 0:
            nxt.unpersist()
            break
        parts.append(nxt)
        frontier = nxt
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    result = (out.groupBy("descendant", "ancestor")
              .agg(F.min("depth").alias("depth")))
    # NOTE: base/frontiers stay persisted until the caller's action
    # completes; Spark evicts LRU, and ContextCleaner reclaims them
    # when the DataFrames go out of scope.
    return result


def _closure_fixpoint(base: DataFrame) -> DataFrame:
    """Semi-naive closure: frontier = (frontier ⋈ base) ∖ seen until
    empty.  dropDuplicates bounds the frontier (two paths reaching the
    same pair in one round collapse), the anti-join makes cycles
    terminate, and seen is deduped by construction so no final groupBy
    is needed.

    Every round's frontier is ``localCheckpoint``-ed, NOT merely
    persisted: round d's plan references the union of all previous
    rounds, each of which references its own union, so without lineage
    truncation the analyzed plan grows ~2^d and a 12-deep chain OOMs
    the driver during analysis.  Checkpointing makes each part's plan
    a leaf, so ``seen`` stays a flat d-way union of materialized
    blocks and per-round planning cost is O(d).  (On a real cluster
    localCheckpoint stores on executors — non-reliable but exactly
    right for an iterative temporary; executor loss just recomputes
    the query.)  The pair set is finite so the loop provably empties —
    the cap below only guards against an engine bug looping forever."""
    from functools import reduce

    base = base.localCheckpoint()        # materialize + truncate lineage
    parts = [base]
    frontier = base
    d = 1
    while True:
        d += 1
        if d > 10_000:          # |pairs| ≤ |nodes|² rounds; this is a bug
            raise RuntimeError("transitive_closure: fixpoint did not "
                               "converge (cycle-safety anti-join broken?)")
        seen = reduce(DataFrame.unionByName, parts)   # flat union of leaves
        nxt = (frontier.alias("f")
               .join(base.alias("b"),
                     F.col("f.ancestor") == F.col("b.descendant"))
               .select(F.col("f.descendant").alias("descendant"),
                       F.col("b.ancestor").alias("ancestor"),
                       F.lit(d).alias("depth"))
               .dropDuplicates(["descendant", "ancestor"])
               .join(seen, ["descendant", "ancestor"], "left_anti")
               .localCheckpoint())       # eager: materializes this round
        if nxt.isEmpty():
            return seen
        parts.append(nxt)
        frontier = nxt


# -- J5: keyword hub inversion ----------------------------------------------

def keyword_inversion(edges: DataFrame
                      ) -> DataFrame:
    """subject-term → sorted member docs (keyword.py:107-160): groupBy
    the object of subject edges, collect + sort the citing subjects."""
    return (edges.filter(F.col("pred") == "dcterms:subject")
            .groupBy(F.col("obj").alias("term"))
            .agg(F.array_sort(F.collect_set("subj")).alias("members"),
                 F.countDistinct("subj").alias("n_members")))


# -- P6: dependency-edge filter --------------------------------------------

def dependency_edges(edges: DataFrame
                     ) -> DataFrame:
    """Outbound dependency edges: drop structural predicates and
    objects that are subjects within the same graph
    (relate_dependencies, documentrepository.py:2026-2034)."""
    subjects = edges.select(F.col("subj").alias("obj")).distinct()
    return (edges.filter(~F.col("pred").isin("rdf:type", "owl:sameAs")
                         & ~F.col("obj_is_literal"))
            .join(subjects, "obj", "left_anti")
            .select("subj", "pred", "obj"))


# -- skew: salted join helper ----------------------------------------------

SALT_BUCKETS = 8


def salted_join(big: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Inner equi-join with explicit key salting for skewed keys: the
    big side gets a random-free deterministic salt (hash of all
    columns mod ``SALT_BUCKETS``), the dim side is replicated
    ``SALT_BUCKETS``× via explode — turning one hot-key partition
    into ``SALT_BUCKETS`` even ones. Use when a specific hot-key list
    is known; otherwise AQE skew-join handles moderate skew. Result
    is identical to a plain join (tested)."""
    b = big.withColumn("_salt", F.pmod(
        F.hash(*[F.col(c) for c in big.columns]), F.lit(SALT_BUCKETS)))
    d = (dim.withColumn("_salt", F.explode(
        F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))))
    out = b.join(d, [key, "_salt"], "inner")
    return out.drop("_salt")


# -- J6: composite-repo coalesce --------------------------------------------

def first_success(df: DataFrame, key: str, priority_col: str) -> DataFrame:
    """Per key, the row from the highest-priority source that
    succeeded — the composite-repository semantics (subrepos tried in
    declared order until one parses, compositerepository.py:57-130) as
    one window, not a driver loop."""
    w = Window.partitionBy(key).orderBy(F.asc(priority_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# -- P4: facet projection ---------------------------------------------------

def facet_projection(edges: DataFrame, preds: list[str]) -> DataFrame:
    """Long triples → one wide row per subject with a column per
    predicate (the reference's facet SELECT with one OPTIONAL block
    per facet, facet_query documentrepository.py:2290-2380).
    max() keeps multi-valued predicates deterministic (the reference
    warns + picks one, _relate_fulltext_value:2176-2185)."""
    aggs = [F.max(F.when(F.col("pred") == p, F.col("obj")))
            .alias(p.split(":")[-1]) for p in preds]
    return edges.groupBy(F.col("subj").alias("uri")).agg(*aggs)
