"""Dependency-triggered incremental regeneration.

The reference re-generates a document when anything it DEPENDS ON
changes: ``relate_dependencies`` records, for every resolved citation
S → T, that T's generated page depends on S (T renders "referenced by
S" annotations; /root/reference/ferenda/documentrepository.py:
2015-2077, add_dependency:2055-2077), and ``needed("generate")``
compares the dependency's freshness against the generated artifact
(documentstore.py:438-457 — mtime comparison there, snapshot
provenance timestamps here).

Spark-first restatement:

* ``dependency_pairs``     — the dependency graph as (url, depends_on)
                             rows derived from the resolved citation
                             edges (one equi-join, resolve.py).
* ``stale_set``            — the transitive DEPENDENT set of a
                             changed-url frontier: seeded BFS over the
                             reversed dependency edges, NEVER an
                             all-pairs closure (at 10^12 docs the
                             all-pairs dependency closure is
                             quadratic-ish in the citation graph; the
                             reach from one day's changed set is tiny
                             and proportional to actual work).

Cycles (A cites B cites A) terminate through the visited anti-join;
each BFS round is one shuffle on the url key and each frontier is
``localCheckpoint``-ed so the iterated plan stays O(rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferenda_spark.operators.resolve import resolve_citations


def dependency_pairs(edges: DataFrame, pages_uris: DataFrame) -> DataFrame:
    """(url, depends_on) rows: ``url``'s generated output depends on
    ``depends_on`` — S citing T makes T's page depend on S, because
    T's generated output embeds the inbound-reference annotation
    (annotations.rq:14-18; add_dependency's direction,
    documentrepository.py:2055-2077).  Self-citations collapse (a doc
    trivially depends on itself through its own hash)."""
    resolved = resolve_citations(edges, pages_uris)
    return (resolved.filter(F.col("target_url").isNotNull())
            .select(F.col("target_url").alias("url"),
                    F.regexp_replace("subj", r"#.*$", "")
                    .alias("depends_on"))
            .filter(F.col("url") != F.col("depends_on"))
            .distinct())


STALE_MAX_DEPTH = 4


def stale_set(dep_pairs: DataFrame, changed: DataFrame) -> DataFrame:
    """(url, depth) rows: every document whose generated output is
    stale given the ``changed`` urls — the changed documents
    themselves at depth 0, direct dependents at 1, and so on
    transitively (a regenerated page changes ITS rendered output,
    which other pages may embed in turn).

    The cascade stops at ``STALE_MAX_DEPTH`` or at the fixpoint,
    whichever comes first.  Seeded BFS: each round joins the frontier
    against the reversed dependency
    edges, anti-joins the visited set (cycle-safe, no re-derivation),
    and ``localCheckpoint``s the new frontier so the loop's plan never
    nests.  depth is the minimum dependency distance from any changed
    doc (BFS discovery order makes that free).
    """
    from functools import reduce

    from pyspark import StorageLevel

    # pin the reversed edge set ONCE: dep_pairs usually carries the
    # full extract→resolve lineage, and every BFS round joins against
    # rev — unpinned, that lineage would re-run once per round (the
    # whole-corpus extract times the cascade depth)
    rev = (dep_pairs.select(F.col("depends_on").alias("src"),
                            F.col("url").alias("dst"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    seed = (changed.select(F.col("url")).distinct()
            .withColumn("depth", F.lit(0))
            .localCheckpoint())
    # parts-list shape (same as analytics._closure_fixpoint): only the
    # NEW frontier is materialized each round; `visited` stays a flat
    # union of already-checkpointed leaves.  Re-checkpointing the whole
    # visited set per round would rewrite O(|visited| · depth) rows to
    # executor storage on a deep cascade.
    parts = [seed]
    frontier = seed.select("url")
    d = 0
    while d < STALE_MAX_DEPTH:
        d += 1
        visited = reduce(DataFrame.unionByName, parts)
        nxt = (frontier.join(rev, frontier["url"] == rev["src"])
               .select(F.col("dst").alias("url")).distinct()
               .join(visited, "url", "left_anti")
               .withColumn("depth", F.lit(d))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        parts.append(nxt)
        frontier = nxt.select("url")
    # parts are checkpointed leaves — the result never references rev,
    # so release the cache here instead of leaking it on a long-lived
    # driver (the gate runner / serving CLI)
    rev.unpersist()
    return reduce(DataFrame.unionByName, parts)
