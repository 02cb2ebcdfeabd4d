"""Entity linking: free-text labels → canonical entity URIs.

Two-phase lookup-join, the Spark restatement of the reference's
``lookup_resource`` (/root/reference/ferenda/documentrepository.py:
500-547): exact match on the entity label first, then a fuzzy pass
with ``difflib.get_close_matches(cutoff=0.8)`` top-1 for the misses.

Phase 1 is a **broadcast** equi-join (the entity dimension is
broadcast-sized — it mirrors ferenda's commondata extra/*.ttl files).
Phase 2 confines the expensive fuzzy matching to exact-miss *distinct
labels only*, computed in one Arrow-batched pandas UDF — never a
crossJoin of full data.  Two guards keep that phase bounded on
open-domain text, where distinct miss labels grow with the corpus:

* **Length-band blocking** — difflib's ratio is 2M/(|a|+|b|) with
  M ≤ min(|a|,|b|), so a candidate within ``cutoff`` c of a miss of
  length L must have length in [L·c/(2-c), L·(2-c)/c]; comparing
  only entities inside that band is *provably lossless* (the pruned
  pool is a superset of every candidate that can reach the cutoff,
  and get_close_matches' (ratio, label) tie-break is order-free), so
  links are byte-identical to the unblocked pass while the per-miss
  cost drops from O(entities) to O(band).
* **Miss cap** — at most ``MAX_FUZZY_MISSES`` distinct miss labels
  (deterministically the lexicographically smallest) go through the
  fuzzy pass; the overflow count is logged, never silent. Capped-out
  labels stay unlinked (entity_uri null), the same result as a miss.

The exact→fuzzy rule for one label is :func:`label_resolver`: the
fuzzy UDF calls it, and so does the triple build's extract stage, per
row and without the miss cap, to link each page's publisher.
"""

from __future__ import annotations

import difflib
import math
import sys
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferenda_spark.functions.text import (normalize_space,
                                          normalize_space_col)

#: the resolver holds the entity dim in memory (the driver's for
#: link_labels, each task's for extract) — cap it at a
#: comfortably-broadcastable size.
_MAX_ENTITY_DIM = 1_000_000


FUZZY_CUTOFF = 0.8
MAX_FUZZY_MISSES = 100_000


def label_resolver(entity_labels) -> Callable[[str], str | None]:
    """``(label, uri)`` pairs → ``resolve(norm)``, the
    ``lookup_resource`` rule for one normalized label: the uri of the
    equal normalized entity label, else that of the
    ``difflib.get_close_matches`` top-1 at ``FUZZY_CUTOFF`` inside the
    lossless length band (see the module docstring), else None.
    Duplicate normalized labels resolve to the MINIMUM uri, the
    link_labels exact join's deterministic tie-break; None labels or
    uris are skipped."""
    if len(entity_labels) > _MAX_ENTITY_DIM:
        raise ValueError(
            f"entity dimension exceeds the broadcast cap "
            f"(_MAX_ENTITY_DIM = {_MAX_ENTITY_DIM} labels); link "
            f"against a smaller entity set")
    exact: dict[str, str] = {}
    for lb, uri in entity_labels:
        if lb is None or uri is None:
            continue
        norm = normalize_space(lb)
        if norm and (norm not in exact or uri < exact[norm]):
            exact[norm] = uri
    # blocking index: label length → sorted labels of that length
    by_len: dict[int, list[str]] = {}
    for k in sorted(exact):
        by_len.setdefault(len(k), []).append(k)
    lo_f = FUZZY_CUTOFF / (2.0 - FUZZY_CUTOFF)
    hi_f = (2.0 - FUZZY_CUTOFF) / FUZZY_CUTOFF

    def resolve(norm: str) -> str | None:
        uri = exact.get(norm)
        if uri is None:
            # floor/ceil widen the band by <1 either side so float
            # rounding can never exclude an exact-boundary candidate
            # (the superset property is what makes the blocking
            # lossless)
            lo = max(0, math.floor(len(norm) * lo_f))
            hi = math.ceil(len(norm) * hi_f)
            cands = [c for ln in range(lo, hi + 1)
                     for c in by_len.get(ln, ())]
            best = difflib.get_close_matches(norm, cands, n=1,
                                             cutoff=FUZZY_CUTOFF)
            uri = exact[best[0]] if best else None
        return uri

    return resolve


def link_labels(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """mentions(..., label) → mentions + ``entity_uri`` (null if unlinkable).

    ``entities`` must have (uri, label). Any extra mention columns pass
    through untouched.
    """
    # ONE deterministic uri per normalized label: duplicate labels in
    # the dim would fan out exact-join rows (duplicate triples) and
    # make the fuzzy dict's winner collection-order-dependent
    ent = (entities.select(F.col("uri").alias("entity_uri"),
                           normalize_space_col(F.col("label"))
                           .alias("_elabel"))
           .filter(F.col("_elabel").isNotNull())
           .groupBy("_elabel")
           .agg(F.min("entity_uri").alias("entity_uri")))

    m = mentions.withColumn("_mlabel", normalize_space_col(F.col("label")))
    # null labels have no join key and would reach the fuzzy UDF as
    # None (len(None) crash): route them straight to unlinked output
    null_m = (m.filter(F.col("_mlabel").isNull()).drop("_mlabel")
              .withColumn("entity_uri", F.lit(None).cast("string")))
    m = m.filter(F.col("_mlabel").isNotNull())
    # hits, misses, and the miss count all branch off this join —
    # persist it so the upstream mention plan runs once, not thrice
    from pyspark import StorageLevel
    exact = (m.join(F.broadcast(ent), m["_mlabel"] == ent["_elabel"],
                    "left")
             .persist(StorageLevel.MEMORY_AND_DISK))

    hits = (exact.filter(F.col("entity_uri").isNotNull())
            .drop("_elabel", "_mlabel"))
    misses = exact.filter(F.col("entity_uri").isNull()).drop(
        "entity_uri", "_elabel")

    # Fuzzy phase over DISTINCT miss labels only. The entity dim is
    # contract-bound to broadcast size (ferenda's commondata files are
    # a few thousand resources); label_resolver enforces it, so a
    # misuse with a huge dim fails loudly instead of OOMing the driver.
    ent_rows = ent.limit(_MAX_ENTITY_DIM + 1).collect()
    resolve = label_resolver([(r["_elabel"], r["entity_uri"])
                              for r in ent_rows])

    distinct_miss = misses.select("_mlabel").distinct()
    n_miss = distinct_miss.count()  # one scalar; gates the cap
    if n_miss > MAX_FUZZY_MISSES:
        print(f"link_labels: fuzzy phase capped at {MAX_FUZZY_MISSES} "
              f"of {n_miss} distinct miss labels "
              f"({n_miss - MAX_FUZZY_MISSES} left unlinked)",
              file=sys.stderr)
        distinct_miss = (distinct_miss.orderBy("_mlabel")
                         .limit(MAX_FUZZY_MISSES))

    def fuzzy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [{"_mlabel": lab, "entity_uri": resolve(lab)}
                   for lab in pdf["_mlabel"]]
            yield pd.DataFrame(out, columns=["_mlabel", "entity_uri"])

    fuzzy_map = distinct_miss.mapInPandas(
        fuzzy, schema="_mlabel string, entity_uri string")

    # no broadcast hint: fuzzy_map is bounded by MAX_FUZZY_MISSES but
    # AQE sees the real size and picks the join strategy
    fuzzy_hits = (misses.join(fuzzy_map, "_mlabel", "left")
                  .drop("_mlabel"))
    return hits.unionByName(fuzzy_hits).unionByName(null_m)

