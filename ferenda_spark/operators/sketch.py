"""Count-Min sketch: bounded-state frequency estimation.

At 10^12 documents the token/url/entity frequency table itself is
web-scale: an exact ``groupBy(key)`` shuffles the full key universe
and its result does not fit a broadcast.  The Count-Min sketch
(Cormode & Muthukrishnan, J. Algorithms 2005) replaces it with a
``d × w`` counter matrix — each key increments one counter per row
(``col = h_i(key)``), a point estimate is the MIN over its d
counters — giving one-sided error (never an underestimate,
overestimate ≤ εN with probability 1-δ for ``w = e/ε, d = ln 1/δ``)
in O(d·w) state regardless of how many distinct keys exist.  The
sketch is a plain (row, col, cnt) DataFrame: MERGEABLE by cell-wise
addition, so per-partition / per-batch / per-snapshot sketches union
into corpus sketches — the bounded-memory heavy-hitter and
frequency-metrics primitive for streaming ingest and per-snapshot
lineage metrics (``graph.py`` provenance rows carry counts; a sketch
row set carries the full frequency SHAPE at fixed size).

Engine-deterministic and oracle-exact: the hash family is the
``dedup.py`` MinHash construction verbatim — the key's md5 folded to
a 60-bit BIGINT, reduced mod the Mersenne prime 2^31-1, then
``(a_i·h + b_i) mod p mod w`` with the same Knuth multiplier family —
pure codegen, no UDF, and restatable in ANSI SQL so the gate compares
bit-exact counters, not just estimate quality.

Plan shape: ``cms_sketch`` is one explode (d rows per key occurrence)
into ONE map-side-combinable groupBy over at most d·w cells — the
shuffle moves O(partitions · d · w) pre-aggregated rows, NOT the
corpus; ``cms_lookup`` broadcasts the probe keys' d positions against
the ≤ d·w-row sketch.  No stage touches the distinct-key universe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1 (the dedup.MINHASH_P family): h is reduced
#: mod p BEFORE the multiply so a·h stays far below 2^63
CMS_P = 2147483647


def _h60(key: Column) -> Column:
    """md5(key) folded to a 60-bit BIGINT, mod p — the minhash fold."""
    return F.conv(F.substring(F.md5(F.encode(key.cast("string"),
                                             "UTF-8")), 1, 15),
                  16, 10).cast("long") % CMS_P


def _cms_col(h: Column, i: int, width: int) -> Column:
    """Row-``i`` counter column for a key hash (universal family)."""
    a = (2654435761 * (i + 1)) % CMS_P
    b = (40503 * (i + 1) + 17) % CMS_P
    return ((F.lit(a) * h + F.lit(b)) % CMS_P) % width


CMS_WIDTH = 512
CMS_DEPTH = 4


def cms_sketch(keys: DataFrame) -> DataFrame:
    """(row, col, cnt) — the d×w Count-Min counter matrix of the key
    column's occurrence counts (one increment per input ROW; pre-count
    duplicates upstream if weighted updates are wanted).  At most
    ``depth·width`` output rows whatever the key cardinality; merge
    two sketches of the same shape by summing cnt per (row, col)."""
    h = _h60(F.col("key"))
    cells = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 _cms_col(h, i, CMS_WIDTH).alias("col"))
        for i in range(CMS_DEPTH)])
    return (keys.select(F.explode(cells).alias("c"))
            .groupBy(F.col("c.row").alias("row"),
                     F.col("c.col").alias("col"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_lookup(sketch: DataFrame, probes: DataFrame) -> DataFrame:
    """(key, est) — the Count-Min point estimate for every probe key:
    min over the d counters the key hashes to (missing cell = 0, so
    never-seen keys estimate 0).  ``CMS_DEPTH``/``CMS_WIDTH`` must match the
    sketch's build parameters — a mismatched geometry probes the
    wrong cells and silently overestimates, so pass them explicitly.
    The probe side is tiny (d rows per probe) and joins the ≤ d·w-row
    sketch broadcast."""
    h = _h60(F.col("key"))
    cells = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 _cms_col(h, i, CMS_WIDTH).alias("col"))
        for i in range(CMS_DEPTH)])
    pos = (probes.select(F.col("key"),
                         F.explode(cells).alias("c"))
           .select("key", F.col("c.row").alias("row"),
                   F.col("c.col").alias("col")))
    return (pos.join(F.broadcast(sketch), ["row", "col"], "left")
            .groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est")))
