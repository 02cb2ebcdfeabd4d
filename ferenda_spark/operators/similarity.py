"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB training-data pipeline needs:

* **brute-force cosine top-k** — broadcast the (small) query set,
  score every (query, item) with a pure-Column dot product
  (``F.aggregate`` over ``zip_with`` products — JVM-side, no UDF),
  keep top-k per query with a window. Exact baseline; O(Q × N) but
  embarrassingly parallel, no shuffle until the final per-query top-k
  (which AQE coalesces — Q is small).
* **LSH-bucketed (random-hyperplane) top-k** — the scale path: sign
  bits against h deterministic hyperplanes bucket both sides; only
  same-bucket pairs are scored. Sublinear candidate sets; recall
  traded for h. Hyperplane components are a fixed integer formula so
  the identical bucketing is reproducible in ANSI SQL.

No reference counterpart (ferenda has no vector search) — this is a
first-class training-data extension per the build brief.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


TOPK = 5


def cosine_topk(items: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    ``queries(query_id, embedding)`` is broadcast (must be small —
    the per-query fanout is the scan itself). Self-matches (same id)
    are excluded when ids share a domain.
    """
    it = items.select(F.col("vec_id").alias("item_id"),
                      _as_double(F.col("embedding")).alias("ivec"))
    qs = queries.select(F.col("query_id"),
                        _as_double(F.col("embedding")).alias("qvec"))
    scored = (it.join(F.broadcast(qs), F.col("item_id") != F.col("query_id"))
              .select("query_id", "item_id",
                      F.round(cosine(F.col("ivec"), F.col("qvec")), 6)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "item_id", "cos_sim", "rank"))


def hyperplane(dim: int, j: int) -> list[int]:
    """Deterministic pseudo-random hyperplane j: component i is
    ((i*31 + j*17 + 7) % 11) - 5  (integer, zero-mean-ish).
    Fixed formula ⇒ reproducible in SQL and across engines."""
    return [((i * 31 + j * 17 + 7) % 11) - 5 for i in range(dim)]


MAX_PLANES = 24
MAX_BANDS = 32
BUCKET_OCCUPANCY = 12
RECALL_TARGET = 0.9


def lsh_params_for(n: int, threshold: float = 0.95) -> tuple[int, int]:
    """(bands, planes_per_band) sized for a corpus of ``n`` vectors.

    The round-5 sf1 probe measured the failure mode of FIXED params:
    at planes_per_band=6 each band has only 64 buckets, so bucket
    occupancy — and the within-bucket O(occupancy²) pair join — grows
    linearly with the corpus and total pair work grows QUADRATICALLY
    (sim_semantic_dedup: 10× vectors → 20× wall).  Sizing must move
    with n:

    * ``planes`` = ceil(log2(n / BUCKET_OCCUPANCY)) (at most
      ``MAX_PLANES``) keeps expected per-band bucket occupancy near
      the target, so within-bucket join work stays ~linear in n;
    * more planes lower per-band recall (p^planes with
      p = 1 − acos(threshold)/π, the hyperplane collision rate), so
      ``bands`` = ceil(ln(1−RECALL_TARGET) / ln(1−p^planes)) (at most
      ``MAX_BANDS``) recovers the banded union recall
      1−(1−p^planes)^bands ≥ ``RECALL_TARGET``.

    Total candidate work ≈ bands · n · occupancy — linear in n with a
    log-factor in bands.  Callers pass the result straight to
    :func:`embedding_near_dup_pairs` / :func:`semantic_dedup`, or use
    ``planes_per_band="auto"`` there.  Deterministic: pure arithmetic
    on n."""
    import math

    if n <= BUCKET_OCCUPANCY:
        planes = 4
    else:
        planes = max(4, min(MAX_PLANES,
                            math.ceil(math.log2(n / BUCKET_OCCUPANCY))))
    p = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    pb = p ** planes
    if pb >= 1.0:
        bands = 1
    else:
        bands = max(1, min(MAX_BANDS,
                           math.ceil(math.log(1 - RECALL_TARGET)
                                     / math.log(1 - pb))))
    return bands, planes


def lsh_band_buckets(vec: Column, dim: int, bands: int = 4,
                     planes_per_band: int = 6) -> Column:
    """Banded multi-probe buckets: array of per-band bucket ids
    (index = band), one bucket of ``planes_per_band`` sign bits per
    independent plane-set.  Two vectors are candidates when ANY band
    bucket matches — the MinHash-banding shape applied to hyperplane
    LSH: recall ≈ 1-(1-p^r)^B instead of the single-probe p^h, while
    each band still has 2^r buckets to shrink the within-bucket join.

    Components are quantized to integer milli-units
    (floor(x·1000) as long) before the plane dot, so bucketing is
    exact int arithmetic — order-independent and bit-identical
    between this Column form, the numpy matmul in
    ``band_bucket_udf`` (the hot-path variant), and the DuckDB
    oracle.  This form is the declarative reference; operators use
    the UDF, and a pytest asserts the two agree."""
    r = planes_per_band
    q = F.transform(vec, lambda x: F.floor(x * F.lit(1000.0)).cast("long"))
    buckets = []
    for b in range(bands):
        bucket = F.lit(0)
        for j in range(r):
            plane = F.array(*[F.lit(c) for c in hyperplane(dim, b * r + j)])
            d = F.aggregate(F.zip_with(q, plane, lambda x, y: x * y),
                            F.lit(0).cast("long"), lambda acc, v: acc + v)
            bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0))
        buckets.append(bucket.cast("int"))
    return F.array(*buckets)


def band_bucket_udf(dim: int, bands: int = 4, planes_per_band: int = 6):
    """Arrow-vectorized band buckets (the hot-path variant of
    ``lsh_band_buckets``): returns a pandas UDF vec → array<int> of
    per-band bucket ids.

    Components are quantized to integer milli-units
    (floor(x·1000) as int64) BEFORE the plane dot, so the whole
    computation is exact int64 arithmetic — order-independent, hence
    bit-identical between a numpy matmul here and DuckDB's
    sequential list_reduce in the oracle (float dots would differ in
    summation order).  The B·r·dim multiply-adds per row run as ONE
    BLAS-shaped batch matmul instead of interpreted per-element
    Column lambdas (~100ns/op → the dominant cost at any scale)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.array([hyperplane(dim, p)
                  for p in range(bands * planes_per_band)],
                 dtype=np.int64)                      # (B·r, dim)
    weights = (1 << (np.arange(bands * planes_per_band)
                     % planes_per_band)).astype(np.int64)

    def f(vecs):
        import pandas as pd
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.asarray(vecs.tolist(), dtype=np.float64)   # (n, dim)
        Q = np.floor(M * 1000.0).astype(np.int64)
        bits = (Q @ P.T > 0).astype(np.int64)             # (n, B·r)
        contrib = bits * weights
        buckets = contrib.reshape(len(M), bands, planes_per_band).sum(axis=2)
        return pd.Series(buckets.astype(np.int32).tolist())

    return pandas_udf(f, "array<int>")


PLANES_PER_BAND = 6
LSH_BANDS = 4


def lsh_topk(items: DataFrame, queries: DataFrame, dim: int) -> DataFrame:
    """Approximate top-k: score only (query, item) pairs sharing ≥1
    LSH band bucket. At scale the items side is hash-partitioned by
    (band, bucket); the query side is broadcast, so this is a
    map-side bucket filter. Pairs matching in several bands are
    deduped by the rounded-score distinct before ranking."""
    bb = band_bucket_udf(dim, LSH_BANDS, PLANES_PER_BAND)
    it = items.select(F.col("vec_id").alias("item_id"),
                      _as_double(F.col("embedding")).alias("ivec"))
    it = it.select("item_id", "ivec",
                   F.posexplode(bb(F.col("ivec"))).alias("band", "bucket"))
    qs = queries.select(F.col("query_id"),
                        _as_double(F.col("embedding")).alias("qvec"))
    qs = qs.select("query_id", "qvec",
                   F.posexplode(bb(F.col("qvec"))).alias("band", "bucket"))
    scored = (it.join(F.broadcast(qs), ["band", "bucket"])
              .filter(F.col("item_id") != F.col("query_id"))
              .select("query_id", "item_id",
                      F.round(cosine(F.col("ivec"), F.col("qvec")), 6)
                      .alias("cos_sim"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "item_id", "cos_sim", "rank"))


def ivf_assign_udf(centroids: list[list[float]], nprobe: int = 1):
    """Arrow-vectorized IVF coarse-quantizer assignment: pandas UDF
    vec → array<int> of the ``nprobe`` nearest centroid ids.

    Distances are exact int64 L2 on milli-unit-quantized components
    (floor(x·1000)), so assignment is order-independent and
    bit-identical to the SQL oracle's sequential fold.  Ties break to
    the lower centroid id (numpy stable argsort over centroid-ordered
    rows ≡ ORDER BY dist, cid).  The centroid matrix is closed over —
    it is driver-collected and broadcast-sized by contract (C ≪ N)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.floor(np.asarray(centroids, dtype=np.float64) * 1000.0)
    C = C.astype(np.int64)                                # (C, dim)

    def f(vecs):
        import pandas as pd
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.asarray(vecs.tolist(), dtype=np.float64)
        Q = np.floor(M * 1000.0).astype(np.int64)         # (n, dim)
        # ||q-c||² expanded — all int64, no overflow at milli-scale
        d = ((Q * Q).sum(axis=1)[:, None]
             - 2 * (Q @ C.T)
             + (C * C).sum(axis=1)[None, :])              # (n, C)
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(order.astype(np.int32).tolist())

    return pandas_udf(f, "array<int>")


IVF_NPROBE = 2
IVF_CENTROIDS = 8


def ivf_topk(items: DataFrame, queries: DataFrame, dim: int) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the list-partitioned
    ANN path complementing the banded LSH one.

    Coarse quantizer: the ``IVF_CENTROIDS`` lowest-id vectors serve
    as list centroids (a deterministic seed sample).  Every
    item is assigned to its single nearest list with one Arrow matmul
    (no shuffle — the centroid matrix is a closure broadcast); each
    query probes its ``IVF_NPROBE`` nearest lists.  Scoring touches only
    items in probed lists: O(N/C · nprobe) per query instead of O(N),
    and at scale the items side is hash-partitioned by ``list_id`` so
    probes are partition-pruned joins."""
    cents = (items.select(F.col("vec_id").alias("cid"),
                          _as_double(F.col("embedding")).alias("cv"))
             .orderBy("cid").limit(IVF_CENTROIDS).collect())
    cent_vecs = [list(r["cv"])
                 for r in sorted(cents, key=lambda r: r["cid"])]
    assign1 = ivf_assign_udf(cent_vecs, 1)
    assign_p = ivf_assign_udf(cent_vecs, IVF_NPROBE)
    # explode-of-1 rather than getItem(0): getItem on a UDF column
    # re-evaluates the UDF per projection; the generator path runs it
    # exactly once per row
    it = (items.select(F.col("vec_id").alias("item_id"),
                       _as_double(F.col("embedding")).alias("ivec"))
          .select("item_id", "ivec",
                  F.explode(assign1(F.col("ivec"))).alias("list_id")))
    qs = (queries.select(F.col("query_id"),
                         _as_double(F.col("embedding")).alias("qvec"))
          .select("query_id", "qvec",
                  F.explode(assign_p(F.col("qvec"))).alias("list_id")))
    # item lists are disjoint and probe lists distinct per query, so a
    # (query, item) pair is scored at most once — no dedup needed
    scored = (it.join(F.broadcast(qs), "list_id")
              .filter(F.col("item_id") != F.col("query_id"))
              .select("query_id", "item_id",
                      F.round(cosine(F.col("ivec"), F.col("qvec")), 6)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "item_id", "cos_sim", "rank"))


def label_centroids(items: DataFrame, dim: int) -> DataFrame:
    """Per-label centroid, via posexplode → groupBy(label, dim) → avg.

    One shuffle keyed (label, dim) — at 100 TB this beats collecting
    vectors: partial aggregation (map-side combine) reduces each
    partition to |labels|×dim rows before the exchange.
    """
    exploded = items.select(
        "label", F.posexplode(_as_double(F.col("embedding")))
        .alias("dim_idx", "component"))
    return (exploded.groupBy("label", "dim_idx")
            .agg(F.round(F.avg("component"), 6).alias("centroid_component"),
                 F.count(F.lit(1)).alias("n_vectors")))


def embedding_near_dup_pairs(items: DataFrame, dim: int,
                             threshold: float = 0.95,
                             bands: int = 4,
                             planes_per_band: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold),
    banded multi-probe LSH: a pair is scored when any of the ``bands``
    independent plane-sets buckets it together.  The within-bucket
    self-join is O(Σ_band Σ_bucket n²) with 2^planes_per_band buckets
    per band — raise ``planes_per_band`` as N grows (recall is
    recovered by the band union), never a single global bucket grid.

    ``planes_per_band="auto"`` counts the corpus once and sizes BOTH
    knobs via :func:`lsh_params_for` (bounded bucket occupancy +
    recall-recovering band count — the ~linear-in-n contract);
    ``bands`` is then ignored.  Explicit integers stay exactly
    reproducible against the SQL oracle, which restates fixed plane
    sets."""
    if planes_per_band == "auto":
        bands, planes_per_band = lsh_params_for(
            items.count(), threshold=threshold)
    bb = band_bucket_udf(dim, bands, planes_per_band)
    it = items.select(F.col("vec_id").alias("id"),
                      _as_double(F.col("embedding")).alias("vec"))
    it = it.select("id", "vec",
                   F.posexplode(bb(F.col("vec"))).alias("band", "bucket"))
    # pre-shuffle on the join keys so BOTH sides of the self-join
    # reuse one exchange (AQE ReusedExchange): the Arrow bucketing UDF
    # runs once over the corpus instead of once per side — and at
    # scale the bucketed table would never broadcast anyway, so this
    # is the shuffle the join needed regardless (measured 1.7-4x on
    # the gate corpus)
    it = it.repartition("band", "bucket")
    a, b = it.alias("a"), it.alias("b")
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .distinct())


SEMANTIC_DEDUP_THRESHOLD = 0.4


def semantic_dedup(items: DataFrame, dim: int,
                   planes_per_band: int = 6) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): keep ONE representative per group of
    semantically near-identical documents, judged in embedding space.

    Shape: candidate pairs come from ``embedding_near_dup_pairs``
    (banded multi-probe hyperplane LSH — a pair is only scored when
    some band buckets it together, never all-pairs; the paper's
    k-means clustering plays the same blocking role, and a trained
    coarse quantizer can replace the hyperplanes without changing
    anything downstream).  The epsilon-group is the CONNECTED
    COMPONENT of the cos ≥ threshold pair graph (``dedup.components``:
    min-label propagation + pointer doubling, O(log diameter)
    rounds) — pairwise-only keeps A and C when A~B~C but A≁C;
    the component collapses the whole chain like the paper's
    within-cluster epsilon-grouping.  Keeper: the component's minimum
    id — deterministic and engine-reproducible (the paper keeps the
    member farthest from the cluster centroid; at corpus scale a
    stable keeper matters more than which near-identical copy
    survives, same contract as every other dedup family here).

    Returns (``vec_id``, group, keep): every input id, its group
    label (= itself for singletons) and whether it survives.  Filter
    ``keep`` to materialize the deduplicated corpus; group by
    ``group`` for cluster-size diagnostics.

    Scale: the only additions over the gated pair + component ops are
    one distinct over ids and one left join on the uniform id key —
    nothing new shuffles document payloads.  Pass
    ``planes_per_band="auto"`` to size the LSH grid to the corpus
    (:func:`lsh_params_for`) — fixed defaults are for oracle-exact
    gates at gate scale; a growing corpus needs a growing bucket
    space or within-bucket pair work turns quadratic (measured: 10×
    vectors → 20× wall at fixed 6 planes, ~linear under auto).
    """
    from ferenda_spark.operators.dedup import components

    pairs = embedding_near_dup_pairs(items, dim, SEMANTIC_DEDUP_THRESHOLD,
                                     LSH_BANDS, planes_per_band)
    comp = components(pairs)
    ids = items.select(F.col("vec_id").alias("id")).distinct()
    grp = F.coalesce(F.col("comp"), F.col("id"))
    return (ids.join(comp, "id", "left")
            .select(F.col("id").alias("vec_id"),
                    grp.alias("group"),
                    (grp == F.col("id")).alias("keep")))


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, TPAMI 2011): ANN in the
# COMPRESSED domain — each vector stored as m sub-space codes (one
# byte-scale int per sub-space instead of dim floats), queries scored
# by asymmetric distance (ADC): per-query lookup tables over the
# codebooks, approx distance = Σ_s T[s][code_s].  This is the memory
# side of the ANN story IVF/LSH don't cover: 10^12 embeddings at
# 64×float32 = 256 TB, as 8-byte PQ codes = 8 TB — scannable.
# ---------------------------------------------------------------------------

def pq_codebooks(items: DataFrame, dim: int, m: int = 8,
                 ksub: int = 16) -> list:
    """Per-sub-space codebooks: the ``ksub`` lowest-id vectors'
    sub-slices (the IVF seed convention — deterministic, bounded
    collect, SQL-restatable).  Returns ``m`` lists of ``ksub`` centroids of
    ``dim/m`` components each."""
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    d = dim // m
    rows = (items.select(F.col("vec_id").alias("id"),
                         _as_double(F.col("embedding")).alias("v"))
            .orderBy("id").limit(ksub).collect())
    vecs = [list(r["v"]) for r in sorted(rows, key=lambda r: r["id"])]
    return [[v[s * d:(s + 1) * d] for v in vecs] for s in range(m)]


def pq_encode_udf(codebooks: list):
    """Arrow-vectorized PQ encoder: vec → array<int> of ``m`` codes,
    one exact-int64 milli-quantized argmin per sub-space (ties → the
    lower code, numpy stable argmin ≡ ORDER BY dist, code)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = [np.floor(np.asarray(cb, dtype=np.float64) * 1000.0)
         .astype(np.int64) for cb in codebooks]          # m × (k, d)
    d = C[0].shape[1]
    m = len(C)

    def f(vecs):
        import pandas as pd
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.asarray(vecs.tolist(), dtype=np.float64)
        Q = np.floor(M * 1000.0).astype(np.int64)
        codes = np.empty((len(Q), m), dtype=np.int32)
        for s in range(m):
            Qs = Q[:, s * d:(s + 1) * d]
            Cs = C[s]
            dist = ((Qs * Qs).sum(axis=1)[:, None]
                    - 2 * (Qs @ Cs.T)
                    + (Cs * Cs).sum(axis=1)[None, :])
            codes[:, s] = dist.argmin(axis=1)            # stable first-min
        return pd.Series(codes.tolist())

    return pandas_udf(f, "array<int>")


PQ_KSUB = 16
PQ_M = 8


def pq_topk(items: DataFrame, queries: DataFrame, dim: int) -> DataFrame:
    """PQ/ADC approximate top-k: ``(query_id, item_id, adist, rank)``
    — rank by ascending asymmetric distance (ties → lower item id).

    The corpus is touched ONLY through its codes: items encode once
    (one Arrow pass, no shuffle), each query builds its m×ksub
    distance table against the codebooks (driver-side numpy — Q·m·k
    integers), and scoring is a broadcast lookup-join of the exploded
    (item, subspace, code) rows against the table followed by one
    map-side-combinable sum per (query, item).  All distances are the
    exact int64 milli-quantized metric of the IVF family, so the SQL
    oracle reproduces every table cell and every rank bit-for-bit.
    """
    import numpy as np

    cbs = pq_codebooks(items, dim, PQ_M, PQ_KSUB)
    d = dim // PQ_M
    enc = pq_encode_udf(cbs)
    codes = (items.select(F.col("vec_id").alias("item_id"),
                          _as_double(F.col("embedding")).alias("v"))
             .select("item_id", F.posexplode(enc(F.col("v")))
                     .alias("s", "code")))
    qrows = (queries.select(F.col("query_id"),
                            _as_double(F.col("embedding")).alias("v"))
             .collect())
    C = [np.floor(np.asarray(cb, dtype=np.float64) * 1000.0)
         .astype(np.int64) for cb in cbs]
    table = []
    for r in qrows:
        q = np.floor(np.asarray(list(r["v"]), dtype=np.float64)
                     * 1000.0).astype(np.int64)
        for s in range(PQ_M):
            qs = q[s * d:(s + 1) * d]
            dist = ((C[s] - qs[None, :]) ** 2).sum(axis=1)
            for code, dv in enumerate(dist):
                table.append((r["query_id"], s, int(code), int(dv)))
    spark = items.sparkSession
    tdf = spark.createDataFrame(
        table, "query_id long, s int, code int, dv long")
    scored = (codes.join(F.broadcast(tdf), ["s", "code"])
              .filter(F.col("item_id") != F.col("query_id"))
              .groupBy("query_id", "item_id")
              .agg(F.sum("dv").alias("adist")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "item_id", "adist", "rank"))


EMBED_SALT = "he-v1"
EMBED_DIM = 32


def hash_embed(docs: DataFrame) -> DataFrame:
    """(id, embedding): signed feature-hashed bag-of-words document
    vectors — text → ``array<long>`` of length ``EMBED_DIM`` with NO
    trained model (Weinberger et al., ICML 2009: token j lands in
    bucket h(j) mod dim with sign ±1 from an independent hash bit,
    which keeps inner products unbiased).

    This is the bridge from raw text into this module's ANN family:
    hash-embed the corpus once, then brute/LSH/IVF/PQ search and
    embedding near-dup all apply to text that never saw a neural
    encoder — the cheap semantic-ish dedup baseline curation stacks
    run before paying for model embeddings.

    Pure-column fold, zero shuffle: the vector accumulates with an
    O(n_tokens·dim) transform per document — dim is small by design
    (64–512); integer counts, so vectors reproduce bit-for-bit and
    the hash_embed_docs oracle restates every component.  Hashing
    reuses the engine's salted-md5 60-bit fold (classify.py's
    contract): bucket = h(salt) mod dim, sign from an INDEPENDENT
    second fold h(salt#s) mod 2 — a quotient of the first hash
    would need 60-bit integer division, which doubles cannot carry
    exactly, and h mod 2 is correlated with h mod dim for even
    dims."""
    from ferenda_spark.operators.classify import _token_hash60
    from ferenda_spark.operators.textstats import tokens

    toks = tokens(F.lower(F.col("text")))
    # materialize (bucket, sign) ONCE per token before the fold: a
    # hash referenced inside the fold's inner transform would be
    # re-evaluated for every one of the dim array slots (dim× md5
    # work — the difference between 2 and 2·dim digests per token)
    pairs = F.transform(
        toks,
        lambda t: F.struct(
            (_token_hash60(t, EMBED_SALT) % EMBED_DIM).cast("int").alias("b"),
            F.when(_token_hash60(t, EMBED_SALT + "#s") % 2 == 1,
                   F.lit(-1)).otherwise(F.lit(1)).cast("long")
            .alias("s")))

    vec = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0).cast("long"), EMBED_DIM),
        lambda acc, p: F.transform(
            acc, lambda x, i: x + F.when(i == p["b"], p["s"])
            .otherwise(F.lit(0).cast("long"))))
    return docs.select(F.col("doc_id").alias("id"),
                       vec.alias("embedding"))


def int_cosine_test(va: Column, vb: Column,
                    threshold_milli: int) -> Column:
    """Exact integer cosine threshold test for integer vectors
    (hash_embed's output): ``cos(a,b) ≥ t/1000`` decided WITHOUT
    floats or sqrt — ``dot ≥ 0 AND dot²·10⁶ ≥ t²·|a|²·|b|²`` — so
    near-dup verdicts reproduce bit-for-bit in any engine (the
    float-cosine paths round; a verdict at the threshold boundary
    must not flip between Spark and the oracle).

    The comparison runs in DECIMAL(38,0): both sides stay ≤
    |a|²·|b|²·10⁶, so with squared norms under 10¹⁵ every product
    is < 10³⁶ and exactly representable (BIGINT alone overflows at
    t²·na·nb ≥ 2⁶³ — a page repeating one token ~2000 times already
    crosses it, silently flipping verdicts).  Norms ≥ 10¹⁵ (a
    single bucket count ≥ ~3·10⁷ — no real document) fail the job
    LOUDLY via assert_true rather than return a wrong verdict."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda a, x: a + x)
    na = F.aggregate(F.transform(va, lambda x: x * x),
                     F.lit(0).cast("long"), lambda a, x: a + x)
    nb = F.aggregate(F.transform(vb, lambda x: x * x),
                     F.lit(0).cast("long"), lambda a, x: a + x)
    t = int(threshold_milli)
    safe = 10 ** 15
    guard = F.assert_true(
        (na < safe) & (nb < safe),
        F.lit("int_cosine_test: squared norm >= 1e15 exceeds the "
              "exact DECIMAL(38,0) comparison bound"))
    dec = "decimal(38,0)"
    lhs = (dot.cast(dec) * dot.cast(dec)
           * F.lit(1_000_000).cast(dec))
    rhs = (F.lit(t * t).cast(dec) * na.cast(dec) * nb.cast(dec))
    verdict = (dot >= 0) & (lhs >= rhs) & (na > 0) & (nb > 0)
    return F.when(guard.isNull(), verdict)
