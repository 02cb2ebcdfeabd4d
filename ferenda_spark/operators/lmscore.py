"""CCNet-style language-model perplexity scoring.

The canonical web-corpus quality split (Wenzek et al., *CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data*,
2019): train a small LM on a trusted reference slice, score every
candidate document's per-token log-probability, and keep/bucket by
perplexity (head/middle/tail).  CCNet uses a 5-gram KenLM binary; this
engine implements the same contract with an add-one-smoothed bigram
LM whose arithmetic is exactly reproducible in ANSI SQL, so the score
is oracle-checkable end to end.

Model: ``P(w2|w1) = (c(w1,w2) + 1) / (ctx(w1) + V)`` where ``c`` is
the training bigram count, ``ctx(w1) = Σ_w c(w1,w)`` the left-context
count, and ``V`` the training vocabulary size (add-one smoothing over
V outcomes; an unseen context scores ``1/V``).  A document's score is
``Σ ln P`` over its bigrams, reported floor-scaled to integer millis
so the cross-engine comparison tolerates only sub-milli libm drift.

Scoring (:func:`score_perplexity`) is declarative: explode bigrams,
join the count tables (broadcast by default: a reference-slice bigram
LM is dimension-sized next to a 100 TB corpus), aggregate per doc.
One explode + two broadcast joins + one keyed agg; the corpus
shuffles once on doc_id.

Reference analog: ferenda has no LM scoring; this extends the
curation family (textstats.quality_score, classify.quality_classifier)
with the standard perplexity signal a training-data pipeline runs
between language-ID and dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: token split mirrors the oracle: lowercase, runs of [a-z0-9] only
_SPLIT_RE = "[^a-z0-9]+"


def lm_tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens of ``text`` (empty runs dropped)."""
    return F.filter(F.split(F.lower(text), _SPLIT_RE),
                    lambda x: x != F.lit(""))


def _bigrams(df: DataFrame, text_col: str) -> DataFrame:
    """One row per bigram: (…, w1, w2) via slice-zip — no self-join."""
    t = lm_tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))).alias("w1"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("w2"))
    return (df.withColumn("_bg", F.explode(pairs))
            .withColumn("w1", F.col("_bg.w1"))
            .withColumn("w2", F.col("_bg.w2"))
            .drop("_bg"))


def fit_bigram_lm(train: DataFrame) -> dict:
    """Fit the LM on the reference slice.

    Returns ``{"bigram": DF(w1,w2,c12), "context": DF(w1,c1),
    "vocab_size": int}``.  Two keyed counts over the training slice
    only (the trusted corpus is the small side by construction);
    vocabulary size is one scalar.
    """
    bg = (_bigrams(train.select("text"), "text")
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    bg = bg.persist()
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (train.select(F.explode(lm_tokens(F.col("text")))
                          .alias("w")).distinct().count())
    return {"bigram": bg, "context": ctx, "vocab_size": vocab}


def _finish(scored: DataFrame, id_cols: list[str]) -> DataFrame:
    return scored.select(
        *id_cols,
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.col("logprob_milli").cast("long").alias("logprob_milli"))


def score_perplexity(docs: DataFrame, lm: dict) -> DataFrame:
    """Per-document LM score via explode + model joins.

    Output: ``(doc_id, n_bigrams, n_oov, logprob_milli)`` where
    ``logprob_milli = floor(1000 · Σ ln P(w2|w1))`` (0 for docs with
    no bigrams) and ``n_oov`` counts bigrams unseen in training.
    """
    id_cols = ["doc_id"]
    v = int(lm["vocab_size"])
    bg, ctx = F.broadcast(lm["bigram"]), F.broadcast(lm["context"])
    pairs = _bigrams(docs.select(*id_cols, "text"), "text")
    logp = F.log((F.coalesce(F.col("c12"), F.lit(0)) + 1)
                 / (F.coalesce(F.col("c1"), F.lit(0)) + v))
    scored = (pairs.join(bg, ["w1", "w2"], "left")
              .join(ctx, ["w1"], "left")
              .groupBy(*id_cols)
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.sum(F.when(F.col("c12").isNull(), 1)
                         .otherwise(0)).alias("n_oov"),
                   F.floor(F.sum(logp) * 1000).alias("logprob_milli")))
    # docs with <2 tokens emit no bigram rows: restore them at 0
    base = docs.select(*id_cols)
    return _finish(
        base.join(scored, id_cols, "left")
        .fillna({"n_bigrams": 0, "n_oov": 0, "logprob_milli": 0}),
        id_cols)


PERPLEXITY_BUCKETS = 3


def perplexity_buckets(scored: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split: equal-frequency buckets by
    per-bigram log-probability (higher = more reference-like).

    Deterministic and scale-safe: the global rank over the total
    order (avg score desc, then id columns) comes from
    ``analytics.global_rank`` — two-phase range-partitioned ranking,
    NO single-partition ``ntile`` window — and the bucket is plain
    arithmetic on (rank, total): ``((rank-1) · n_buckets) DIV total
    + 1``, which reproduces ntile's equal-frequency split exactly
    when total divides evenly and keeps every bucket within one row
    of even otherwise (the ntile contract CCNet needs; bucket 1 is
    the head).  Adds ``bucket`` to the scored rows.
    """
    from ferenda_spark.operators.analytics import global_rank

    id_cols = [c for c in scored.columns
               if c not in ("n_bigrams", "n_oov", "logprob_milli")]
    avg_milli = F.when(
        F.col("n_bigrams") > 0,
        F.floor(F.col("logprob_milli") / F.col("n_bigrams"))
    ).otherwise(F.lit(-(10 ** 9)))
    with_avg = scored.withColumn("_avg", avg_milli)
    ranked = global_rank(
        with_avg, [F.desc("_avg")] + [F.asc(c) for c in id_cols],
        rank_col="_rank")
    total = scored.count()
    if total == 0:
        return scored.withColumn("bucket", F.lit(None).cast("int"))
    # ntile(n) gives the first (total mod n) buckets one extra row:
    # bucket b covers ranks (hi(b-1), hi(b)] with hi cumulative sizes
    q, rem = total // PERPLEXITY_BUCKETS, total % PERPLEXITY_BUCKETS
    hi_exprs, acc = [], 0
    for b in range(1, PERPLEXITY_BUCKETS + 1):
        acc += q + (1 if b <= rem else 0)
        hi_exprs.append((acc, b))
    bucket = F.lit(PERPLEXITY_BUCKETS)
    for hi, b in reversed(hi_exprs[:-1]):
        bucket = F.when(F.col("_rank") <= hi, F.lit(b)).otherwise(bucket)
    return (ranked.withColumn("bucket", bucket.cast("int"))
            .drop("_avg", "_rank"))
