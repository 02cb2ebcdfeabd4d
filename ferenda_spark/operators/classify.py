"""Model-based quality filtering: hashed-feature linear scoring.

The fastText-architecture classifier step of web-corpus curation
(CCNet's LM/classifier filter, DCLM's quality classifier): each token
hashes into a weight bucket, the document's score is the (integer)
sum of its token weights, and a threshold splits keep/drop.  The
reference has no learned models — its nearest analog is the
rule-based relevance filtering its repos do at parse time — so this
is a training-data extension graded as first-class.

Spark-first shape: the whole scorer is ONE codegen projection over
the per-document token array (``aggregate`` over ``transform``),
zero shuffle — it runs inside the scan next to the textstats
features.  With a trained model, small weight tables (≤ 2^13
buckets) compile to an array literal indexed by ``element_at``
(pure codegen); LARGER tables — fastText quality models run
2^11–2^21 buckets — would embed up to ~2M literals into the
expression tree per evaluation site and choke Catalyst long before
data moves, so past ``_LITERAL_MAX_BUCKETS`` the weights ship as a
SparkContext BROADCAST numpy array consumed by an Arrow pandas UDF:
the salted-md5 bucket indices are still computed JVM-side in
codegen, only the index→weight gather crosses into Python, fully
vectorized, still zero shuffle.  Without a model the weight function
is the salted-md5 fold itself — the identical plan shape,
deterministic across engines, so the gate can value-compare the
full pipeline.  All arithmetic is BIGINT milli-units; the keep test
multiplies instead of dividing (``sum·1000 ≥ thr·n``) so no
floor-vs-truncation divergence can exist between engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.operators.textstats import tokens

#: hash-derived weights live in [-1000, 1000] milli-units
_W_SPAN = 2001

#: above this, a literal weight array is a plan-size bomb — broadcast
_LITERAL_MAX_BUCKETS = 8192


def _token_hash60(tok: Column, salt: str) -> Column:
    """THE hashing contract: salted-md5 folded to 60 bits.  Every
    consumer (bucket index, stand-in weight, broadcast path's index
    array) derives from this one expression so the paths cannot
    drift."""
    return F.conv(F.substring(F.md5(F.encode(
        F.concat(F.lit(salt), F.lit(":"), tok), "UTF-8")), 1, 15),
        16, 10).cast("long")


def token_bucket(tok: Column, salt: str, n_buckets: int) -> Column:
    """0-based weight-bucket index of one token: salted-md5 folded to
    60 bits, mod the table size (the fastText hashing trick)."""
    return _token_hash60(tok, salt) % n_buckets


def token_weight_milli(tok: Column, salt: str,
                       weights: list[int] | None = None,
                       n_buckets: int = 4096) -> Column:
    """Per-token weight in milli-units: salted-md5 fold of the token,
    either mapped through a trained ``weights`` bucket array (the
    fastText hashing trick; literal-array path — caller gates size)
    or used directly (deterministic stand-in when no trained model is
    supplied)."""
    h = _token_hash60(tok, salt)
    if weights is None:
        return h % _W_SPAN - 1000
    if len(weights) != n_buckets:
        raise ValueError(f"weights must have n_buckets={n_buckets} entries")
    arr = F.array(*[F.lit(int(w)) for w in weights])
    return F.element_at(arr, (h % n_buckets + 1).cast("int")).cast("long")


def _broadcast_bucket_sum(weights) -> "callable":
    """Arrow pandas UDF summing broadcast weights over a per-row array
    of bucket indices.  The broadcast ships the table to each executor
    ONCE (torrent protocol) instead of once per task in the plan; the
    gather is one numpy fancy-index per row batch."""
    from pyspark.sql.functions import pandas_udf

    sc = SparkSession.getActiveSession().sparkContext
    bc = sc.broadcast(np.asarray(weights, dtype=np.int64))

    @pandas_udf("long")
    def bucket_sum(idx: pd.Series) -> pd.Series:
        w = bc.value
        out = np.zeros(len(idx), dtype=np.int64)
        for i, v in enumerate(idx):
            if v is not None and len(v):
                out[i] = w[np.asarray(v, dtype=np.int64)].sum()
        return pd.Series(out)

    return bucket_sum


QW_SALT = "qw-v1"
QUALITY_THRESHOLD_MILLI = 0


def quality_score(docs: DataFrame, weights: list[int] | None = None,
                  n_buckets: int = 4096) -> DataFrame:
    """(id, n_tokens, score_sum_milli, keep) — linear quality score
    over hashed token features, scan-side.

    ``keep`` ⇔ the MEAN token weight clears the threshold, tested
    as ``score_sum·1000 ≥ threshold·n_tokens`` (pure integer
    multiplication — engine-exact).  Units, precisely: score_sum is
    milli per token, so the comparison puts the mean in MICRO-units
    — ``QUALITY_THRESHOLD_MILLI = 500_000`` means "mean token weight
    ≥ 0.5" (the historical name understates the scale by 1000; every
    gate/oracle states the same formula, so the contract is the
    formula).  Empty documents score 0 and keep iff the
    threshold is ≤ 0.

    Trained ``weights`` of ≤ ``_LITERAL_MAX_BUCKETS`` entries inline
    as a codegen literal array; larger tables go through the
    broadcast-variable pandas-UDF path (same results, plan stays
    bucket-count-independent).
    """
    toks = tokens(F.lower(F.col("text")))
    if weights is not None and n_buckets > _LITERAL_MAX_BUCKETS:
        if len(weights) != n_buckets:
            raise ValueError(
                f"weights must have n_buckets={n_buckets} entries")
        idx = F.transform(toks,
                          lambda t: token_bucket(t, QW_SALT, n_buckets))
        score = _broadcast_bucket_sum(weights)(idx)
    else:
        w = lambda t: token_weight_milli(  # noqa: E731
            t, QW_SALT, weights, n_buckets)
        score = F.aggregate(toks, F.lit(0).cast("long"),
                            lambda acc, t: acc + w(t))
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.size(toks).alias("n_tokens"),
        score.alias("score_sum_milli"))
    # the n==0 case is explicit: sum·1000 ≥ thr·0 would hold for EVERY
    # threshold, letting empty junk docs through a positive-threshold
    # gate — the documented rule is keep iff the threshold is ≤ 0
    keep = F.when(F.col("n_tokens") == 0,
                  F.lit(QUALITY_THRESHOLD_MILLI <= 0)) \
        .otherwise(F.col("score_sum_milli") * 1000
                   >= F.lit(QUALITY_THRESHOLD_MILLI).cast("long")
                   * F.col("n_tokens").cast("long"))
    return base.withColumn("keep", keep)


NB_BUCKETS = 512


def train_nb_weights(labeled: DataFrame) -> list[int]:
    """TRAIN the quality classifier: multinomial Naive Bayes
    log-odds per hashed bucket, from a labeled corpus (CCNet's
    recipe — label wiki-like seeds positive, raw crawl negative,
    keep what scores wiki-ish).

    Distributed shape: one explode of the token arrays into ONE
    map-side-combinable ``groupBy(bucket)`` — the shuffle moves at
    most ``NB_BUCKETS`` aggregated rows per partition, never the
    corpus — then a bounded ``collect()`` of ≤ ``NB_BUCKETS`` count
    rows (the model artifact has to reach the driver anyway; at
    fastText-scale 2^21 buckets that is a ~16 MB table, and scoring
    ships it back per-executor through quality_score's broadcast
    path).

    Weight math (engine-portable, replayed exactly by the
    nb_classifier_docs oracle): with add-one smoothing,

        w_b = floor(1000·(ln(pos_b+1) − ln(neg_b+1)
                          + ln((NEG+B)/(POS+B))) + 0.5)

    — ``floor(x+0.5)`` instead of ``round`` because banker's
    rounding differs between Python and SQL; buckets no training
    token touched get the smoothing-only constant.  Fails loudly on
    a single-class corpus (nothing to contrast)."""
    import math

    toks = tokens(F.lower(F.col("text")))
    ex = labeled.select(
        F.col("label").cast("boolean").alias("y"),
        F.explode(toks).alias("t"))
    counts = (ex.select(
        "y", token_bucket(F.col("t"), QW_SALT, NB_BUCKETS).alias("b"))
        .groupBy("b")
        .agg(F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("pos"),
             F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("neg")))
    rows = counts.collect()
    pos_tot = sum(r["pos"] for r in rows)
    neg_tot = sum(r["neg"] for r in rows)
    if pos_tot == 0 or neg_tot == 0:
        raise ValueError(
            f"train_nb_weights: single-class corpus (pos={pos_tot}, "
            f"neg={neg_tot}) — both labels must have tokens")
    base = math.log((neg_tot + NB_BUCKETS) / (pos_tot + NB_BUCKETS))
    fill = math.floor(1000 * base + 0.5)
    weights = [fill] * NB_BUCKETS
    for r in rows:
        val = (math.log(r["pos"] + 1) - math.log(r["neg"] + 1) + base)
        weights[r["b"]] = math.floor(1000 * val + 0.5)
    return weights


def score_eval(scored: DataFrame, labels: DataFrame,
               thresholds: list[int]
               ) -> DataFrame:
    """Threshold-sweep evaluation of a quality scorer: for each
    candidate ``threshold_milli`` apply :func:`quality_score`'s keep
    rule (``score_sum·1000 ≥ thr·n_tokens``; empty docs keep iff
    thr ≤ 0) against boolean ``labels`` and report the confusion
    counts plus precision/recall in exact milli-units (``tp·1000
    DIV (tp+fp)`` — integer division, engine-reproducible; NULL
    when the denominator is empty rather than a fake 0).

    The whole sweep is ONE pass: thresholds explode against the
    scored rows (a |thresholds|-way fan-out of an already-scored
    projection, not a rescore) into a single map-side-combinable
    groupBy — choosing an operating point over 20 candidate
    thresholds costs one shuffle of 20 aggregated rows per
    partition.  This is the model-selection loop for
    :func:`train_nb_weights`: train once, sweep, pick the threshold
    hitting the target keep-rate or precision."""
    if not thresholds:
        raise ValueError("score_eval: empty threshold list")
    j = scored.join(labels.select(F.col("id"),
                                  F.col("label").cast("boolean")
                                  .alias("__y")), "id")
    thr = F.explode(F.array(*[F.lit(int(t)) for t in thresholds]))
    e = j.select("n_tokens", "score_sum_milli", "__y",
                 thr.alias("threshold_milli"))
    keep = F.when(F.col("n_tokens") == 0,
                  F.col("threshold_milli") <= 0) \
        .otherwise(F.col("score_sum_milli") * 1000
                   >= F.col("threshold_milli").cast("long")
                   * F.col("n_tokens").cast("long"))
    e = e.withColumn("__k", keep)
    agg = e.groupBy("threshold_milli").agg(
        F.sum(F.when(F.col("__k") & F.col("__y"), 1).otherwise(0))
        .alias("tp"),
        F.sum(F.when(F.col("__k") & ~F.col("__y"), 1).otherwise(0))
        .alias("fp"),
        F.sum(F.when(~F.col("__k") & F.col("__y"), 1).otherwise(0))
        .alias("fn"),
        F.sum(F.when(~F.col("__k") & ~F.col("__y"), 1).otherwise(0))
        .alias("tn"))
    return agg.select(
        "threshold_milli", "tp", "fp", "fn", "tn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.expr("tp * 1000 DIV (tp + fp)"))
        .cast("long").alias("precision_milli"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.expr("tp * 1000 DIV (tp + fn)"))
        .cast("long").alias("recall_milli"))


def threshold_for_keep_rate(scored: DataFrame,
                            rate_milli: int) -> dict:
    """Calibrate the keep threshold to a target keep-rate: the
    LARGEST integer threshold keeping at least ``rate_milli/1000``
    of the scored documents.

    Exactness without float means: under an integer threshold t the
    keep rule ``score_sum·1000 ≥ t·n`` is equivalent to
    ``floor(score_sum·1000 / n) ≥ t`` — so ranking documents by
    their integer floor-mean ``m`` and taking the k-th largest
    (k = ceil(rate·N/1000)) yields a threshold whose keep-set is
    exactly ``{m ≥ t}``, size ≥ k, deterministic across engines.

    Empty documents (n_tokens = 0) sit outside the mean scale — the
    keep rule pins them to ``t ≤ 0`` regardless — so they are
    EXCLUDED from calibration, loudly reported in the result.

    Returns ``{"threshold_milli", "kept", "n", "n_empty"}``.  The
    k-th-largest selection is a sort-limit: exact and fine up to
    k in the millions; for a 99%-keep sweep over 10^12 docs use the
    score distribution (score_eval over candidate thresholds) or an
    approximate percentile instead of this exact picker."""
    if not 0 < rate_milli <= 1000:
        raise ValueError(
            f"rate_milli must be in (0, 1000], got {rate_milli}")
    nonempty = scored.filter(F.col("n_tokens") > 0)
    n = nonempty.count()
    n_empty = scored.count() - n
    if n == 0:
        raise ValueError("threshold_for_keep_rate: no non-empty docs")
    k = (int(rate_milli) * n + 999) // 1000
    # exact FLOOR division, not SQL DIV (which truncates toward
    # zero): the keep-rule equivalence score_sum*1000 >= t*n  <=>
    # floor(score_sum*1000 / n) >= t needs floor, and NB log-odds
    # score sums are routinely negative where trunc = floor + 1.
    # pmod(M, n) is the non-negative remainder, so (M - pmod) is an
    # exact multiple of n and DIV on it equals floor.
    m = nonempty.select(
        F.expr("(score_sum_milli * 1000"
               " - pmod(score_sum_milli * 1000, n_tokens))"
               " DIV n_tokens").alias("m"))
    thr = (m.orderBy(F.desc("m")).limit(k)
           .agg(F.min("m").alias("t")).first()["t"])
    kept = m.filter(F.col("m") >= thr).count()
    return {"threshold_milli": int(thr), "kept": int(kept),
            "n": int(n), "n_empty": int(n_empty)}
