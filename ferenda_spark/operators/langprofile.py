"""Trained n-gram language identification (Cavnar–Trenkle profiles).

textstats.py's language ID is a fixed heuristic (stopword/script
signals — zero-shuffle, good for coarse routing).  This module is
the TRAINED counterpart, completing the learned-model trio beside
the bigram LM (lmscore.py) and the Naive Bayes quality classifier
(classify.py::train_nb_weights): character-3-gram rank profiles per
language, learned from a labeled corpus, and classification by the
classic out-of-place metric (Cavnar & Trenkle 1994, "N-Gram-Based
Text Categorization" — still the textcat/langid baseline that holds
up on short web text).

Everything is INTEGER arithmetic — counts, ranks, |Δrank| sums, a
fixed out-of-place penalty — so training and classification
reproduce bit-for-bit across engines and the langid_trained_docs
oracle replays both stages in SQL.

Shapes at 10^12 documents:

- training: one explode of char 3-grams into a map-side-combinable
  ``groupBy(lang, gram)`` (hot grams pre-aggregate per partition),
  then a rank window PARTITIONED BY LANG over the already-aggregated
  gram counts — the window input is |langs| × |distinct grams|, not
  the corpus — truncated to the top ``PROFILE_K`` rows per language.  The
  profile table is tiny (|langs| · k rows): it broadcasts.
- classification: per-doc gram counts (map-side combinable), a
  rank window keyed by DOC (uniform — no skew possible), a
  broadcast join against the profile table per candidate language,
  one keyed sum, and a min(struct) argmin — no window over the
  corpus, no driver state.

Deterministic total orders everywhere: gram ranks break count ties
lexicographically; the argmin breaks distance ties by language
code.  Documents with no 3-gram (text shorter than 3 chars after
normalization) are absent from the output by contract — length
filters own them upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_ngrams(text: Column, n: int = 3) -> Column:
    """array<string> of overlapping character n-grams over the
    whitespace-normalized lowercased text (pure codegen)."""
    s = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.when(
        F.length(s) >= n,
        F.transform(F.sequence(F.lit(1), F.length(s) - (n - 1)),
                    lambda i: s.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


def _grams(df: DataFrame, text_col: str, n: int) -> Column:
    return char_ngrams(F.col(text_col), n)


NGRAM_N = 3


def explode_grams(docs: DataFrame, cols: list[str]) -> DataFrame:
    """(cols..., gram) rows — the shared gram explode.  Compute it
    ONCE and hand it to both :func:`train_lang_profiles` and
    :func:`classify_language` (via ``grams=``) when training and
    classifying over the same corpus: the explode is the dominant
    cost and otherwise runs twice."""
    return docs.select(*cols, F.explode(_grams(docs, "text", NGRAM_N))
                       .alias("gram"))


PROFILE_K = 150


def train_lang_profiles(labeled: DataFrame,
                        grams: DataFrame | None = None) -> DataFrame:
    """(lang, gram, rank): the top-``PROFILE_K`` character n-grams per
    language, ranked by (count desc, gram) — the Cavnar–Trenkle
    profile table.  ``grams`` (optional): precomputed
    (lang, gram) rows from :func:`explode_grams`."""
    from pyspark.sql import Window

    ex = grams.select(F.col("lang"), "gram") \
        if grams is not None else \
        labeled.select(F.col("lang"),
                       F.explode(_grams(labeled, "text", NGRAM_N))
                       .alias("gram"))
    counts = ex.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= PROFILE_K)
            .select("lang", "gram", "rank"))


OOP_PENALTY = 150
DOC_K = 80


def classify_language(docs: DataFrame, profiles: DataFrame,
                      grams: DataFrame | None = None) -> DataFrame:
    """(id, lang_pred, dist): out-of-place classification — each of
    the document's top-``DOC_K`` grams contributes |doc_rank −
    profile_rank|, or ``OOP_PENALTY`` when the language's profile lacks
    the gram; the language with the smallest sum wins (ties by
    language code)."""
    from pyspark.sql import Window

    ex = grams.select(F.col("doc_id").alias("id"), "gram") \
        if grams is not None else \
        docs.select(F.col("doc_id").alias("id"),
                    F.explode(_grams(docs, "text", NGRAM_N))
                    .alias("gram"))
    counts = ex.groupBy("id", "gram").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("gram"))
    dprof = (counts.withColumn("drank", F.row_number().over(w))
             .filter(F.col("drank") <= DOC_K)
             .select("id", "gram", "drank"))
    langs = profiles.select("lang").distinct()
    dists = (dprof.crossJoin(F.broadcast(langs))
             .join(F.broadcast(profiles), ["lang", "gram"], "left")
             .groupBy("id", "lang")
             .agg(F.sum(F.coalesce(
                 F.abs(F.col("drank") - F.col("rank")),
                 F.lit(int(OOP_PENALTY)))).cast("long").alias("dist")))
    best = (dists.groupBy("id")
            .agg(F.min(F.struct("dist", "lang")).alias("b")))
    return best.select("id", F.col("b.lang").alias("lang_pred"),
                       F.col("b.dist").alias("dist"))
