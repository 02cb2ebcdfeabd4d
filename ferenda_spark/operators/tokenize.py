"""BPE tokenizer training and encoding.

A training-data pipeline doesn't just *count* tokens (textstats.py's
``bpe_ish_tokens`` proxy) — it TRAINS the tokenizer on the corpus it
curated (Sennrich et al. 2016, the GPT-2/BERT vocabulary recipe) and
then encodes every document with it.  Both halves live here,
Spark-first:

**Training** (``bpe_train``) runs the classic merge loop on the
DISTINCT-WORD table, never the corpus:

1. one corpus-wide pass builds ``(word, wcount)`` — a single
   map-side-combinable groupBy (the only place document text is
   touched; Heaps' law makes this table orders of magnitude smaller
   than the corpus — ~10^8 distinct words at 10^12 documents);
2. that table is collected once, and the merges run in driver memory
   (:func:`_bpe_train_driver`): pair counts (overlaps included,
   weighted by ``wcount``) are built once and updated only for the
   words a merge touches; the argmax pair follows a deterministic
   total order (count desc, then lexicographic left, right); each
   merge is applied greedy leftmost, the exact classic semantics.
   A distributed loop of one Spark job per merge measured ~100× the
   driver loop's per-merge cost at every size tried (BENCH.md round
   5), so there is no second arm.

Applying each rule exhaustively in rank order is exact, not an
approximation: a merge can only create pairs involving its NEW
token, and every rule mentioning that token has a higher rank by
construction (the token had to exist when the rule was learned), so
processing rules in rank order never misses an occurrence.  One
greedy left-to-right pass per rule is likewise exhaustive, because
``left+right`` can never equal ``left`` or ``right``.

**Encoding** (``bpe_encode``) broadcasts the ranked merge table and
applies it in one Arrow ``mapInPandas`` pass with a per-batch
word→tokens cache (documents repeat words; the cache makes encoding
effectively per-DISTINCT-word) — embarrassingly parallel, no
shuffle.  The DuckDB oracle of the bpe_encode_docs gate restates the
same greedy pass in SQL: the word is rendered as a
``\\x1f``-delimited symbol string (``\\x1fl\\x1f\\x1fr\\x1f`` per
boundary) and each merge becomes ONE literal ``replace`` —
left-to-right non-overlapping, provably the same greedy pass.

Pre-tokenization is deliberately simple and engine-portable
(identical semantics in Spark's Java regex, DuckDB's RE2, and
Python ``re``): lowercased ASCII letter runs, digit runs, and
single non-space-non-alnum characters.  Real byte-level BPE
pre-tokenizes even less; anything fancier (Unicode categories)
diverges across the three engines the tests triangulate.

Reference analog: the reference counts and segments text per
document (documentrepository.py's text analysis hooks, wordcount
analytics); vocabulary TRAINING has no reference counterpart — it
is part of the §2.12 LLM-training-data surface this engine adds.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: engine-portable pre-tokenizer (see module docstring)
PRE_TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
_PRE_TOKEN_RE = re.compile(PRE_TOKEN_PATTERN)


# ---- pre-tokenization ----------------------------------------------------

def pre_tokens(text: Column) -> Column:
    """text → array<string> of pre-tokens (order preserved)."""
    return F.regexp_extract_all(F.lower(text),
                                F.lit(PRE_TOKEN_PATTERN), 0)


def _rule(m: tuple) -> tuple:
    """(left, right) from either a bare pair or a full
    (rank, left, right, freq) row."""
    return (m[1], m[2]) if len(m) == 4 else (m[0], m[1])


def pre_tokens_py(text: str) -> list[str]:
    """Pure-Python twin of :func:`pre_tokens`."""
    return _PRE_TOKEN_RE.findall((text or "").lower())


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wcount): corpus word frequencies — ONE exploded
    map-side-combinable groupBy; the only corpus-wide pass in
    training."""
    return (docs
            .select(F.explode(pre_tokens(F.col(text_col)))
                    .alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("wcount")))


# ---- training ------------------------------------------------------------

def _bpe_train_driver(syms_list: list[list[str]],
                      wcounts: list[int], n_merges: int,
                      min_pair_freq: int) -> list[tuple]:
    """In-memory merge loop over a collected (syms, wcount) table:
    the textbook trainer's result (every adjacent pair counted,
    overlaps included, weighted by wcount; the (cnt desc, left asc,
    right asc) argmax; the greedy-leftmost merge), but incremental:
    pair counts update only for the words a merge touches, and the
    argmax is a lazy-invalidation heap instead of a full sort.  This
    is the shape every real BPE trainer uses — one pass to count,
    then driver-side rounds at microseconds per merge."""
    import heapq
    from collections import defaultdict

    pair_counts: dict[tuple, int] = defaultdict(int)
    pair_words: dict[tuple, set] = defaultdict(set)
    for idx, syms in enumerate(syms_list):
        wc = wcounts[idx]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += wc
            pair_words[p].add(idx)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple] = []
    for rank in range(n_merges):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            # stale heap entries (count changed since push) skip;
            # (-cnt, (l, r)) tuple order IS the (cnt desc, l asc,
            # r asc) total order
            if pair_counts.get(p, 0) == -negc and negc < 0:
                best = (p, -negc)
                break
        if best is None or best[1] < min_pair_freq:
            break
        (left, right), cnt = best
        merges.append((rank, left, right, int(cnt)))
        merged = left + right
        touched = pair_words.pop((left, right), set())
        changed: set = set()
        for idx in sorted(touched):
            syms = syms_list[idx]
            wc = wcounts[idx]
            out: list[str] = []
            hit = False
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = merged
                    hit = True
                else:
                    out.append(s)
            if not hit:        # stale index: word changed earlier
                continue
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= wc
                changed.add(p)
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] += wc
                pair_words[p].add(idx)
                changed.add(p)
            syms_list[idx] = out
        for p in changed:
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
            else:
                pair_counts.pop(p, None)
        pair_counts.pop((left, right), None)
    return merges


def bpe_train(docs_or_words: DataFrame, n_merges: int,
              text_col: str = "text", min_pair_freq: int = 2) -> list[tuple]:
    """Train ``n_merges`` BPE merges on the corpus; returns
    ``[(rank, left, right, freq), ...]`` in learned order.

    ``docs_or_words`` is either a document table (``text_col`` is
    pre-tokenized and counted) or an existing ``(word, wcount)``
    table.  Stops early — loudly, by returning fewer rows — when the
    best remaining pair's frequency falls under ``min_pair_freq``
    (merging hapax pairs memorizes the corpus instead of compressing
    it).  Determinism: ties on frequency break by lexicographic
    (left, right), so reruns and the SQL oracle agree bit-for-bit.

    The distinct-word table is collected once and the merge loop runs
    in memory (:func:`_bpe_train_driver`)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    cols = set(docs_or_words.columns)
    words = (docs_or_words if {"word", "wcount"} <= cols
             else word_counts(docs_or_words, text_col))
    rows = words.select(
        "wcount",
        F.filter(F.split("word", ""), lambda c: c != "").alias("syms")
    ).collect()
    return _bpe_train_driver([list(r["syms"]) for r in rows],
                             [r["wcount"] for r in rows],
                             n_merges, min_pair_freq)


def merges_df(spark: SparkSession, merges: list[tuple]) -> DataFrame:
    """The trained merge table as a DataFrame (the persisted
    artifact an encode job broadcasts)."""
    return spark.createDataFrame(
        merges, "rank int, left string, right string, freq long")


# ---- encoding ------------------------------------------------------------

def encode_word(word: str, merges: list[tuple]) -> list[str]:
    """Pure-Python twin: one pre-token → BPE symbols under the
    ranked merge list (each rule one greedy leftmost pass, in rank
    order — see the module docstring for why that is exact)."""
    syms = list(word)
    for m in merges:
        left, right = _rule(m)
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode(docs: DataFrame, merges: list[tuple],
               text_col: str = "text",
               id_cols: tuple = ("url",)) -> DataFrame:
    """docs → (id_cols..., tokens array<string>, n_tokens): encode
    every document with the trained merges — one Arrow pass,
    broadcast merge table, per-batch word cache, no shuffle."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast([_rule(m) for m in merges])
    ids = list(id_cols)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rules = [(0, l, r, 0) for (l, r) in bc.value]
        cache: dict[str, list[str]] = {}

        def enc(text):
            toks: list[str] = []
            for w in pre_tokens_py(text):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, rules)
                toks.extend(got)
            return toks

        for pdf in it:
            out = pdf[ids].copy()
            tokens = [enc(t) for t in pdf[text_col]]
            out["tokens"] = tokens
            out["n_tokens"] = [len(t) for t in tokens]
            yield out

    schema = ", ".join(
        f"{c} {dict(docs.dtypes)[c]}" for c in ids
    ) + ", tokens array<string>, n_tokens long"
    return docs.select(*ids, text_col).mapInPandas(batches,
                                                   schema=schema)
