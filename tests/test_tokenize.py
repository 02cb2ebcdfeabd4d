"""BPE training and encoding (operators/tokenize.py)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ferenda_spark.operators.tokenize import (bpe_encode, bpe_train,
                                              encode_word, pre_tokens_py,
                                              word_counts)

CORPUS = [("u1", "the thin thing then"),
          ("u2", "the other brother, the!"),
          ("u3", "thermal the the the")]

# hand-traced merges for CORPUS (word counts: the*6, thin, thing,
# then, other, brother, thermal, ',', '!'):
#   (t,h)=12  (th,e)=10  (the,r)=3  then 2-count ties resolved
#   lexicographically: (i,n) < (o,ther) < (th,in)
EXPECTED = [(0, "t", "h", 12), (1, "th", "e", 10), (2, "the", "r", 3),
            (3, "i", "n", 2), (4, "o", "ther", 2), (5, "th", "in", 2)]


#: symbol separator of the mirror (US control char: cannot appear in
#: pre-tokens, which are printable by construction)
SEP = "\x1f"


def replace_mirror(word: str, merges) -> list[str]:
    """Independent mirror of encode_word, in the shape of the
    bpe_encode_docs oracle: literal str.replace over the SEP-delimited
    symbol string (Python's replace is also leftmost non-overlapping)."""
    s = SEP + (SEP + SEP).join(list(word)) + SEP
    for m in merges:
        left, right = (m[1], m[2]) if len(m) == 4 else (m[0], m[1])
        s = s.replace(SEP + left + SEP + SEP + right + SEP,
                      SEP + left + right + SEP)
    return s.strip(SEP).split(SEP + SEP) if word else []


def test_bpe_train_hand_traced_with_ties(spark):
    docs = spark.createDataFrame(CORPUS, "url string, text string")
    assert bpe_train(docs, 6, min_pair_freq=2) == EXPECTED
    # deterministic replay
    assert bpe_train(docs, 6, min_pair_freq=2) == EXPECTED
    # accepts a prebuilt (word, wcount) table identically
    assert bpe_train(word_counts(docs), 3, min_pair_freq=2) \
        == EXPECTED[:3]


def textbook_bpe(docs, n_merges, min_pair_freq):
    """The textbook trainer, written for this test: every merge
    recounts every adjacent pair of every distinct word (overlaps
    included, weighted by the word's count), takes the maximum by
    (count desc, left, right), stops when that count is under
    ``min_pair_freq`` and applies the merge greedy leftmost."""
    from collections import Counter
    wcount = Counter(w for _, text in docs for w in pre_tokens_py(text))
    syms = {w: list(w) for w in wcount}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, s in syms.items():
            for pair in zip(s, s[1:]):
                pairs[pair] += wcount[w]
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(),
                                 key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_freq:
            break
        merges.append((rank, left, right, cnt))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms[w] = out
    return merges


def test_bpe_train_equals_textbook_trainer(spark):
    """bpe_train (one collect, incremental in-memory loop) learns the
    textbook trainer's merge list on corpora exercising ties,
    overlapping pairs (aaaa), early stops, and multi-round chains."""
    import random
    rng = random.Random(20260821)
    vocab = ["the", "then", "aaaa", "aab", "brother", "xy", "x", "!",
             "thin", "other", "in", "banana", "ananas", "bb", "ab"]
    for trial in range(6):
        n_docs = rng.randint(1, 8)
        rows = [(f"u{i}",
                 " ".join(rng.choices(vocab, k=rng.randint(1, 30))))
                for i in range(n_docs)]
        docs = spark.createDataFrame(rows, "url string, text string")
        for n_merges, floor in ((5, 2), (12, 1), (3, 3)):
            assert bpe_train(docs, n_merges, min_pair_freq=floor) \
                == textbook_bpe(rows, n_merges, floor), \
                (trial, n_merges, floor)


def test_bpe_train_min_freq_stops_early(spark):
    docs = spark.createDataFrame(
        [("u", "ab cd ef gh")], "url string, text string")
    # every pair is a hapax: no merge clears min_pair_freq=2
    assert bpe_train(docs, 5, min_pair_freq=2) == []
    # with the floor lowered, merges happen and are deterministic
    got = bpe_train(docs, 2, min_pair_freq=1)
    assert got == [(0, "a", "b", 1), (1, "c", "d", 1)]


@given(st.text(alphabet="theinorb", min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_encode_word_equals_replace_mirror(word):
    # the greedy fold and the delimiter-replace chain are the same
    # algorithm — on every word, under the hand-traced merge table
    assert encode_word(word, EXPECTED) == replace_mirror(word, EXPECTED)


def test_encode_word_rank_order_is_exact():
    # 'thermal': t+h → th, th+e → the, the+r → ther; later rules
    # never resurrect earlier pairs
    assert encode_word("thermal", EXPECTED) == ["ther", "m", "a", "l"]
    assert encode_word("thethe", EXPECTED) == ["the", "the"]
    # repeated-symbol merge is greedy leftmost, non-overlapping
    assert encode_word("aaa", [("a", "a")]) == ["aa", "a"]
    assert encode_word("aaaa", [("a", "a")]) == ["aa", "aa"]


def test_bpe_encode_spark_and_compression(spark):
    docs = spark.createDataFrame(CORPUS, "url string, text string")
    merges = EXPECTED
    out = {r["url"]: r for r in bpe_encode(docs, merges).collect()}
    for url, text in CORPUS:
        expected = []
        for w in pre_tokens_py(text):
            expected.extend(encode_word(w, merges))
        assert out[url]["tokens"] == expected
        assert out[url]["n_tokens"] == len(expected)
    # more merges never increase token count (compression monotone)
    n_none = {r["url"]: r["n_tokens"]
              for r in bpe_encode(docs, []).collect()}
    for url in out:
        assert out[url]["n_tokens"] <= n_none[url]
    # embarrassingly parallel: no Exchange in the encode plan
    plan = bpe_encode(docs, merges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_pre_tokens_portable_semantics():
    assert pre_tokens_py("The thin-thing! x2") == \
        ["the", "thin", "-", "thing", "!", "x", "2"]
    # non-ASCII letters degrade to single punct-class tokens (the
    # documented engine-portable contract), never crash
    assert pre_tokens_py("héj") == ["h", "é", "j"]
    assert pre_tokens_py(None) == []


def test_bpe_train_rejects_bad_args(spark):
    docs = spark.createDataFrame(CORPUS, "url string, text string")
    with pytest.raises(ValueError):
        bpe_train(docs, 0)
