"""Deterministic training-shard assignment (operators/shards.py)."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators.shards import assign_shards, shard_manifest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_partition_invariance(spark, docs):
    """The assignment is a pure function of (key, weight, salt,
    budget) — physical partitioning must not move a single row."""
    a = assign_shards(docs, budget=20000, weight_col="n_chars")
    b = assign_shards(docs.repartition(13), budget=20000,
                      weight_col="n_chars")
    assert (sorted(map(tuple, a.select("doc_id", "shard").collect()))
            == sorted(map(tuple, b.select("doc_id", "shard").collect())))


def test_matches_single_window_reference(spark, docs):
    """Two-phase bucketed cumsum == the naive global window."""
    from pyspark.sql import Window
    a = {r.doc_id: r.shard for r in
         assign_shards(docs, budget=20000, weight_col="n_chars",
                       n_buckets=7).collect()}
    from ferenda_spark.operators.sampling import sample_uniform
    w = (Window.orderBy("shuffle_key", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ref = (docs.withColumn("shuffle_key",
                           sample_uniform(F.col("doc_id"), "shard-v1"))
           .withColumn("_prev", F.sum(F.col("n_chars").cast("long"))
                       .over(w) - F.col("n_chars"))
           .withColumn("shard", F.expr("_prev DIV 20000")))
    expected = {r.doc_id: r.shard for r in ref.collect()}
    assert a == expected


def test_budget_overflow_bounded_by_one_doc(spark, docs):
    """Greedy packing: total_weight < budget + max single weight."""
    budget = 20000
    a = assign_shards(docs, budget=budget, weight_col="n_chars")
    max_w = docs.agg(F.max("n_chars")).collect()[0][0]
    man = shard_manifest(a, "n_chars").collect()
    last = max(r.shard for r in man)
    for r in man:
        assert r.total_weight < budget + max_w
        # every shard except the last is filled past its budget line
        if r.shard != last:
            assert r.total_weight + max_w > budget


def test_shards_contiguous_and_ordered(spark, docs):
    man = shard_manifest(
        assign_shards(docs, budget=20000, weight_col="n_chars"),
        "n_chars").collect()
    ids = sorted(r.shard for r in man)
    assert ids == list(range(len(ids)))
    # shuffle-key ranges of consecutive shards do not overlap
    by_id = sorted(man, key=lambda r: r.shard)
    for a, b in zip(by_id, by_id[1:]):
        assert a.last_key < b.first_key


def test_salt_changes_order_not_membership(spark, docs, monkeypatch):
    a = assign_shards(docs, budget=20000, weight_col="n_chars")
    monkeypatch.setattr(
        "ferenda_spark.operators.shards.SHARD_SALT", "shard-v2")
    b = assign_shards(docs, budget=20000, weight_col="n_chars")
    ka = [r.doc_id for r in a.orderBy("shuffle_key").limit(20).collect()]
    kb = [r.doc_id for r in b.orderBy("shuffle_key").limit(20).collect()]
    assert ka != kb  # independent permutation
    assert a.count() == b.count()


def test_null_weight_and_bad_budget_raise(spark, docs):
    poisoned = docs.withColumn(
        "n_chars", F.when(F.col("doc_id") == 3, None)
        .otherwise(F.col("n_chars")))
    with pytest.raises(ValueError, match="null key or null/negative"):
        assign_shards(poisoned, budget=20000, weight_col="n_chars")
    with pytest.raises(ValueError, match="budget"):
        assign_shards(docs, budget=0, weight_col="n_chars")


# ---------------------------------------------------------------------------
# context packing (concat-and-split)
# ---------------------------------------------------------------------------

def test_pack_contexts_tiles_exactly(spark, docs):
    """Slices tile every document [0, w) in order, every context but
    the last is exactly full, context ids are contiguous from 0."""
    from collections import defaultdict
    from ferenda_spark.operators.shards import pack_contexts
    C = 512
    rows = pack_contexts(docs, context_len=C,
                         weight_col="n_chars").collect()
    byctx, bydoc = defaultdict(int), defaultdict(list)
    for r in rows:
        byctx[r.ctx] += r.slice_len
        bydoc[r.doc_id].append((r.slice_start, r.slice_len,
                                r.ctx, r.ctx_offset))
    last = max(byctx)
    assert sorted(byctx) == list(range(last + 1))
    assert all(v == C for c, v in byctx.items() if c != last)
    nch = {r.doc_id: r.n_chars for r in docs.collect()}
    for d, sl in bydoc.items():
        sl.sort()
        assert sum(length for _, length, _, _ in sl) == nch[d]
        pos = 0
        for s, length, ctx, off in sl:
            assert s == pos
            assert 0 <= off and off + length <= C
            pos += length


def test_pack_contexts_partition_invariance(spark, docs):
    from ferenda_spark.operators.shards import pack_contexts
    key = ["doc_id", "ctx", "ctx_offset", "slice_start", "slice_len"]
    a = pack_contexts(docs, 512, "n_chars").select(*key).collect()
    b = pack_contexts(docs.repartition(17), 512,
                      "n_chars").select(*key).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pack_contexts_zero_weight_and_bad_len(spark, docs):
    from ferenda_spark.operators.shards import pack_contexts
    z = docs.withColumn(
        "n_chars", F.when(F.col("doc_id") == 5, F.lit(0))
        .otherwise(F.col("n_chars")))
    rows = pack_contexts(z, 512, "n_chars").collect()
    assert all(r.doc_id != 5 for r in rows)  # zero tokens, zero rows
    with pytest.raises(ValueError, match="context_len"):
        pack_contexts(docs, 0, "n_chars")


def test_write_training_shards_layout_and_order(spark, docs, tmp_path):
    from ferenda_spark.operators.shards import (assign_shards,
                                                write_training_shards)
    a = assign_shards(docs, budget=20000, weight_col="n_chars")
    out = str(tmp_path / "export")
    write_training_shards(a, out, "n_chars")

    import os
    shard_dirs = sorted(d for d in os.listdir(out + "/data")
                        if d.startswith("shard="))
    man = {r.shard: r for r in
           spark.read.parquet(out + "/manifest").collect()}
    assert len(shard_dirs) == len(man)
    # per-shard contents match the assignment; in-file order is the
    # shuffle order (read back preserves file order per partition dir)
    for d in shard_dirs:
        k = int(d.split("=")[1])
        rows = spark.read.parquet(f"{out}/data/{d}").collect()
        assert len(rows) == man[k].n_docs
        keys = [r.shuffle_key for r in rows]
        assert keys == sorted(keys)
        assert sum(r.n_chars for r in rows) == man[k].total_weight
    # re-export is byte-stable at the row level
    out2 = str(tmp_path / "export2")
    write_training_shards(a, out2, "n_chars")
    for d in shard_dirs:
        r1 = [tuple(r) for r in
              spark.read.parquet(f"{out}/data/{d}").collect()]
        r2 = [tuple(r) for r in
              spark.read.parquet(f"{out2}/data/{d}").collect()]
        assert r1 == r2
