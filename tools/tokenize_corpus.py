"""spark-submit tokenizer pipeline: train BPE on a corpus, persist
the merge table, encode every document, write tokenized shards.

    spark-submit --master local[N] --py-files ferenda_spark.zip \
        tools/tokenize_corpus.py <docs_parquet> <out_dir> \
        [--merges 64] [--min-pair-freq 2] [--text-col text] \
        [--id-col doc_id] [--reuse-merges <parquet>]

The one-command production surface for operators/tokenize.py (the
tools/curate.py / webgraph.py convention): reads a document parquet,
trains ``--merges`` BPE rules on its distinct-word table (or loads a
previously trained table with ``--reuse-merges`` — retraining per
corpus slice would fork vocabularies), encodes with the broadcast
Arrow path, and writes

    <out_dir>/merges     (rank, left, right, freq) — the model
    <out_dir>/tokens     (id, tokens, n_tokens)    — the corpus

with one ``TOKENIZE_STATS`` line per stage on stdout.  Exits nonzero
when the input is empty or training produced no merges above the
frequency floor (a tokenizer with an empty vocabulary upstream of a
training run is a bug, never a success).
"""

import argparse
import sys

from pyspark.sql import SparkSession


def _parse_args(argv):
    p = argparse.ArgumentParser(prog="tokenize_corpus")
    p.add_argument("docs_in")
    p.add_argument("out_dir")
    p.add_argument("--merges", type=int, default=64)
    p.add_argument("--min-pair-freq", type=int, default=2)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--reuse-merges", default=None,
                   help="parquet of (rank, left, right, freq) from a "
                        "previous run; skips training")
    return p.parse_args(argv)


def main(argv=None) -> int:
    from ferenda_spark.operators.tokenize import (bpe_encode,
                                                  bpe_train,
                                                  merges_df)
    args = _parse_args(sys.argv[1:] if argv is None else argv)
    spark = SparkSession.builder.appName("tokenize-corpus") \
        .getOrCreate()
    docs = spark.read.parquet(args.docs_in)
    n_docs = docs.count()
    if n_docs == 0:
        print("TOKENIZE_STATS stage=input docs=0 (empty input)")
        return 1
    print(f"TOKENIZE_STATS stage=input docs={n_docs}")

    if args.reuse_merges:
        rows = (spark.read.parquet(args.reuse_merges)
                .orderBy("rank").collect())
        merges = [(r["rank"], r["left"], r["right"], r["freq"])
                  for r in rows]
        stage = "reused"
    else:
        merges = bpe_train(docs, args.merges, text_col=args.text_col,
                           min_pair_freq=args.min_pair_freq)
        stage = "trained"
    if not merges:
        print("TOKENIZE_STATS stage=train merges=0 (nothing above "
              f"min_pair_freq={args.min_pair_freq})")
        return 1
    mdf = merges_df(spark, merges)
    mdf.write.mode("overwrite").parquet(f"{args.out_dir}/merges")
    top = merges[0]
    print(f"TOKENIZE_STATS stage={stage} merges={len(merges)} "
          f"top={top[1]}+{top[2]}:{top[3]}")

    enc = bpe_encode(docs, merges, text_col=args.text_col,
                     id_cols=(args.id_col,))
    enc.write.mode("overwrite").parquet(f"{args.out_dir}/tokens")
    stats = spark.read.parquet(f"{args.out_dir}/tokens").selectExpr(
        "count(*) AS n", "sum(n_tokens) AS toks").first()
    print(f"TOKENIZE_STATS stage=encode docs={stats['n']} "
          f"tokens={stats['toks']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
