"""spark-submit GraphStore → N-Triples dump — the
``get_serialized_file(..., format="nt")`` analog
(reference triplestore.py:132, 1868): the committed graph out as the
standard RDF interchange format any triplestore bulk-loads.

Usage:
    spark-submit --master local[N] --py-files ferenda_spark.zip \
        tools/export_ntriples.py <store_dir> <out_dir> \
        [--table edge] [--all-versions] [--gzip] [--base-iri IRI]

Reads the commit-scoped current view by default (the exactly-once
OBSERVED graph; ``--all-versions`` dumps every committed snapshot row
instead), expands the store's CURIE vocabulary against ``--base-iri``
plus the standard prefixes, and writes one .nt(.gz) file per
partition — line-based and splittable, so a 100 TB dump reads back at
full parallelism.

Prints one EXPORT_STATS line (grep ^EXPORT_STATS); exits nonzero on
an empty dump.
"""

import argparse
import sys

from pyspark.sql import SparkSession

from ferenda_spark.sources.rdf_serial import STD_PREFIXES


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="export_ntriples")
    p.add_argument("store_dir")
    p.add_argument("out_dir")
    p.add_argument("--table", default="edge")
    p.add_argument("--all-versions", action="store_true",
                   help="dump every committed snapshot row instead of "
                        "the commit-scoped current view")
    p.add_argument("--gzip", action="store_true")
    p.add_argument("--base-iri", default=None,
                   help="namespace IRI for bare relative resource "
                        "urls (e.g. https://example.org/)")
    return p.parse_args(argv)


def run(spark: SparkSession, argv: list[str]) -> dict:
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.sources.rdf_serial import write_ntriples

    args = _parse_args(argv)
    store = GraphStore(spark, args.store_dir)
    df = store.read(args.table) if args.all_versions \
        else store.read_current(args.table)
    cols = [c for c in ("subj", "pred", "obj", "obj_is_literal",
                        "obj_lang", "obj_datatype") if c in df.columns]
    triples = df.select(*cols).persist()
    n = triples.count()
    prefixes = dict(STD_PREFIXES)
    if args.base_iri:
        prefixes[""] = args.base_iri
    write_ntriples(triples, args.out_dir, prefixes=prefixes,
                   compression="gzip" if args.gzip else None)
    triples.unpersist()
    print(f"EXPORT_STATS table={args.table} triples={n} "
          f"out={args.out_dir} gzip={args.gzip}")
    if n == 0:
        raise SystemExit(
            f"export_ntriples: table {args.table} in {args.store_dir} "
            "has zero rows")
    return {"triples": n}


if __name__ == "__main__":
    spark = SparkSession.builder.getOrCreate()
    run(spark, sys.argv[1:])
