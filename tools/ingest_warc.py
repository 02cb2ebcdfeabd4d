"""spark-submit WARC → knowledge-graph ingest — the production entry
point of the whole pipeline: a directory of crawl segments in, a
committed GraphStore out.

Usage:
    spark-submit --master local[N] --py-files ferenda_spark.zip \
        tools/ingest_warc.py <warc_dir> <store_dir> \
        [--doc-url-regex RE] [--lang LANG] [--entities PARQUET]

Stages (each an independently gated operator):
  1. ``read_warc``            — distributed segment scan, per-record
                                error capture (corrupt segments
                                surface as error rows, never job
                                kills); the error census rides the
                                same pass via DataFrame.observe
  2. ``pages_from_warc``      — HTTP-200 responses → (url, warc_ts,
                                html)
  3. ``latest_fetch``         — multi-snapshot dedup: newest fetch
                                per canonical url
  4. lang recovery            — html lang attribute, scan-side
                                (override with --lang)
  5. ``run_pipeline``         — pending anti-join → extract (parse,
                                publisher linking) → per-page triple
                                arrays → snapshot-committed edge/
                                node/provenance tables, each row
                                tagged with its page's url and
                                input_hash; re-running on the
                                same archive AND configuration is a
                                no-op (resume contract), while a
                                changed page or configuration retires
                                its previous subgraph in read_current

``--entities`` points at a parquet entity registry (label, uri, kind)
for the linking stage; the default is the built-in demo registry that
matches the synthetic corpus — real deployments pass their own.

Prints one INGEST_STATS line (grep ^INGEST_STATS) with page, triple
and error-row counts; exits nonzero on zero parsed pages (an archive
of only poison segments is an operational fault, not a success).
"""

import argparse
import sys

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


def _parse_args(argv: list[str]) -> argparse.Namespace:
    from ferenda_spark.sources.testdata import DOC_PAGE_URL_RE
    p = argparse.ArgumentParser(prog="ingest_warc")
    p.add_argument("warc_dir")
    p.add_argument("store_dir")
    p.add_argument("--doc-url-regex", default=DOC_PAGE_URL_RE,
                   help="document-discovery regex (is_doc)")
    p.add_argument("--lang", default=None,
                   help="force this language instead of recovering "
                        "it from the html lang attribute")
    p.add_argument("--entities", default=None,
                   help="parquet path of the entity registry "
                        "(label, uri, kind); default: built-in demo "
                        "registry")
    return p.parse_args(argv)


def run(spark: SparkSession, argv: list[str]) -> dict:
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.operators.webfilter import latest_fetch
    from ferenda_spark.pipeline import run_pipeline
    from ferenda_spark.sources.warc import (html_lang_col,
                                            pages_from_warc, read_warc)

    args = _parse_args(argv)

    # the error census observes the SAME pass that builds pages — the
    # archive is decompressed and parsed once, nothing is cached raw
    obs = Observation("warc_errors")
    records = read_warc(spark, args.warc_dir).observe(
        obs, F.coalesce(F.sum(F.col("error").isNotNull().cast("long")),
                        F.lit(0)).alias("n_errors"))
    fetched = latest_fetch(pages_from_warc(records))
    pages = fetched.select(
        F.col("canonical_url").alias("url"), "warc_ts", "html")
    pages = pages.withColumn(
        "lang", F.lit(args.lang) if args.lang is not None
        else html_lang_col(F.col("html")))
    # the narrow post-dedup projection IS worth caching: the count
    # below and run_pipeline's pending anti-join both consume it
    pages = pages.persist()
    n_pages = pages.count()
    n_errors = int(obs.get["n_errors"])

    if args.entities is not None:
        entities = spark.read.parquet(args.entities)
    else:
        from ferenda_spark.fixtures.pages import entities_df
        entities = entities_df(spark)

    store = GraphStore(spark, args.store_dir)
    # the extraction configuration is part of the resume identity: a
    # rerun with a corrected regex/lang reprocesses everything and
    # retires the old subgraph, instead of silently no-op'ing
    stats = run_pipeline(
        spark, pages, entities, store,
        doc_url_regex=args.doc_url_regex,
        config_salt="%s|%s" % (args.doc_url_regex, args.lang or ""))
    pages.unpersist()
    # stats carries "pages" = pipeline-processed pages (0 on a resumed
    # no-op run); parsed_pages = what the archive yielded this run
    out = {"warc_error_rows": n_errors, "parsed_pages": n_pages, **stats}
    print("INGEST_STATS " + " ".join(f"{k}={v}" for k, v in out.items()))
    if n_pages == 0:
        raise SystemExit("ingest_warc: zero pages parsed from %s"
                         % args.warc_dir)
    return out


if __name__ == "__main__":
    spark = SparkSession.builder.getOrCreate()
    run(spark, sys.argv[1:])
