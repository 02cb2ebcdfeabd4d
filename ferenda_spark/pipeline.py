"""End-to-end KG-construction pipeline.

``run_pipeline`` — the committing path — runs:

  pages (url, warc_ts, html, lang)
    → pending_pages: input_hash, one version per url, and
      the resume anti-join against current             operators/graph.py
    → extract (Arrow UDF, publisher linking folded in,
      input_hash passed through)                       operators/extract.py
    → page_triples: (url, input_hash, triples)         operators/fused.py
      — one html-free row per page, the run's only
        persisted frame
    → edge append: its explode, lineage (src_url, src_hash) carried
      from the page row
    → node append: nodes_from_triples over those edges, grouped with
      their lineage
    → provenance append: one row per page,
      rows_out = size(triples)
    → current merge (publishes the commit, last): one row
      per url, naming the version reads and resume see operators/graph.py
    → upkeep: compact each table that has passed its snapshot
      bound, vacuum every table                        operators/graph.py

``build_triples`` returns the triple DataFrame alone: the explode of
the same per-page triple array (fused_triples), so both build triples
one way.

The reference equivalent is parse → distill → relate
(/root/reference/ferenda/documentrepository.py:1193-1216, 1885-1995);
here every stage is a DataFrame transform, the only control crossings
are Spark's own shuffles, and resume is the pending_pages anti-join
against ``current``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.operators.extract import DOC_URL_RE, extract
from ferenda_spark.operators.fused import fused_triples, page_triples
from ferenda_spark.operators.graph import (
    GraphStore,
    nodes_from_triples,
    pending_pages,
)


def _extract_linked(pages: DataFrame, entities: DataFrame,
                    doc_url_regex: str | None) -> DataFrame:
    """extract with the publisher entities folded into the parse."""
    labels = [(r["label"], r["uri"])
              for r in entities.filter(F.col("kind") == "publisher")
              .select("label", "uri").collect()]
    regex = DOC_URL_RE if doc_url_regex is None else doc_url_regex
    return extract(pages, doc_url_regex=regex, entity_labels=labels)


def build_triples(pages: DataFrame, entities: DataFrame,
                  doc_url_regex: str | None = None) -> DataFrame:
    """pages → canonical triple DataFrame (the distilled graph).

    One Python extract stage with publisher linking folded in, one
    wide Column expression, one explode (operators/fused.py): no
    persist, no joins, no shuffles. That Column (fused.triple_array)
    is built once per JVM and reused by every later call, so a call's
    Python-side cost is the extract and the plan, not thousands of
    py4j round trips.

    The output has no duplicate rows by construction: citations are
    distinct within a fragment, and every other triple is minted once
    per document or section (the extract stage dedups section
    ordinals per document).
    """
    return fused_triples(_extract_linked(pages, entities, doc_url_regex))


def run_pipeline(spark: SparkSession, pages: DataFrame, entities: DataFrame,
                 store: GraphStore, doc_url_regex: str | None = None,
                 config_salt: str = "") -> dict:
    """Incremental run: process only pending pages, commit snapshots.

    Returns run stats. Rerunning on the same input is a no-op (the
    resume contract: second run processes only uncommitted urls and
    the final edge table equals the single-run result).
    ``pending_pages`` reduces the batch to one version per url, its
    greatest ``input_hash``, so a batch holding a url twice commits
    one version of it.

    One frame is cached: page_triples over the pending pages,
    ``(url, input_hash, triples)`` — one row per page, no ``html``.
    The edge, node, provenance and current writes all read it, so the
    Python parse and the triple expression run once per page; the
    edge append is the action that fills it. Lineage is carried, never
    joined back: each edge is exploded from its page's row and takes
    that row's url and hash as (src_url, src_hash), the node rows
    group by the same pair, and each provenance row is its page's row
    with ``rows_out = size(triples)``.

    Commit protocol: the run is one ``GraphStore.commit`` with a
    fresh commit id. Its edge, node and provenance appends record the
    id, and its last write, ``GraphStore.merge_current``, publishes
    it: that rewrite of the small ``current`` table, under its commit
    lock, makes this commit's version of each url the one
    ``GraphStore.read_current`` shows and ``pending_pages`` resumes
    against. The writes are not atomic, and every crash point before
    the merge is a replay: the appended rows carry a commit id that
    ``current`` never names, so no read sees them, and the pages are
    still pending, so a rerun recomputes them deterministically under
    a new commit id. Provenance therefore holds a row for every
    committed page version, plus the rows of dead attempts. A changed
    page (new input_hash) reprocesses AND retires its previous
    version's subgraph in the same merge.

    The page and triple counts come from an Observation on the
    provenance append, not from a pass of their own.

    After the commit, ``GraphStore.upkeep`` compacts each table whose
    live snapshot count has passed ``COMPACT_AFTER`` and vacuums every
    table, so reads and later commits scan a bounded number of
    snapshots however many commits built the store.

    ``config_salt`` (see with_input_hash): fingerprint of the run's
    extraction configuration — a rerun with a changed configuration
    reprocesses everything instead of silently skipping.
    """
    import time as _time

    t0 = _time.time()
    todo = pending_pages(pages, store, config_salt)
    # a no-op run stops here, before any Python worker starts
    if todo.isEmpty():
        return {"pages": 0, "triples": 0, "skipped": True}

    counts = Observation("commit")
    with store.commit() as commit_id:
        cached = page_triples(
            _extract_linked(todo, entities, doc_url_regex)).persist()
        try:
            edges = cached.select(
                F.col("url").alias("src_url"),
                F.explode("triples").alias("t"),
                F.col("input_hash").alias("src_hash"),
            ).select("src_url", "t.*", "src_hash")
            store.append(edges, "edge")
            nodes = nodes_from_triples(edges,
                                       lineage=("src_url", "src_hash"))
            store.append(nodes.select("src_url", "uri", "rdf_type",
                                      "label", "props", "src_hash"),
                         "node")

            duration = _time.time() - t0
            # one status row per page, with the commit that made it and
            # its physical partition (per-partition metrics); rebalanced,
            # so AQE sizes its files, not one per partition of the batch
            prov = cached.select(
                "url",
                F.lit("materialize").alias("stage"),
                F.current_timestamp().alias("attempt_ts"),
                F.lit(True).alias("success"),
                F.lit(duration).alias("duration_s"),
                F.size("triples").cast("long").alias("rows_out"),
                F.lit(None).cast("string").alias("warnings"),
                F.lit(None).cast("string").alias("error"),
                "input_hash",
                F.lit(commit_id).alias("commit_id"),
                F.spark_partition_id().alias("partition_id"),
            )
            store.append(prov.observe(
                counts, F.count(F.lit(1)).alias("pages"),
                F.sum("rows_out").alias("triples")).hint("rebalance"),
                "provenance")
            store.merge_current(cached, commit_id)
        finally:
            cached.unpersist()
    store.upkeep()
    return {"pages": counts.get["pages"], "triples": counts.get["triples"],
            "skipped": False, "duration_s": round(duration, 3)}
