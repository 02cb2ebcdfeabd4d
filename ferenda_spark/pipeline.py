"""End-to-end KG-construction pipeline.

pages (url, warc_ts, html, text, lang)
  → extract (Arrow UDF)                        operators/extract.py
  → doc metadata + section triples (columns)   operators/metadata.py
  → citation mentions (columns)                operators/mention.py
  → entity linking (broadcast + fuzzy)         operators/linker.py
  → canonical triples
  → materialize node/edge/provenance           operators/graph.py

The reference equivalent is parse → distill → relate
(/root/reference/ferenda/documentrepository.py:1193-1216, 1885-1995);
here every stage is a DataFrame transform, the only control crossings
are Spark's own shuffles, and resume is the pending_pages anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.graph import (
    GraphStore,
    edges_from_triples,
    nodes_from_triples,
    pending_pages,
    provenance_rows,
    with_input_hash,
)
from ferenda_spark.operators.linker import publisher_triples
from ferenda_spark.operators.mention import citation_triples
from ferenda_spark.operators.metadata import doc_metadata_triples, section_triples


def build_triples(pages: DataFrame, entities: DataFrame,
                  dedup: bool = False, fused: bool = True,
                  doc_url_regex: str | None = None) -> DataFrame:
    """pages → canonical triple DataFrame (the distilled graph).

    ``fused=True`` (default) runs the single-pass execution
    (operators/fused.py): one Python extract stage with publisher
    linking folded in, one wide Column expression, one explode — no
    persist barrier, no joins, no shuffles. That Column
    (fused.triple_array) is built once per JVM and reused by every
    later call, so a call's Python-side cost is the extract and the
    plan, not thousands of py4j round trips. ``fused=False`` runs the
    modular operator DAG (the specification path); both emit the
    identical triple set (verified against the same oracles) up to
    one documented boundary: the modular linker caps distinct fuzzy
    misses at ``max_fuzzy_misses`` while the fused per-row resolver
    cannot (no global miss view) — see
    extract._make_publisher_resolver's parity note.

    ``dedup=False`` skips a global dropDuplicates: every branch is
    duplicate-free by construction (citation_triples dedups within
    documents; metadata/section triples are unique per (subj, pred) by
    the extract stage's per-doc ordinal dedup), and at 10^12-row scale
    a full-output 6-column shuffle would be the single most expensive
    stage of the job. Set True when unioning untrusted extra sources.
    """
    from ferenda_spark.operators.extract import DOC_URL_RE
    regex = doc_url_regex if doc_url_regex is not None else DOC_URL_RE
    if fused:
        from ferenda_spark.operators.fused import fused_triples
        labels = [(r["label"], r["uri"])
                  for r in entities.filter(F.col("kind") == "publisher")
                  .select("label", "uri").collect()]
        ext = extract(pages, doc_url_regex=regex, entity_labels=labels)
        triples = fused_triples(ext)
        return triples.dropDuplicates() if dedup else triples
    from ferenda_spark.grammar.citations import (
        stateful_reference_triples,
        with_aliases,
    )
    # One Python parse per page feeds four downstream column-only
    # plans — persist the (small, html-free) extract output so the
    # Arrow UDF runs once, not four times. The alias map is projected
    # before the persist, so the citation and stateful branches share
    # one evaluation per page.
    extracted = with_aliases(extract(pages, doc_url_regex=regex)).persist()
    triples = (
        doc_metadata_triples(extracted)
        .unionByName(section_triples(extracted))
        .unionByName(citation_triples(extracted))
        .unionByName(stateful_reference_triples(extracted))
        .unionByName(publisher_triples(extracted, entities))
        # Malformed pages (missing header keys, unparseable dates)
        # must degrade to fewer triples, never to null-object rows.
        .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull()
                & (F.col("obj") != ""))
    )
    return triples.dropDuplicates() if dedup else triples


def run_pipeline(spark: SparkSession, pages: DataFrame, entities: DataFrame,
                 store: GraphStore, stage: str = "materialize",
                 doc_url_regex: str | None = None,
                 config_salt: str = "") -> dict:
    """Incremental run: process only pending pages, commit snapshots.

    Returns run stats. Rerunning on the same input is a no-op (the
    resume contract: second run processes only uncommitted urls and
    the final edge table equals the single-run result).

    Commit protocol: edge and node rows are tagged with their page's
    (src_url, src_hash) lineage, and the provenance SUCCESS row —
    appended LAST — is the commit record that makes them visible
    through ``GraphStore.read_current``. The three appends are not
    atomic; a crash between them leaves orphan edge/node snapshots
    that ``read_current`` never surfaces and a later replay
    recomputes deterministically. A changed page (new input_hash)
    reprocesses AND retires its previous version's subgraph in the
    same view.

    ``config_salt`` (see with_input_hash): fingerprint of the run's
    extraction configuration — a rerun with a changed configuration
    reprocesses everything instead of silently skipping.
    """
    import time as _time

    t0 = _time.time()
    todo = pending_pages(pages, store, stage, config_salt).persist()
    n_todo = todo.count()
    if n_todo == 0:
        todo.unpersist()
        return {"pages": 0, "triples": 0, "skipped": True}

    triples = build_triples(todo.drop("input_hash"), entities,
                            doc_url_regex=doc_url_regex)
    # every triple's subject derives from its page url (doc uri or
    # #fragment of it), so src_url is a pure column and src_hash is
    # one batch-local equi-join on url
    src = todo.select(F.col("url").alias("src_url"),
                      F.col("input_hash").alias("src_hash"))
    edges = (edges_from_triples(triples)
             .withColumn("src_url", F.regexp_replace("subj", r"#.*$", ""))
             .join(src, "src_url")
             .persist())
    n_triples = edges.count()

    store.append(edges, "edge")
    nodes = (nodes_from_triples(edges)
             .withColumn("src_url", F.regexp_replace("uri", r"#.*$", ""))
             .join(src, "src_url"))
    store.append(nodes, "node")

    # per-document metrics: triples emitted per url (fragment subjects
    # roll up to their page), so the lineage row carries the real
    # per-doc output size — documententry.py's per-doc status analog
    per_url = (edges
               .select(F.col("src_url").alias("url"))
               .groupBy("url")
               .agg(F.count(F.lit(1)).alias("_rows_out")))
    duration = _time.time() - t0
    prov = provenance_rows(todo.join(per_url, "url", "left"), stage,
                           rows_out_col=F.coalesce("_rows_out", F.lit(0)),
                           duration_s=duration)
    store.append(prov.drop("_rows_out"), "provenance")
    todo.unpersist()
    edges.unpersist()
    return {"pages": n_todo, "triples": n_triples, "skipped": False,
            "duration_s": round(duration, 3)}
