"""ferenda_spark — a PySpark-native knowledge-graph construction engine.

A brand-new implementation (NOT a port) of the query / data-processing
capabilities of the reference framework maxreimerson/ferenda: document
text extraction, citation/mention recognition, entity linking,
URI-minting canonicalization, and graph materialization with lineage
and resumability — re-expressed as a pyspark.sql DataFrame +
pandas/Arrow-UDF DAG over a table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)`` producing graph tables
``(node, edge, provenance)``.

Design notes
------------
* Everything is declarative DataFrame / SQL so Catalyst handles
  predicate pushdown, column pruning, join planning and AQE.
* Python only runs inside Arrow-batched ``mapInPandas`` /
  ``pandas_udf`` stages (HTML parse, document-structure parsing);
  never per-row Python at the API layer.  The citation grammar and its
  stateful short-form fold are Column expressions.
* The build path is one Python parse (``operators.extract``, publisher
  linking folded in), one per-page Column expression that mints every
  triple of a page, citation targets included
  (``operators.fused.page_triples``), and one commit pass that derives
  the edge, node and provenance appends from that per-page frame
  (``pipeline.run_pipeline``).  It has no join on citation targets.
"""

__version__ = "0.1.0"

from ferenda_spark.session import get_spark  # noqa: F401
