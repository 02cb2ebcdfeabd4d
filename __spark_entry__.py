"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship KG-construction run on sf0.001.
``registry()``     — every query, registered once as name → (builder,
                     oracle SQL).  The builder maps (spark, sf_dir) to
                     a DataFrame; the oracle is ANSI SQL for DuckDB
                     over the same parquet views.  The KG pipeline
                     itself is oracled by deriving the pages table
                     deterministically from `documents` (pure
                     arithmetic on doc_id), so DuckDB can reconstruct
                     the expected triples independently.
``queries()``      — the GATE_ORDER builders, which the driver
``oracle_sql()``     value-checks against their oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, ShortType

from ferenda_spark.fixtures.pages import CATEGORIES, MONTHS, PUBLISHERS, BASE
from ferenda_spark.fixtures.pages import entities_df, publisher_uri
from ferenda_spark.operators import analytics, dedup, multimodal, similarity
from ferenda_spark.operators import textstats
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.graph import edges_from_triples, nodes_from_triples
from ferenda_spark.operators.linker import link_labels
from ferenda_spark.pipeline import build_triples
from ferenda_spark.sources.testdata import (
    DOC_PAGE_URL_RE,
    load_table,
    pages_from_documents,
)

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _longify(df: DataFrame) -> DataFrame:
    """Cast int/short columns to long so Spark and DuckDB schemas agree
    (DuckDB count/len/row_number are all BIGINT)."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (IntegerType, ShortType)):
            cols.append(F.col(f.name).cast("long").alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_from_documents(_docs(spark, sf_dir))


def _kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The public triple build (pipeline.build_triples) as edge rows."""
    return edges_from_triples(build_triples(
        _pages(spark, sf_dir), entities_df(spark),
        doc_url_regex=DOC_PAGE_URL_RE))


_COPY_OFFSET = 10_000_000

# fixed merge table for the bpe_encode_docs gate: the QUERY runs the
# production Arrow encoder under these ranked merges; the ORACLE
# replays them as a chain of literal replaces over the
# chr(31)-delimited symbol string — one source list, two independent
# engines
_BPE_FIXED_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
                     ("an", "d"), ("e", "r"), ("o", "n"), ("in", "g")]

# tiny literal TBox for the kg_rdfs_entailed gate (query + oracle):
# two subclass chains, a three-deep subproperty chain, domain/range
# reachable only through the chain; es/zh lang classes deliberately
# lack a superclass
_RDFS_SCHEMA = [
    ("c:lang_en", "rdfs:subClassOf", "c:text"),
    ("c:lang_de", "rdfs:subClassOf", "c:text"),
    ("c:lang_fr", "rdfs:subClassOf", "c:text"),
    ("c:text", "rdfs:subClassOf", "c:thing"),
    ("c:citing", "rdfs:subClassOf", "c:doc"),
    ("c:cited", "rdfs:subClassOf", "c:doc"),
    ("c:doc", "rdfs:subClassOf", "c:thing"),
    ("p:cites", "rdfs:subPropertyOf", "p:references"),
    ("p:references", "rdfs:subPropertyOf", "p:links"),
    ("p:haslang", "rdfs:subPropertyOf", "p:hasattr"),
    ("p:references", "rdfs:domain", "c:citing"),
    ("p:hasattr", "rdfs:domain", "c:doc"),
    ("p:links", "rdfs:range", "c:cited"),
]


def _dup_corpus(spark: SparkSession, sf_dir: str, cutoff: int = 100,
                mutate: bool = False) -> DataFrame:
    """documents ∪ copies (doc_id + _COPY_OFFSET) — exact copies, or
    near-copies with a 3-word prefix when ``mutate``.  The offset is
    far above any real doc_id at any scale factor, so copy ids can
    never collide with original ids (a latent divergence when the
    offset was 10000 and a gate filtered on doc_id % 10000)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < cutoff).select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        (F.concat(F.lit("near duplicate copy "), F.col("text"))
         if mutate else F.col("text")).alias("text"))
    return docs.unionByName(copies)


# ---------------------------------------------------------------------------
# SQL fragments for the oracles
# ---------------------------------------------------------------------------

def _sql_list(vals: list[str]) -> str:
    inner = ", ".join("'" + v.replace("'", "''") + "'" for v in vals)
    return f"[{inner}]"


_PUB_LIST = _sql_list([p[0] for p in PUBLISHERS])
_CAT_LIST = _sql_list(CATEGORIES)
_MONTH_LIST = _sql_list(MONTHS)

_NORM = ("trim(regexp_replace(replace({c}, chr(160), ' '), "
         "'[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))")

# derived per-doc feature CTE — mirrors sources/testdata.doc_features
_F_CTE = f"""
f AS (
  SELECT
    doc_id,
    lang,
    'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR) AS url,
    'Document ' || CAST(doc_id AS VARCHAR) AS title,
    ({_PUB_LIST})[CAST(doc_id % 5 AS INT) + 1] AS publisher,
    ({_CAT_LIST})[CAST(doc_id % 5 AS INT) + 1] AS category,
    ({_MONTH_LIST})[CAST(doc_id % 12 AS INT) + 1] AS month,
    CAST(1990 + doc_id % 30 AS VARCHAR) AS year,
    lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') AS month_num,
    CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 97 + 1 AS VARCHAR) END AS updates,
    CAST(CASE WHEN doc_id % 10 < 6 THEN doc_id % 7 + 1
              ELSE doc_id * 7 % 499 + 1 END AS VARCHAR) AS cite_a,
    CAST(doc_id * 13 % 499 + 1 AS VARCHAR) AS cite_b,
    CAST(doc_id % 5 + 1 AS VARCHAR) || '.' || CAST(doc_id % 3 + 1 AS VARCHAR) AS cite_sec,
    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 250 + 1 AS VARCHAR) END AS alias_target,
    CASE WHEN doc_id % 6 = 0 THEN CAST(doc_id % 79 + 1 AS VARCHAR) END AS bcp_num,
    CASE WHEN doc_id % 7 = 1 THEN CAST(doc_id % 50 + 1 AS VARCHAR) END AS std_num,
    CASE WHEN doc_id % 5 = 1 THEN 'draft-ietf-wg' || CAST(doc_id % 20 AS VARCHAR)
         || '-proto-' || lpad(CAST(doc_id % 9 AS VARCHAR), 2, '0') END AS draft_slug,
    CASE WHEN doc_id % 5 = 1 THEN 'draft-ietf-wg' || CAST(doc_id % 20 AS VARCHAR)
         || '-proto' END AS draft_canon,
    CASE WHEN doc_id % 8 = 2 THEN '10.1000/jproto.' || CAST(doc_id AS VARCHAR) END AS doi_id,
    CASE WHEN doc_id % 9 = 3 THEN CAST(8000 + doc_id % 600 AS VARCHAR) END AS iso_num,
    CASE WHEN doc_id % 9 = 3 THEN CAST(1996 + doc_id % 25 AS VARCHAR) END AS iso_year,
    CASE WHEN doc_id % 10 = 4 THEN CAST(doc_id % 60 + 40 AS VARCHAR) END AS eu_year2,
    CASE WHEN doc_id % 10 = 4 THEN CAST(
         CASE WHEN doc_id % 60 + 40 >= 50 THEN 1900 + doc_id % 60 + 40
              ELSE 2000 + doc_id % 60 + 40 END AS VARCHAR) END AS eu_year4,
    CASE WHEN doc_id % 10 = 4 THEN CAST(doc_id % 200 + 1 AS VARCHAR) END AS eu_num,
    CASE WHEN doc_id % 11 = 5 THEN CAST(doc_id % 400 + 1 AS VARCHAR) END AS case_num,
    CASE WHEN doc_id % 11 = 5 THEN lpad(CAST(doc_id % 20 AS VARCHAR), 2, '0') END AS case_year2,
    CASE WHEN doc_id % 11 = 5 THEN CAST(2000 + doc_id % 20 AS VARCHAR) END AS case_year4,
    CASE WHEN doc_id % 12 = 6 THEN lpad(CAST(doc_id % 90 + 1 AS VARCHAR), 4, '0') END AS list_a,
    CASE WHEN doc_id % 12 = 6 THEN lpad(CAST(doc_id % 90 + 101 AS VARCHAR), 4, '0') END AS list_b,
    CASE WHEN doc_id % 12 = 6 THEN lpad(CAST(doc_id % 90 + 201 AS VARCHAR), 4, '0') END AS list_c,
    CASE WHEN doc_id % 12 = 6 THEN CAST(doc_id % 90 + 1 AS VARCHAR) END AS list_a_n,
    CASE WHEN doc_id % 12 = 6 THEN CAST(doc_id % 90 + 101 AS VARCHAR) END AS list_b_n,
    CASE WHEN doc_id % 12 = 6 THEN CAST(doc_id % 90 + 201 AS VARCHAR) END AS list_c_n,
    CASE WHEN doc_id % 13 = 7 THEN CAST(doc_id % 6 + 1 AS VARCHAR) || '.'
         || CAST(doc_id % 2 + 1 AS VARCHAR) END AS that_sec,
    CASE WHEN doc_id % 15 = 9 THEN CAST(doc_id % 9 + 1 AS VARCHAR) END AS art_a1,
    CASE WHEN doc_id % 15 = 9 THEN CAST(doc_id % 9 + 2 + doc_id % 3 AS VARCHAR) END AS art_a2,
    CASE WHEN doc_id % 15 = 9 THEN CAST(1984 + doc_id % 40 AS VARCHAR) END AS art_year4,
    CASE WHEN doc_id % 15 = 9 THEN CAST(doc_id % 120 + 1 AS VARCHAR) END AS art_num,
    CASE WHEN doc_id % 14 = 10 THEN CAST(doc_id % 5 + 1 AS VARCHAR) END AS ns_i1,
    CASE WHEN doc_id % 14 = 10 THEN CAST(doc_id % 5 + 2 + doc_id % 2 AS VARCHAR) END AS ns_i2,
    CASE WHEN doc_id % 14 = 10 THEN CAST(doc_id % 8 + 1 AS VARCHAR) END AS ns_sec,
    CASE WHEN doc_id % 14 = 10 THEN CAST(doc_id % 4 + 1 AS VARCHAR) END AS ns_chap,
    CASE WHEN doc_id % 14 = 10 THEN CAST(doc_id % 300 + 1 AS VARCHAR) END AS ns_doc,
    CASE WHEN doc_id % 3 = 2 THEN 'https://www.example.com/spec/'
         || CAST(doc_id AS VARCHAR) END AS ext_url,
    -- expected resolution of the stateful short-form: the most recent
    -- document-level citation before the sentence, in document order
    -- (rfc_list last element ≻ alias mention in S1.1 ≻ sectioned
    -- [RFC cite_b])
    CASE WHEN doc_id % 13 = 7 THEN CAST(
         CASE WHEN doc_id % 12 = 6 THEN doc_id % 90 + 201
              WHEN doc_id % 4 = 0 THEN doc_id % 250 + 1
              ELSE doc_id * 13 % 499 + 1 END AS VARCHAR) END AS that_target,
    {_NORM.format(c='text')} AS body
  FROM documents
)
"""

_SEC1 = ("(CASE WHEN alias_target IS NOT NULL THEN "
         "'In this document, [DGRAM] refers to [RFC ' || alias_target || ']. '"
         " ELSE '' END || body)")
_SEC11 = ("('See [RFC ' || cite_a || '] and section ' || cite_sec || "
          "' of [RFC ' || cite_b || '].' || "
          "CASE WHEN alias_target IS NOT NULL THEN "
          "' As defined in [DGRAM] above.' ELSE '' END)")

_SEC2 = """('Normative and informative references.'
  || CASE WHEN bcp_num IS NOT NULL THEN ' This practice is documented in BCP ' || bcp_num || '.' ELSE '' END
  || CASE WHEN std_num IS NOT NULL THEN ' See also STD ' || std_num || '.' ELSE '' END
  || CASE WHEN draft_slug IS NOT NULL THEN ' A newer revision appears in ' || draft_slug || '.' ELSE '' END
  || CASE WHEN doi_id IS NOT NULL THEN ' Published at doi:' || doi_id || '.' ELSE '' END
  || CASE WHEN iso_num IS NOT NULL THEN ' Timestamps follow ISO ' || iso_num || ':' || iso_year || '.' ELSE '' END
  || CASE WHEN eu_num IS NOT NULL THEN ' Processing is governed by Directive ' || eu_year2 || '/' || eu_num || '/EC.' ELSE '' END
  || CASE WHEN case_num IS NOT NULL THEN ' Interpreted in Case C-' || case_num || '/' || case_year2 || '.' ELSE '' END
  || CASE WHEN list_a IS NOT NULL THEN ' It consolidates RFCs ' || list_a || ', ' || list_b || ' and ' || list_c || '.' ELSE '' END
  || CASE WHEN art_num IS NOT NULL THEN ' Compliance follows Articles ' || art_a1 || ' and ' || art_a2 || ' of Directive ' || art_year4 || '/' || art_num || '/EC.' ELSE '' END
  || CASE WHEN ns_doc IS NOT NULL THEN ' Implementations follow Items ' || ns_i1 || ' and ' || ns_i2 || ' of Section ' || ns_sec || ' of Chapter ' || ns_chap || ' of RFC ' || ns_doc || '.' ELSE '' END
  || CASE WHEN ext_url IS NOT NULL THEN ' The registry lives at ' || ext_url || '.' ELSE '' END
  || CASE WHEN that_sec IS NOT NULL THEN ' Section ' || that_sec || ' of that document applies.' ELSE '' END)"""

_EXPECTED_TEXT = f"""(
  publisher || ' Request for Comments: ' || CAST(doc_id AS VARCHAR)
  || ' Category: ' || category
  || CASE WHEN updates IS NOT NULL THEN ' Updates: ' || updates ELSE '' END
  || ' ' || month || ' ' || year || ' ' || title
  || ' 1. Introduction ' || {_SEC1}
  || ' 1.1. Details ' || {_SEC11}
  || ' 2. References ' || {_SEC2}
)"""

_CAT_TYPE = ("CASE WHEN category IN ('Standards Track', "
             "'Best Current Practice') THEN 'bibo:Standard' "
             "ELSE 'bibo:Report' END")
_CAT_URI = ("'https://example.org/res/category/' || "
            "replace(lower(category), ' ', '-')")
_PUB_URI = ("'https://example.org/res/org/' || "
            "replace(lower(publisher), ' ', '-')")
_RFC = "'https://example.org/res/rfc/'"

# golden triple CTE: every (subj,pred,obj,...) the pipeline must emit
#: SHACL-lite fixture shapes (shape_id, target_class, path, min_count,
#: max_count, node_kind, datatype) — shared verbatim between the Spark
#: gate and its oracle so the two can never diverge.  std-title and
#: std-issued are conforming controls; the other four each trip one
#: constraint kind deterministically.
SHACL_SHAPES = [
    ("std-title", "bibo:Standard", "dcterms:title", 1, 1,
     "Literal", None),
    ("std-abstract", "bibo:Standard", "dcterms:abstract", 1, None,
     None, None),
    ("part-refs", "bibo:DocumentPart", "dcterms:references", None, 1,
     "IRI", None),
    ("std-issued", "bibo:Standard", "dcterms:issued", 1, 1,
     None, "xsd:gYearMonth"),
    ("rep-issued-iri", "bibo:Report", "dcterms:issued", None, None,
     "IRI", None),
    ("part-chapter-dt", "bibo:DocumentPart", "bibo:chapter", 1, 1,
     "Literal", "xsd:string"),
]


#: Deequ-style constraint fixture over the documents table — shared
#: between the Spark gate and its oracle.
DOC_CHECKS = [
    ("id-unique", "doc_id", "unique", 0.0),
    ("text-complete", "text", "complete", 1.0),
    ("lang-complete", "lang", "complete", 1.0),
    ("lang-diverse", "lang", "distinct_at_least", 2.0),
    ("chars-positive", "n_chars", "min_at_least", 1.0),
    ("chars-bounded", "n_chars", "max_at_most", 100000.0),
    ("source-nonnumeric-bound", "source", "min_at_least", 0.0),
]


def _shacl_shapes_values() -> str:
    """The SHACL_SHAPES fixture as a DuckDB VALUES list."""
    def v(x, typ):
        if x is None:
            return f"CAST(NULL AS {typ})"
        return str(x) if typ == "BIGINT" else "'" + x + "'"

    rows = ", ".join(
        "({})".format(", ".join([
            v(s[0], "VARCHAR"), v(s[1], "VARCHAR"), v(s[2], "VARCHAR"),
            v(s[3], "BIGINT"), v(s[4], "BIGINT"),
            v(s[5], "VARCHAR"), v(s[6], "VARCHAR")]))
        for s in SHACL_SHAPES)
    return (f"(VALUES {rows}) AS s(shape_id, target_class, path, "
            "min_count, max_count, node_kind, datatype)")


_TRIPLES_CTE = f"""
golden AS (
  SELECT DISTINCT * FROM (
    SELECT url AS subj, 'rdf:type' AS pred, {_CAT_TYPE} AS obj,
           FALSE AS obj_is_literal, CAST(NULL AS VARCHAR) AS obj_datatype,
           CAST(NULL AS VARCHAR) AS obj_lang FROM f
    UNION ALL SELECT url, 'dcterms:title', title, TRUE, NULL, lang FROM f
    UNION ALL SELECT url, 'dcterms:identifier',
           'RFC ' || CAST(doc_id AS VARCHAR), TRUE, NULL, NULL FROM f
    UNION ALL SELECT url, 'dcterms:issued', year || '-' || month_num,
           TRUE, 'xsd:gYearMonth', NULL FROM f
    UNION ALL SELECT url, 'dcterms:subject', {_CAT_URI}, FALSE, NULL, NULL FROM f
    UNION ALL SELECT url, 'dcterms:publisher', {_PUB_URI}, FALSE, NULL, NULL FROM f
    UNION ALL SELECT url, 'rfc:updates', {_RFC} || updates, FALSE, NULL, NULL
           FROM f WHERE updates IS NOT NULL
    UNION ALL SELECT url || '#S1', 'rdf:type', 'bibo:DocumentPart',
           FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1', 'bibo:chapter', '1', TRUE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1', 'dcterms:isPartOf', url, FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1', 'dcterms:title', 'Introduction',
           TRUE, NULL, lang FROM f
    UNION ALL SELECT url || '#S1.1', 'rdf:type', 'bibo:DocumentPart',
           FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1.1', 'bibo:chapter', '1.1', TRUE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1.1', 'dcterms:isPartOf', url || '#S1',
           FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1.1', 'dcterms:title', 'Details',
           TRUE, NULL, lang FROM f
    UNION ALL SELECT url || '#S1.1', 'dcterms:references', {_RFC} || cite_a,
           FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1.1', 'dcterms:references',
           {_RFC} || cite_b || '#S' || cite_sec, FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S1', 'dcterms:references', {_RFC} || alias_target,
           FALSE, NULL, NULL FROM f WHERE alias_target IS NOT NULL
    UNION ALL SELECT url || '#S1.1', 'dcterms:references', {_RFC} || alias_target,
           FALSE, NULL, NULL FROM f WHERE alias_target IS NOT NULL
    UNION ALL SELECT url || '#S2', 'rdf:type', 'bibo:DocumentPart',
           FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S2', 'bibo:chapter', '2', TRUE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S2', 'dcterms:isPartOf', url, FALSE, NULL, NULL FROM f
    UNION ALL SELECT url || '#S2', 'dcterms:title', 'References',
           TRUE, NULL, lang FROM f
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/bcp/' || bcp_num, FALSE, NULL, NULL
           FROM f WHERE bcp_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/std/' || std_num, FALSE, NULL, NULL
           FROM f WHERE std_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/draft/' || draft_canon, FALSE, NULL, NULL
           FROM f WHERE draft_slug IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://doi.org/' || doi_id, FALSE, NULL, NULL
           FROM f WHERE doi_id IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/iso/' || iso_num, FALSE, NULL, NULL
           FROM f WHERE iso_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/eu/dir/' || eu_year4 || '/' || eu_num,
           FALSE, NULL, NULL FROM f WHERE eu_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/ecj/C-' || case_num || '-' || case_year4,
           FALSE, NULL, NULL FROM f WHERE case_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references', {_RFC} || list_a_n,
           FALSE, NULL, NULL FROM f WHERE list_a IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references', {_RFC} || list_b_n,
           FALSE, NULL, NULL FROM f WHERE list_b IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references', {_RFC} || list_c_n,
           FALSE, NULL, NULL FROM f WHERE list_c IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/eu/dir/' || art_year4 || '/' || art_num
           || '#A' || art_a1, FALSE, NULL, NULL
           FROM f WHERE art_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           'https://example.org/res/eu/dir/' || art_year4 || '/' || art_num
           || '#A' || art_a2, FALSE, NULL, NULL
           FROM f WHERE art_num IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           {_RFC} || ns_doc || '#C' || ns_chap || '.S' || ns_sec
           || '.I' || ns_i1, FALSE, NULL, NULL
           FROM f WHERE ns_doc IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           {_RFC} || ns_doc || '#C' || ns_chap || '.S' || ns_sec
           || '.I' || ns_i2, FALSE, NULL, NULL
           FROM f WHERE ns_doc IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references',
           {_RFC} || that_target || '#S' || that_sec, FALSE, NULL, NULL
           FROM f WHERE that_sec IS NOT NULL
    UNION ALL SELECT url || '#S2', 'dcterms:references', ext_url,
           FALSE, NULL, NULL FROM f WHERE ext_url IS NOT NULL
  )
)
"""

_WORDS = ("list_filter(string_split_regex(trim({c}), '\\s+'), "
          "w -> w <> '')")

def _sh_expr(words: str, n: int = 3) -> str:
    grams = " || ' ' || ".join(f"{words}[i+{j}]" if j else f"{words}[i]"
                               for j in range(n))
    return (f"CASE WHEN len({words}) >= {n} THEN "
            f"list_distinct([{grams} "
            f"for i in generate_series(1, len({words}) - {n - 1})]) "
            f"ELSE [] END")

# pairwise shingle Jaccard over e(id, shingle): jac(id_a, id_b, jaccard)
_JACCARD_SCORES = """
sz AS (SELECT id, count(*) AS sz FROM e GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / (sa.sz + sb.sz - n_inter), 4) AS jaccard
  FROM inter
  JOIN sz sa ON sa.id = inter.id_a
  JOIN sz sb ON sb.id = inter.id_b)
"""

_DOT = ("list_reduce(list_prepend(0.0, [{a}[i] * {b}[i] "
        "for i in generate_series(1, 64)]), (x, y) -> x + y)")


def _band_bucket_sql(v: str, band: int, planes_per_band: int = 6) -> str:
    """Mirror of similarity.band_bucket_udf for one band: sign bits
    of planes band*r+0 .. band*r+r-1, on milli-unit-quantized
    components (floor(x*1000) as BIGINT) so the dot is exact integer
    arithmetic — order-independent, hence identical between DuckDB's
    sequential fold here and the numpy matmul in the UDF."""
    terms = []
    for j in range(planes_per_band):
        p = band * planes_per_band + j
        prods = (f"[CAST(floor({v}[i+1] * 1000) AS BIGINT) "
                 f"* (((i*31 + {p}*17 + 7) % 11) - 5) "
                 f"for i in generate_series(0, 63)]")
        d = f"list_reduce(list_prepend(CAST(0 AS BIGINT), {prods}), (x, y) -> x + y)"
        terms.append(f"CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _banded_cte(src: str, id_expr: str, bands: int = 4) -> str:
    """(id, v, band, bucket) rows for every band."""
    arms = " UNION ALL ".join(
        f"SELECT {id_expr} AS id, v, {b} AS band, "
        f"{_band_bucket_sql('v', b)} AS bucket FROM {src}"
        for b in range(bands))
    return arms


_COS = ("round({dot} / (sqrt({na}) * sqrt({nb})), 6)")


def _cos_sql(a: str, b: str) -> str:
    return _COS.format(
        dot=_DOT.format(a=a, b=b),
        na=_DOT.format(a=a, b=a),
        nb=_DOT.format(a=b, b=b))


# connected components of the undirected pair list cand(id_a, id_b):
# a recursive min-label closure, comp(id, comp) with comp the least id
# reachable (dedup_components, canonical_docs, sim_semantic_dedup*)
_COMPONENTS_CTE = """edges AS (SELECT id_a AS u, id_b AS v FROM cand
          UNION SELECT id_b, id_a FROM cand),
reach AS (
  SELECT u AS id, u AS r FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
comp AS (SELECT id, CAST(min(r) AS BIGINT) AS comp
         FROM reach GROUP BY id)"""

# 32-bit SimHash: per word the md5 prefix as a BIGINT (th), bit j set
# when more than half of a doc's words set it
_SIMHASH_TH = ("list_transform(" + _WORDS.format(c="text") + ", "
               "w -> CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT))")
_SIMHASH_BITS = " + ".join(
    f"CASE WHEN 2 * len(list_filter(th, h -> (h >> {j}) & 1 = 1)) "
    f"> len(th) THEN {1 << j} ELSE 0 END"
    for j in range(32))

# the simhash near-dup chain: the first 100 docs and their near copies
# → simhash → 4 banded 8-bit blocks → candidate pairs within Hamming
# distance 6 → their components (dedup_simhash_pairs, dedup_components,
# canonical_docs)
_SIMHASH_BANDED_CTE = f"""
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000000, 'near duplicate copy ' || text
  FROM documents WHERE doc_id < 100
),
t AS (SELECT doc_id AS id, {_SIMHASH_TH} AS th FROM corpus),
sigs AS (SELECT id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t),
banded AS (
  SELECT id, simhash, g.b AS band,
         (simhash >> (g.b * 8)) & 255 AS block
  FROM sigs, (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS b) g)"""
_SIMHASH_COMPONENTS_CTE = f"""{_SIMHASH_BANDED_CTE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.block = b.block AND a.id < b.id
  WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= 6),
{_COMPONENTS_CTE}"""

# banded-LSH candidate pairs over itb(id, v, band, bucket) with their
# cosine (sim_embedding_neardup, sim_semantic_dedup*)
_LSH_PAIRS_CTE = f"""pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         {_cos_sql('a.v', 'b.v')} AS cos_sim
  FROM itb a JOIN itb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)"""


def _semdedup_sql(where: str, bands: str) -> str:
    """SemDeDup over the embeddings ``where`` selects, banded by
    ``bands``: the cos ≥ 0.4 pairs, then one survivor (the least id)
    per component; ids outside every pair keep."""
    return f"""
WITH RECURSIVE it AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE {where}),
itb AS ({bands}),
{_LSH_PAIRS_CTE},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs WHERE cos_sim >= 0.4),
{_COMPONENTS_CTE}
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       CAST(coalesce(c.comp, e.vec_id) AS BIGINT) AS "group",
       coalesce(c.comp, e.vec_id) = e.vec_id AS keep
FROM (SELECT vec_id FROM embeddings WHERE {where}) e
LEFT JOIN comp c ON e.vec_id = c.id
"""


# integer PageRank over cites(src, dst), 3 iterations unrolled into
# it1..it3; every term is BIGINT floor division so the engines agree
# bit-for-bit.  The dangling term mirrors rank.py: dm = Σ r over nodes
# with no out-edges, each node's damped update adds dm // n
# (kg_pagerank, kg_host_rank).
_PR_ITER = """
it{i} AS (
  SELECT n.node,
         CAST((SELECT 15 * (1000000000000 // n) // 100 FROM nn)
              + (85 * (COALESCE(s.inc, 0) +
              (SELECT COALESCE(sum(r.r), 0) FROM it{prev} r
               WHERE r.node NOT IN (SELECT src FROM cites))
              // (SELECT n FROM nn))) // 100 AS BIGINT) AS r
  FROM prnodes n LEFT JOIN (
    SELECT c.dst AS node, CAST(sum(r.r // o.outdeg) AS BIGINT) AS inc
    FROM cites c JOIN it{prev} r ON c.src = r.node
                 JOIN outd o ON c.src = o.src
    GROUP BY c.dst) s ON s.node = n.node
)"""
_PAGERANK_CTE = """prnodes AS MATERIALIZED (
  SELECT src AS node FROM cites UNION SELECT dst FROM cites),
nn AS (SELECT count(*) AS n FROM prnodes),
outd AS (SELECT src, count(*) AS outdeg FROM cites GROUP BY src),
it0 AS (SELECT node, CAST((SELECT 1000000000000 // n FROM nn) AS BIGINT)
               AS r FROM prnodes),""" + ",".join(
    _PR_ITER.format(i=i, prev=i - 1) for i in (1, 2, 3))

# Cavnar–Trenkle language ID (langid_trained_docs, langid_classify_docs):
# the char-3-gram windows g(doc_id, lang, gram) of each normalized
# document, ...
_LANGID_GRAMS_CTE = r"""src AS (
  SELECT doc_id, lang,
         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
  FROM documents),
g AS (
  SELECT doc_id, lang, u.gram
  FROM src, unnest(list_transform(
      generate_series(1, greatest(len(s) - 2, 0)),
      i -> substr(s, CAST(i AS INT), 3))) AS u(gram))"""
# ... then each document classified against prof(lang, gram, rank): its
# top-80 grams by out-of-place distance (miss penalty 150), argmin over
# (dist, lang)
_LANGID_CLASSIFY_SQL = """dg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
dprof AS (
  SELECT doc_id, gram, drank FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY cnt DESC, gram) AS drank FROM dg)
  WHERE drank <= 80),
langs AS (SELECT DISTINCT lang FROM prof),
dist AS (
  SELECT d.doc_id, l.lang,
         CAST(sum(coalesce(abs(d.drank - p.rank), 150)) AS BIGINT)
           AS dist
  FROM dprof d CROSS JOIN langs l
  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
  GROUP BY 1, 2)
SELECT doc_id AS id, lang AS lang_pred, dist FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY dist, lang) AS rn FROM dist)
WHERE rn = 1
"""

# url_templates_docs / template_budget_docs: per doc_id one url in
# four shapes and its expected template, rebuilt arithmetically (the
# classifier never runs; the hex arm keeps the all-digits edge, {d}
# not {x}, and 'Profile' lowercases)
_TEMPLATE_URLS_CTE = """t AS (
  SELECT doc_id,
         'site' || CAST(doc_id % 10 AS VARCHAR) || '.com' AS host,
         doc_id % 4 AS m,
         lpad(lower(to_hex(doc_id)), 8, '0') AS hx
  FROM documents),
u AS (
  SELECT doc_id,
    CASE m
      WHEN 0 THEN 'https://' || host || '/product/'
                  || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'https://' || host || '/'
                  || CAST(doc_id % 5 + 2019 AS VARCHAR) || '/'
                  || CAST(doc_id % 12 + 1 AS VARCHAR) || '/post-'
                  || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://' || host || '/u/' || hx || '/Profile'
      ELSE 'https://' || host || '/search?q=term'
           || CAST(doc_id AS VARCHAR) || '&page='
           || CAST(doc_id % 7 AS VARCHAR)
    END AS url,
    CASE m
      WHEN 0 THEN host || '/product/{d}'
      WHEN 1 THEN host || '/{d}/{d}/{a}'
      WHEN 2 THEN host || '/u/'
                  || CASE WHEN regexp_matches(hx, '^[0-9]+$')
                          THEN '{d}' ELSE '{x}' END || '/profile'
      ELSE host || '/search?page,q'
    END AS template
  FROM t)"""

# the 210-node ring/bridge/chord webgraph e(src, dst) of the SCC family
# (kg_scc, kg_condensation): the reachability closure, and per node
# comp = the least id it reaches and is reached from (itself if none)
_SCC_COMP_CTE = """d AS (SELECT DISTINCT doc_id % 210 AS v FROM documents),
e AS MATERIALIZED (
  SELECT v AS src, v - (v % 10) + ((v + 1) % 10) AS dst FROM d
  UNION
  SELECT v, v - 10 FROM d WHERE v % 10 = 0 AND v >= 10
  UNION
  SELECT v, v + 10 FROM d WHERE v % 40 = 0 AND v <= 199),
reach AS MATERIALIZED (
  WITH RECURSIVE r(a, b) AS (
    SELECT src, dst FROM e
    UNION
    SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src)
  SELECT a, b FROM r),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
mutual AS (SELECT r1.a AS u, r1.b AS w FROM reach r1
           JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
comp AS MATERIALIZED (
  SELECT n.id, least(n.id, coalesce(min(m.w), n.id)) AS comp
  FROM nodes n LEFT JOIN mutual m ON m.u = n.id GROUP BY n.id)"""

# hop distances to landmarks {0, 7} over the 60-node doubling graph
# (kg_landmark_dist, kg_harmonic_landmarks): every path of depth <= 15
# enumerated by a recursive CTE walking edges BACKWARD from the
# landmarks, min per (node, landmark) — the BFS first-discovery
# distance
_LANDMARK_DIST_CTE = """dd AS (SELECT DISTINCT doc_id % 60 AS v FROM documents),
e AS MATERIALIZED (
  SELECT v AS src, (v + 1) % 60 AS dst FROM dd
  UNION
  SELECT v, (v * 2) % 60 FROM dd),
walk AS (
  WITH RECURSIVE w(node, landmark, dist) AS (
    SELECT CAST(v AS BIGINT), CAST(v AS BIGINT), CAST(0 AS BIGINT)
    FROM (VALUES (0), (7)) lm(v)
    UNION
    SELECT CAST(e.src AS BIGINT), w.landmark, w.dist + 1
    FROM w JOIN e ON e.dst = w.node
    WHERE w.dist < 15)
  SELECT node, landmark, min(dist) AS dist
  FROM w GROUP BY node, landmark)"""

# crawl_churn_docs / revisit_schedule_docs: two snapshots of one url
# space (1-in-7 new, 1-in-11 gone, 1-in-5 survivors rehashed) and the
# full-outer hash join classifying each url, j(host, status)
_CHURN_CTE = """prev AS (
  SELECT 'https://site' || CAST(doc_id % 13 AS VARCHAR) || '.com/d'
           || CAST(doc_id AS VARCHAR) AS url,
         md5(text || CASE WHEN doc_id % 5 = 0 THEN ':v1' ELSE '' END)
           AS ph,
         'site' || CAST(doc_id % 13 AS VARCHAR) || '.com' AS host
  FROM documents WHERE doc_id % 7 <> 3),
curr AS (
  SELECT 'https://site' || CAST(doc_id % 13 AS VARCHAR) || '.com/d'
           || CAST(doc_id AS VARCHAR) AS url,
         md5(text) AS ch,
         'site' || CAST(doc_id % 13 AS VARCHAR) || '.com' AS host
  FROM documents WHERE doc_id % 11 <> 4),
j AS (
  SELECT COALESCE(p.host, c.host) AS host,
         CASE WHEN p.url IS NULL THEN 'new'
              WHEN c.url IS NULL THEN 'gone'
              WHEN p.ph = c.ch THEN 'unchanged'
              ELSE 'modified' END AS status
  FROM prev p FULL OUTER JOIN curr c ON p.url = c.url)"""


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full KG-construction DAG (extract → mention →
    link → mint) over pages derived from sf0.001 documents."""
    return _kg_edges(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# Fixed language-ID profile artifact for langid_classify_docs: three
# pseudo-languages over trigrams that genuinely occur in the
# synthetic corpus (so matched-gram |drank - rank| arithmetic and
# the miss penalty both execute).  'px' and 'qy' rank the same
# grams in opposite orders; 'rz' ranks a disjoint set.  The oracle
# restates these exact literals as a VALUES table.
_LANGID_PX_GRAMS = ["er ", "ow ", "rt ", "par", "mer", "can",
                    "sca", "col", "lum", "olu", "umn", "dow"]
_LANGID_RZ_GRAMS = ["ind", "ndo", "win", "der", "ord", "rde",
                    "ort", "sor", "val", "lue", "key", "joi"]
_LANGID_PROFILE = (
    [("px", g, i + 1) for i, g in enumerate(_LANGID_PX_GRAMS)]
    + [("qy", g, i + 1)
       for i, g in enumerate(reversed(_LANGID_PX_GRAMS))]
    + [("rz", g, i + 1) for i, g in enumerate(_LANGID_RZ_GRAMS)])

# The driver value-checks the first 50 queries() entries: all of GATE_ORDER.
# kg_extract_text and kg_edges are the flagship gates and never rotate out.
GATE_ORDER = [
    "anchor_alias_linking", "anchor_text_docs", "atom_roundtrip_events",
    "bpe_encode_docs", "bpe_train_docs", "canonical_declared_dedup",
    "canonical_docs", "check_documents", "classifier_eval_docs",
    "curation_pipeline_v5", "fetch_schedule_docs", "hash_embed_docs",
    "head_meta_docs", "hreflang_clusters_docs", "kg_assortativity",
    "kg_class_links", "kg_class_partitions", "kg_cocitation",
    "kg_communities", "kg_degree_histogram", "kg_harmonic_landmarks",
    "kg_landmark_dist", "kg_linkpred", "kg_metadata_triad",
    "kg_shacl_violations", "kg_sparql_regex_paths", "kg_sparql_subquery",
    "kg_triangles", "kg_void_description", "langid_classify_docs",
    "main_content_docs", "meta_refresh_docs", "nb_classifier_docs",
    "noindex_filter_docs", "profile_documents", "quantiles_documents",
    "quota_sample_docs", "rdfa_roundtrip_docs", "revisit_schedule_docs",
    "rss_discovery_docs", "script_mix_docs", "sim_semantic_dedup_auto",
    "strip_paragraphs_docs", "text_neardup_hash",
    "threshold_calibration_docs", "unicode_norm_docs", "wat_links_docs",
    "wet_roundtrip_docs",
    "kg_extract_text", "kg_edges",
]


Query = Callable[[SparkSession, str], DataFrame]


def queries() -> dict[str, Query]:
    """The driver-gated builders, in GATE_ORDER."""
    reg = registry()
    return {n: reg[n][0] for n in GATE_ORDER}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of each queries() entry, in GATE_ORDER."""
    reg = registry()
    return {n: reg[n][1] for n in GATE_ORDER}


def registry() -> dict[str, tuple[Query, str]]:
    """Every query, registered once: name → (builder, DuckDB oracle
    SQL over the same parquet views).  The oracle follows its
    builder."""
    reg: dict[str, tuple[Query, str]] = {}

    # ---- KG pipeline -----------------------------------------------------
    def kg_extract_text(spark, sf):
        ext = extract(_pages(spark, sf), doc_url_regex=DOC_PAGE_URL_RE)
        return ext.filter(F.col("is_doc")).select(
            "url", F.md5(F.encode("text", "UTF-8")).alias("text_md5"))
    reg["kg_extract_text"] = kg_extract_text, f"""
WITH {_F_CTE}
SELECT url, md5({_EXPECTED_TEXT}) AS text_md5 FROM f
"""

    def warc_extract_text(spark, sf):
        """The full crawl-archive path: pages → WARC segments (one per
        partition, gzip member per record) → parsed back by the real
        WARC reader → lang recovered from the fetched bytes → the
        same Arrow extract.  Oracle identical to kg_extract_text:
        passing proves the WARC writer/parser round-trips every html
        byte AND plugs into the pipeline unchanged."""
        from ferenda_spark.sources.warc import (html_lang_col,
                                                pages_roundtrip_warc)
        pages = pages_roundtrip_warc(_pages(spark, sf)).withColumn(
            "lang", html_lang_col(F.col("html")))
        ext = extract(pages, doc_url_regex=DOC_PAGE_URL_RE)
        return ext.filter(F.col("is_doc")).select(
            "url", F.md5(F.encode("text", "UTF-8")).alias("text_md5"))
    # the WARC roundtrip must reproduce the identical per-url text:
    # same oracle as the direct extract gate
    reg["warc_extract_text"] = warc_extract_text, reg["kg_extract_text"][1]

    def wet_roundtrip_docs(spark, sf):
        """The WET (extracted-text) distribution layer: documents →
        WARC ``conversion`` records (one gzip-member WET segment per
        partition) → parsed back by the same WARC reader → text
        decoded.  Oracle is the identity over (doc_id-derived url,
        second-truncated ts, md5(text)): passing proves the WET
        writer/parser round-trips every text byte — the layer a
        text-only consumer reads INSTEAD of the raw-HTML archive."""
        from ferenda_spark.sources.warc import docs_roundtrip_wet
        did = F.col("doc_id")
        docs = _docs(spark, sf).select(
            F.concat(F.lit("https://w.example/doc/"),
                     did.cast("string")).alias("url"),
            (F.lit("2024-03-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=(did % 86400).cast("double")))
            .alias("warc_ts"),
            "text")
        back = docs_roundtrip_wet(docs)
        return back.select(
            "url", F.col("warc_ts").cast("string").alias("ts"),
            F.md5(F.encode("text", "UTF-8")).alias("text_md5"))
    # WET roundtrip: identity — url/ts/text reconstructed from
    # documents exactly as the gate synthesized them (second-precision
    # ts is preserved by the WARC date format)
    reg["wet_roundtrip_docs"] = wet_roundtrip_docs, """
SELECT 'https://w.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       strftime(TIMESTAMP '2024-03-01 00:00:00'
                + to_seconds(doc_id % 86400), '%Y-%m-%d %H:%M:%S')
         AS ts,
       md5(text) AS text_md5
FROM documents
"""

    def wat_links_docs(spark, sf):
        """The WAT (metadata) layer: synthetic two-anchor pages →
        WARC ``metadata`` records with a sorted-keys JSON envelope
        (url, title, links) → parsed back → link edges via JVM-side
        from_json.  Oracle reconstructs every (src, dst) edge
        arithmetically from doc_id — passing proves the WAT writer,
        the streaming parser and the JSON envelope agree, i.e. the
        webgraph can be built off the ~20×-smaller WAT layer."""
        from ferenda_spark.sources.warc import links_roundtrip_wat
        did = F.col("doc_id")
        base = F.lit("https://example.org/res/doc/")
        html = F.concat(
            F.lit("<html><head><title>Doc "), did.cast("string"),
            F.lit('</title></head><body><a href="'), base,
            ((did * 7) % 499 + 1).cast("string"),
            F.lit('">a</a><p>x</p><a class="r" href="'), base,
            ((did * 13) % 499 + 1).cast("string"),
            F.lit('">b</a></body></html>'))
        pages = _docs(spark, sf).select(
            F.concat(base, did.cast("string")).alias("url"),
            F.lit("2024-03-01 00:00:00").cast("timestamp")
            .alias("warc_ts"),
            F.encode(html, "UTF-8").alias("html"))
        return links_roundtrip_wat(pages)
    # WAT link edges rebuilt arithmetically: two anchors per page
    reg["wat_links_docs"] = wat_links_docs, """
SELECT 'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR) AS src,
       'https://example.org/res/doc/'
         || CAST(doc_id * 7 % 499 + 1 AS VARCHAR) AS dst
FROM documents
UNION ALL
SELECT 'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR),
       'https://example.org/res/doc/'
         || CAST(doc_id * 13 % 499 + 1 AS VARCHAR)
FROM documents
"""

    def unicode_norm_docs(spark, sf):
        """Unicode canonicalization (functions/text.py nfc_col /
        strip_accents_col, Arrow pandas UDFs): every document gets a
        mixed pre/decomposed suffix (combining acute U+0301,
        precomposed é U+00E9, combining ring U+030A) — NFC must fold
        both spellings to one byte sequence, accent folding must drop
        the marks; oracle = DuckDB's utf8proc nfc_normalize /
        strip_accents over the identically-constructed text, compared
        by md5."""
        from ferenda_spark.functions.text import (nfc_col,
                                                  strip_accents_col)
        t = F.concat(F.col("text"),
                     F.lit(" cafe\u0301 \u00e9 a\u030agang"))
        docs = _docs(spark, sf).select("doc_id", t.alias("text"))
        return docs.select(
            "doc_id",
            F.md5(F.encode(nfc_col(F.col("text")), "UTF-8"))
            .alias("nfc_md5"),
            F.md5(F.encode(strip_accents_col(F.col("text")), "UTF-8"))
            .alias("folded_md5"))
    # unicode canonicalization via DuckDB's utf8proc: identical
    # injected suffix (combining acute, precomposed e-acute,
    # combining ring), md5 over the UTF-8 bytes both sides
    reg["unicode_norm_docs"] = unicode_norm_docs, """
WITH t AS (
  SELECT doc_id,
         text || ' cafe' || chr(769) || ' ' || chr(233)
              || ' a' || chr(778) || 'gang' AS text
  FROM documents)
SELECT doc_id,
       md5(nfc_normalize(text)) AS nfc_md5,
       md5(strip_accents(text)) AS folded_md5
FROM t
"""

    reg["kg_edges"] = _kg_edges, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT * FROM golden
"""

    def kg_void_description(spark, sf):
        """VoID property partitions (W3C VoID): per-predicate triple /
        distinct-subject / distinct-object counts over the KG — the
        store's self-description, exportable as RDF via
        voidstats.void_triples."""
        from ferenda_spark.operators import voidstats
        return voidstats.property_partitions(_kg_edges(spark, sf))
    reg["kg_void_description"] = kg_void_description, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT pred, count(*) AS n_triples,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_objects
FROM golden GROUP BY pred
"""

    def kg_class_partitions(spark, sf):
        """VoID class partitions: void:entities per rdf:type class."""
        from ferenda_spark.operators import voidstats
        return voidstats.class_partitions(_kg_edges(spark, sf))
    reg["kg_class_partitions"] = kg_class_partitions, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT obj AS rdf_class,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_entities
FROM golden WHERE pred = 'rdf:type' GROUP BY obj
"""

    def kg_degree_histogram(spark, sf):
        """Degree distribution of the KG (out over subjects, in over
        IRI objects) — the skew diagnostic that tells a 100 TB job
        whether its joins need salting."""
        from ferenda_spark.operators import voidstats
        return voidstats.degree_histogram(_kg_edges(spark, sf))
    reg["kg_degree_histogram"] = kg_degree_histogram, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
outd AS (SELECT subj AS node, count(*) AS degree FROM golden
         GROUP BY subj),
ind AS (SELECT obj AS node, count(*) AS degree FROM golden
        WHERE NOT obj_is_literal GROUP BY obj)
SELECT 'out' AS direction, degree, count(*) AS n_nodes
FROM outd GROUP BY degree
UNION ALL
SELECT 'in', degree, count(*) FROM ind GROUP BY degree
"""

    def kg_shacl_violations(spark, sf):
        """SHACL-lite validation report: minCount / maxCount /
        nodeKind / datatype constraints per target class, one
        violation row per (focus, shape, constraint).  The fixture
        shapes exercise all four constraint kinds with deterministic
        violations (and two conforming controls)."""
        from ferenda_spark.operators import shacl
        shapes = spark.createDataFrame(SHACL_SHAPES, shacl.SHAPE_DDL)
        return shacl.shacl_validate(_kg_edges(spark, sf), shapes)
    reg["kg_shacl_violations"] = kg_shacl_violations, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
shapes AS (SELECT * FROM {_shacl_shapes_values()}),
targets AS (
  SELECT DISTINCT g.subj AS focus, s.*
  FROM golden g JOIN shapes s
    ON g.pred = 'rdf:type' AND g.obj = s.target_class),
joined AS (
  SELECT t.focus, t.shape_id, t.path, t.min_count, t.max_count,
         t.node_kind, t.datatype, g.obj, g.obj_is_literal,
         g.obj_datatype
  FROM targets t LEFT JOIN golden g
    ON g.subj = t.focus AND g.pred = t.path),
agg AS (
  SELECT focus, shape_id, path, min_count, max_count, node_kind,
         datatype,
         count(obj) AS n_values,
         coalesce(sum(CASE WHEN node_kind IS NOT NULL
                            AND obj IS NOT NULL
                            AND ((node_kind = 'IRI' AND obj_is_literal)
                              OR (node_kind = 'Literal'
                                  AND NOT obj_is_literal))
                      THEN 1 ELSE 0 END), 0) AS n_kind_bad,
         coalesce(sum(CASE WHEN datatype IS NOT NULL
                            AND obj IS NOT NULL
                            AND obj_datatype IS DISTINCT FROM datatype
                      THEN 1 ELSE 0 END), 0) AS n_dt_bad
  FROM joined
  GROUP BY focus, shape_id, path, min_count, max_count, node_kind,
           datatype)
SELECT focus, shape_id, path, 'minCount' AS "constraint",
       CAST(n_values AS BIGINT) AS actual,
       CAST(min_count AS VARCHAR) AS expected
FROM agg WHERE min_count IS NOT NULL AND n_values < min_count
UNION ALL
SELECT focus, shape_id, path, 'maxCount',
       CAST(n_values AS BIGINT), CAST(max_count AS VARCHAR)
FROM agg WHERE max_count IS NOT NULL AND n_values > max_count
UNION ALL
SELECT focus, shape_id, path, 'nodeKind',
       CAST(n_kind_bad AS BIGINT), node_kind
FROM agg WHERE n_kind_bad > 0
UNION ALL
SELECT focus, shape_id, path, 'datatype',
       CAST(n_dt_bad AS BIGINT), datatype
FROM agg WHERE n_dt_bad > 0
"""

    def kg_nodes(spark, sf):
        return nodes_from_triples(_kg_edges(spark, sf)).select(
            "uri", "rdf_type", "label")
    reg["kg_nodes"] = kg_nodes, f"""
WITH {_F_CTE}
SELECT url AS uri, {_CAT_TYPE} AS rdf_type, title AS label FROM f
UNION ALL
SELECT url || '#S1', 'bibo:DocumentPart', 'Introduction' FROM f
UNION ALL
SELECT url || '#S1.1', 'bibo:DocumentPart', 'Details' FROM f
UNION ALL
SELECT url || '#S2', 'bibo:DocumentPart', 'References' FROM f
"""

    def kg_citations_by_target(spark, sf):
        e = _kg_edges(spark, sf)
        return _longify(
            e.filter(F.col("pred") == "dcterms:references")
            .groupBy(F.col("obj").alias("target"))
            .agg(F.count(F.lit(1)).alias("n_citations"),
                 F.countDistinct("subj").alias("n_citing_fragments")))
    reg["kg_citations_by_target"] = kg_citations_by_target, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT obj AS target, count(*) AS n_citations,
       count(DISTINCT subj) AS n_citing_fragments
FROM golden WHERE pred = 'dcterms:references' GROUP BY obj
"""

    def kg_closure(spark, sf):
        e = _kg_edges(spark, sf)
        part_of = (e.filter(F.col("pred") == "dcterms:isPartOf")
                   .select(F.col("subj").alias("child"),
                           F.col("obj").alias("parent")))
        return _longify(analytics.transitive_closure(part_of, max_depth=4))
    reg["kg_closure"] = kg_closure, f"""
WITH RECURSIVE {_F_CTE},
edges AS (
  SELECT url || '#S1' AS child, url AS parent FROM f
  UNION ALL SELECT url || '#S1.1', url || '#S1' FROM f
  UNION ALL SELECT url || '#S2', url FROM f
),
closure AS (
  SELECT child AS descendant, parent AS ancestor, 1 AS depth FROM edges
  UNION ALL
  SELECT c.descendant, e.parent, c.depth + 1
  FROM closure c JOIN edges e ON c.ancestor = e.child
  WHERE c.depth < 4
)
SELECT descendant, ancestor, CAST(min(depth) AS BIGINT) AS depth
FROM closure GROUP BY 1, 2
"""

    def kg_citation_classes(spark, sf):
        """Per-class citation counts — the grammar-registry coverage
        check (every grammar/citations.py class must appear)."""
        e = _kg_edges(spark, sf)
        cls = (F.when(F.col("obj").startswith(BASE + "res/bcp/"), "bcp")
               .when(F.col("obj").startswith(BASE + "res/std/"), "std")
               .when(F.col("obj").startswith(BASE + "res/draft/"), "draft")
               .when(F.col("obj").startswith("https://doi.org/"), "doi")
               .when(F.col("obj").startswith(BASE + "res/iso/"), "iso")
               .when(F.col("obj").startswith(BASE + "res/eu/dir/")
                     & F.col("obj").contains("#A"), "eu_article")
               .when(F.col("obj").startswith(BASE + "res/eu/dir/"),
                     "eu_directive")
               .when(F.col("obj").startswith(BASE + "res/ecj/"), "ecj_case")
               .when(F.col("obj").startswith(BASE + "res/rfc/")
                     & F.col("obj").contains("#C"), "nested_struct")
               .when(F.col("obj").startswith(BASE + "res/rfc/")
                     & F.col("obj").contains("#S"), "rfc_section")
               .when(F.col("obj").startswith(BASE + "res/rfc/"), "rfc")
               .otherwise("url"))
        return _longify(
            e.filter(F.col("pred") == "dcterms:references")
            .groupBy(cls.alias("cls"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("obj").alias("n_targets")))
    reg["kg_citation_classes"] = kg_citation_classes, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT CASE
    WHEN obj LIKE 'https://example.org/res/bcp/%' THEN 'bcp'
    WHEN obj LIKE 'https://example.org/res/std/%' THEN 'std'
    WHEN obj LIKE 'https://example.org/res/draft/%' THEN 'draft'
    WHEN obj LIKE 'https://doi.org/%' THEN 'doi'
    WHEN obj LIKE 'https://example.org/res/iso/%' THEN 'iso'
    WHEN obj LIKE 'https://example.org/res/eu/dir/%' AND obj LIKE '%#A%'
        THEN 'eu_article'
    WHEN obj LIKE 'https://example.org/res/eu/dir/%' THEN 'eu_directive'
    WHEN obj LIKE 'https://example.org/res/ecj/%' THEN 'ecj_case'
    WHEN obj LIKE 'https://example.org/res/rfc/%' AND obj LIKE '%#C%'
        THEN 'nested_struct'
    WHEN obj LIKE 'https://example.org/res/rfc/%' AND obj LIKE '%#S%'
        THEN 'rfc_section'
    WHEN obj LIKE 'https://example.org/res/rfc/%' THEN 'rfc'
    ELSE 'url' END AS cls,
  count(*) AS n, count(DISTINCT obj) AS n_targets
FROM golden WHERE pred = 'dcterms:references'
GROUP BY 1
"""

    def kg_structure_tree(spark, sf):
        """Statute-depth structure parse (G7): 5-level node tree from
        plain text, gated against the arithmetic reconstruction."""
        from ferenda_spark.operators.structure import statute_structure
        from ferenda_spark.sources.testdata import (
            statute_pages_from_documents,
        )
        acts = statute_pages_from_documents(_docs(spark, sf))
        return _longify(statute_structure(acts))

    # statute structure tree: reconstruct the expected node table from
    # the same doc_id arithmetic that generated the text (see
    # sources/testdata.statute_pages_from_documents)
    _struct_ctes = """a AS (
  SELECT doc_id, doc_id % 2 + 2 AS nchap, doc_id % 5 = 0 AS has_letters,
         'https://example.org/res/act/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
chap AS (
  SELECT a.*, CAST(g.c AS BIGINT) AS c
  FROM a, (SELECT unnest(generate_series(1, 3)) AS c) g
  WHERE g.c <= nchap),
secs AS (
  SELECT chap.*, 2 * (c - 1) + gi.i AS s
  FROM chap, (SELECT unnest([1, 2]) AS i) gi)"""
    _struct_select = """
SELECT url, 'K' || c AS node_id, 'chapter' AS kind,
       CAST(c AS VARCHAR) AS ordinal, CAST(NULL AS VARCHAR) AS parent_id,
       CAST(1 AS BIGINT) AS depth,
       (['General Provisions', 'Obligations', 'Supervision'])[CAST(c AS INT)]
           AS text
FROM chap
UNION ALL
SELECT url, 'K' || c || 'P' || s, 'section', CAST(s AS VARCHAR),
       'K' || c, 2, 'Provisions on handling.' FROM secs
UNION ALL
SELECT url, 'K' || c || 'P' || s || 'S1', 'piece', '1',
       'K' || c || 'P' || s, 3,
       'First piece of section ' || s || '.' FROM secs
UNION ALL
SELECT url, 'K' || c || 'P' || s || 'S2', 'piece', '2',
       'K' || c || 'P' || s, 3,
       'Second piece of section ' || s || '.' FROM secs WHERE s % 3 = 0
UNION ALL
SELECT url, 'K' || c || 'P' || s || 'S1N' || gn.n, 'item',
       CAST(gn.n AS VARCHAR), 'K' || c || 'P' || s || 'S1', 4,
       (['first', 'second'])[gn.n] || ' item of section ' || s || '.'
FROM secs, (SELECT unnest([1, 2]) AS n) gn WHERE s % 2 = 1
UNION ALL
SELECT url, 'K' || c || 'P' || s || 'S1N2B' || gl.l, 'letter', gl.l,
       'K' || c || 'P' || s || 'S1N2', 5,
       CASE gl.l WHEN 'a' THEN 'first' ELSE 'second' END
           || ' letter item.'
FROM secs, (SELECT unnest(['a', 'b']) AS l) gl
WHERE s % 2 = 1 AND has_letters
"""
    reg["kg_structure_tree"] = kg_structure_tree, f"WITH {_struct_ctes} {_struct_select}"

    def visit_structure_docs(spark, sf):
        """G9: the visitor surface (visitor_functions/visit_node,
        swedishlegalsource.py:911-921,1071-1095) — three stock
        visitors walk each parsed statute tree depth-first:
        construct_uri (the construct_id analog), path (top-down state
        threading), chapter context (state decides the annotation).
        Oracle re-derives uri/path/chapter from the arithmetic node
        table via parent-chain joins."""
        from ferenda_spark.operators import visitor as vz
        from ferenda_spark.operators.structure import statute_structure
        from ferenda_spark.sources.testdata import (
            statute_pages_from_documents,
        )
        acts = statute_pages_from_documents(_docs(spark, sf))
        nodes = statute_structure(acts)
        out = vz.visit_nodes(nodes, [vz.construct_uri_visitor(),
                                     vz.path_visitor(),
                                     vz.chapter_context_visitor()])
        return out.select(
            "url", "node_id",
            F.col("anno")["uri"].alias("uri"),
            F.col("anno")["path"].alias("path"),
            F.col("anno")["chapter"].alias("chapter"))
    reg["visit_structure_docs"] = visit_structure_docs, f"""
WITH {_struct_ctes},
nodes AS ({_struct_select})
SELECT n.url, n.node_id,
       n.url || '#' || n.node_id AS uri,
       concat_ws('/', p4.node_id, p3.node_id, p2.node_id,
                 p1.node_id, n.node_id) AS path,
       regexp_extract(n.node_id, '^K([0-9]+)', 1) AS chapter
FROM nodes n
LEFT JOIN nodes p1 ON p1.url = n.url AND p1.node_id = n.parent_id
LEFT JOIN nodes p2 ON p2.url = n.url AND p2.node_id = p1.parent_id
LEFT JOIN nodes p3 ON p3.url = n.url AND p3.node_id = p2.parent_id
LEFT JOIN nodes p4 ON p4.url = n.url AND p4.node_id = p3.parent_id
"""

    def render_xhtml_docs(spark, sf):
        """S11: XHTML+RDFa page render (render_xhtml,
        documentrepository.py:1456-1680) — each act document becomes
        one byte-stable XHTML string: RDFa head from the doc's meta
        triples (sorted (pred, obj); title/link/meta element choice),
        used-prefix-only xmlns declarations, nested-div body from the
        5-level statute tree via the leaf-to-root fold.  The oracle
        rebuilds the identical string in ANSI SQL from the same
        doc_id arithmetic."""
        from ferenda_spark.operators.render import render_xhtml_pages
        from ferenda_spark.operators.structure import statute_structure
        from ferenda_spark.sources.testdata import (
            statute_pages_from_documents,
        )
        # single-file sf scan = one partition; spread the tiny doc
        # table before the render fold (round-5 file-layout lesson)
        d = _docs(spark, sf).repartition(
            spark.sparkContext.defaultParallelism)
        url = F.concat(F.lit("https://example.org/res/act/"),
                       F.col("doc_id").cast("string"))

        def t(pred, obj):
            return F.struct(F.lit(pred).alias("pred"), obj.alias("obj"))

        meta = d.select(
            url.alias("subj"),
            F.explode(F.array(
                t("dcterms:title",
                  F.concat(F.lit("Act "), F.col("doc_id").cast("string"))),
                t("rdf:type",
                  F.lit("https://example.org/ontology/rfc#Act")),
                t("dcterms:publisher",
                  F.concat(F.lit("https://example.org/org/"),
                           F.col("source"))),
                t("dcterms:language", F.col("lang")),
                t("dcterms:extent", F.col("n_chars").cast("string")),
            )).alias("t")).select("subj", "t.pred", "t.obj")
        langs = d.select(url.alias("url"), "lang")
        nodes = statute_structure(statute_pages_from_documents(d))
        return render_xhtml_pages(meta, nodes, langs=langs)

    _esc = ("replace(replace(replace({c}, '&', '&amp;'), "
            "'<', '&lt;'), '>', '&gt;')")
    # attribute-value escape: text escape + '"' -> &quot; (mirrors
    # render.escape_attr)
    _esca = ("replace(" + _esc + ", '\"', '&quot;')")
    _lvl = ("SELECT k.url, k.parent_id AS node_id, "
            "string_agg('<div about=\"' || "
            + _esca.format(c="k.url") + " || '#' || k.node_id "
            "|| '\" typeof=\"' || k.kind || '\"><p>' || "
            + _esc.format(c="k.text") + " || '</p>' || {ch} || "
            "'</div>', '' ORDER BY k.skey) AS ch "
            "FROM k {join} WHERE k.depth = {d} GROUP BY 1, 2")
    reg["render_xhtml_docs"] = render_xhtml_docs, f"""
WITH {_struct_ctes},
nodes AS ({_struct_select}),
k AS (SELECT *, lpad(ordinal, 8, '0') AS skey FROM nodes),
l5 AS ({_lvl.format(ch="''", join="", d=5)}),
l4 AS ({_lvl.format(ch="coalesce(c5.ch, '')",
                    join="LEFT JOIN l5 c5 ON c5.url = k.url "
                         "AND c5.node_id = k.node_id", d=4)}),
l3 AS ({_lvl.format(ch="coalesce(c4.ch, '')",
                    join="LEFT JOIN l4 c4 ON c4.url = k.url "
                         "AND c4.node_id = k.node_id", d=3)}),
l2 AS ({_lvl.format(ch="coalesce(c3.ch, '')",
                    join="LEFT JOIN l3 c3 ON c3.url = k.url "
                         "AND c3.node_id = k.node_id", d=2)}),
body AS (
  SELECT k.url, '<body about="' || {_esca.format(c="k.url")} || '">' ||
         string_agg('<div about="' || {_esca.format(c="k.url")} ||
                    '#' || k.node_id ||
                    '" typeof="' || k.kind || '"><p>' ||
                    {_esc.format(c="k.text")} || '</p>' ||
                    coalesce(c2.ch, '') || '</div>',
                    '' ORDER BY k.skey) || '</body>' AS body_xml
  FROM k LEFT JOIN l2 c2 ON c2.url = k.url AND c2.node_id = k.node_id
  WHERE k.depth = 1 GROUP BY 1),
meta AS (
  SELECT 'https://example.org/res/act/' || CAST(doc_id AS VARCHAR)
           AS url, lang, t.pred, t.obj
  FROM documents, LATERAL (SELECT * FROM (VALUES
    ('dcterms:title', 'Act ' || CAST(doc_id AS VARCHAR)),
    ('rdf:type', 'https://example.org/ontology/rfc#Act'),
    ('dcterms:publisher', 'https://example.org/org/' || source),
    ('dcterms:language', lang),
    ('dcterms:extent', CAST(n_chars AS VARCHAR))) v(pred, obj)) t),
heads AS (
  SELECT url, any_value(lang) AS lang,
    '<head about="' || {_esca.format(c="url")} || '">' || string_agg(
      CASE
        WHEN pred = 'dcterms:title'
             AND NOT regexp_matches(obj, '^https?://')
          THEN '<title property="dcterms:title">' ||
               {_esc.format(c="obj")} || '</title>'
        WHEN regexp_matches(obj, '^https?://')
          THEN '<link rel="' || pred || '" href="' ||
               {_esca.format(c="obj")} || '"/>'
        ELSE '<meta property="' || pred || '" content="' ||
             {_esca.format(c="obj")} || '"/>'
      END, '' ORDER BY pred, obj) || '</head>' AS head_xml,
    array_to_string(list_transform(
      list_sort(list_distinct(list(split_part(pred, ':', 1)))),
      p -> ' xmlns:' || p || '="' || CASE p
        WHEN 'dcterms' THEN 'http://purl.org/dc/terms/'
        WHEN 'rdf' THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#'
        WHEN 'rdfs' THEN 'http://www.w3.org/2000/01/rdf-schema#'
        WHEN 'rfc' THEN 'https://example.org/ontology/rfc#'
        WHEN 'prov' THEN 'http://www.w3.org/ns/prov#'
      END || '"'), '') AS decls
  FROM meta GROUP BY url)
SELECT h.url,
  '<?xml version="1.0" encoding="utf-8"?>' ||
  '<html xmlns="http://www.w3.org/1999/xhtml"' || h.decls ||
  ' version="XHTML+RDFa 1.1" xml:lang="' || h.lang || '">' ||
  h.head_xml || b.body_xml || '</html>' AS xhtml
FROM heads h JOIN body b ON b.url = h.url
"""

    def rdfa_roundtrip_docs(spark, sf):
        """RDFa write→read roundtrip — the identity the reference
        itself relies on (render_xhtml at documentrepository.py:1456
        writes XHTML+RDFa that parse_metadata_from_soup at :1277
        reads back): the rendered act pages from render_xhtml_docs
        are fed through the RDFa-Lite reader
        (structured_data.rdfa_triples), which must recover exactly
        the five head metadata triples per act (title literal with
        the page's xml:lang, rdf:type / dcterms:publisher links,
        language / extent literals) plus one rdf:type triple per
        statute tree node (the body divs' about/typeof).  The oracle
        restates both arms from the doc_id arithmetic — NOT from the
        rendered bytes — so a reader that mis-unescapes, drops lang
        inheritance, or mis-scopes about/typeof diverges."""
        from ferenda_spark.operators.structured_data import (
            rdfa_triples,
        )
        pages = render_xhtml_docs(spark, sf)
        return rdfa_triples(pages, html_col="xhtml").select(
            "src_url", "subj", "pred", "obj", "obj_is_literal",
            "obj_datatype", "obj_lang")
    reg["rdfa_roundtrip_docs"] = rdfa_roundtrip_docs, f"""
WITH {_struct_ctes},
nodes AS ({_struct_select}),
meta AS (
  SELECT 'https://example.org/res/act/' || CAST(doc_id AS VARCHAR)
           AS url, lang, t.pred, t.obj
  FROM documents, LATERAL (SELECT * FROM (VALUES
    ('dcterms:title', 'Act ' || CAST(doc_id AS VARCHAR)),
    ('rdf:type', 'https://example.org/ontology/rfc#Act'),
    ('dcterms:publisher', 'https://example.org/org/' || source),
    ('dcterms:language', lang),
    ('dcterms:extent', CAST(n_chars AS VARCHAR))) v(pred, obj)) t)
SELECT url AS src_url, url AS subj, pred, obj,
       NOT regexp_matches(obj, '^https?://') AS obj_is_literal,
       CAST(NULL AS VARCHAR) AS obj_datatype,
       CASE WHEN NOT regexp_matches(obj, '^https?://') THEN lang
            END AS obj_lang
FROM meta
UNION ALL
SELECT url, url || '#' || node_id, 'rdf:type', kind, FALSE,
       NULL, NULL
FROM nodes
"""

    def kg_structure_closure(spark, sf):
        """Transitive ancestor closure over the statute tree — the
        isPartOf* closure (J3) at its real depth (5 levels), not the
        flat HTML corpus's 2."""
        from ferenda_spark.operators.structure import statute_structure
        from ferenda_spark.sources.testdata import (
            statute_pages_from_documents,
        )
        acts = statute_pages_from_documents(_docs(spark, sf))
        nodes = statute_structure(acts)
        edges = nodes.select(
            F.concat("url", F.lit("#"), "node_id").alias("child"),
            F.coalesce(F.concat("url", F.lit("#"), "parent_id"),
                       F.col("url")).alias("parent"))
        return _longify(analytics.transitive_closure(edges, max_depth=5))
    reg["kg_structure_closure"] = kg_structure_closure, f"""
WITH RECURSIVE {_struct_ctes},
nodes AS ({_struct_select}),
edges AS (
  SELECT url || '#' || node_id AS child,
         coalesce(url || '#' || parent_id, url) AS parent
  FROM nodes),
closure AS (
  SELECT child AS descendant, parent AS ancestor, 1 AS depth FROM edges
  UNION ALL
  SELECT c.descendant, e.parent, c.depth + 1
  FROM closure c JOIN edges e ON c.ancestor = e.child
  WHERE c.depth < 5
)
SELECT descendant, ancestor, CAST(min(depth) AS BIGINT) AS depth
FROM closure GROUP BY 1, 2
"""

    def fulltext_search_docs(spark, sf):
        """S9/Q1: fielded inverted index + boost-ranked search
        (source field boosted 4x over body text)."""
        from ferenda_spark.operators import fulltext as ft
        d = _docs(spark, sf).select("doc_id", "text", "source")
        # idf=None + n_docs: idf is computed from the index pruned to
        # the query vocabulary (per-term df is filter-invariant), so
        # the one-shot query never materializes the full index — the
        # term IN-filter pushes below the tf groupBy into the scan.
        idx = ft.fulltext_index(d, "doc_id", {"source": 4, "text": 1})
        return _longify(ft.fulltext_search(
            idx, None, ["table", "window", "spark"], k=20,
            n_docs=d.count()))

    _ft_toks = ("list_filter(string_split_regex(lower(trim({c})), "
                "'\\s+'), t -> t <> '')")
    _ft_ctes = f"""rows AS (
  SELECT doc_id AS id, 'source' AS field, CAST(4 AS BIGINT) AS boost,
         unnest({_ft_toks.format(c='source')}) AS term FROM documents
  UNION ALL
  SELECT doc_id, 'text', 1, unnest({_ft_toks.format(c='text')})
  FROM documents),
tf AS (SELECT term, field, boost, id, count(*) AS tf
       FROM rows GROUP BY 1, 2, 3, 4),
idf AS (SELECT term, CAST(floor(1000 * ln(
            CAST((SELECT count(*) FROM documents) AS DOUBLE)
            / count(DISTINCT id))) AS BIGINT) AS idf_milli
        FROM tf GROUP BY term)"""
    reg["fulltext_search_docs"] = fulltext_search_docs, f"""
WITH {_ft_ctes},
hits AS (
  SELECT tf.id, CAST(sum(tf.tf * tf.boost * idf.idf_milli) AS BIGINT)
             AS score
  FROM tf JOIN idf USING (term)
  WHERE term IN ('table', 'window', 'spark') GROUP BY tf.id)
SELECT id, score, rank FROM (
  SELECT id, score,
         row_number() OVER (ORDER BY score DESC, id) AS rank
  FROM hits) WHERE rank <= 20
"""

    def fulltext_fielded(spark, sf):
        """Q1 composed with P8/P9 and phrase search: a term query,
        a prefix wildcard ('win*'), and an exact-adjacency phrase
        ("table window" via the positional index), restricted to the
        text field, with a metadata range predicate (doc_id BETWEEN
        100 AND 399) semi-joined into the postings BEFORE scoring —
        the reference's parse_parameters More/Less/Between +
        wildcard + quoted-phrase surface (wsgiapp.py:483-600,
        fulltextindex.py:307-333)."""
        from ferenda_spark.operators import fulltext as ft
        d = _docs(spark, sf).select("doc_id", "text", "source")
        idx = ft.fulltext_index(d, "doc_id", {"source": 4, "text": 1})
        pidx = ft.positional_index(d, "doc_id", {"source": 4, "text": 1})
        eligible = d.filter(F.col("doc_id").between(100, 399)).select(
            F.col("doc_id").alias("id"))
        return _longify(ft.fulltext_search(
            idx, None, ["table", "win*"], k=15,
            fields=["text"], eligible=eligible,
            phrases=["table window"], pindex=pidx,
            n_docs=d.count()))
    reg["fulltext_fielded"] = fulltext_fielded, f"""
WITH {_ft_ctes},
pidx AS (SELECT doc_id AS id, unnest(toks) AS term,
                generate_subscripts(toks, 1) AS pos
         FROM (SELECT doc_id, {_ft_toks.format(c='text')} AS toks
               FROM documents)),
ph AS (SELECT p0.id, count(*) AS hits
       FROM (SELECT id, pos FROM pidx WHERE term = 'table') p0
       JOIN pidx p1 ON p1.id = p0.id AND p1.pos = p0.pos + 1
                    AND p1.term = 'window'
       GROUP BY p0.id),
pidf AS (SELECT CAST(sum(idf_milli) AS BIGINT) AS p_idf FROM idf
         WHERE term IN ('table', 'window')),
contrib AS (
  SELECT tf.id, tf.tf * tf.boost * idf.idf_milli AS part
  FROM tf JOIN idf USING (term)
  WHERE (term IN ('table') OR term LIKE 'win%') AND field = 'text'
  UNION ALL
  SELECT ph.id, ph.hits * 1 * pidf.p_idf AS part FROM ph, pidf),
hits AS (
  SELECT id, CAST(sum(part) AS BIGINT) AS score
  FROM contrib WHERE id BETWEEN 100 AND 399 GROUP BY id)
SELECT id, score, rank FROM (
  SELECT id, score,
         row_number() OVER (ORDER BY score DESC, id) AS rank
  FROM hits) WHERE rank <= 15
"""

    def fulltext_api_page(spark, sf):
        """Q1/W5 API-shaped: the reference's query endpoint envelope
        (wsgiapp.py:388-435 + parse_parameters boost_repos /
        exclude_repos / pagenum / pagelen): boosted fielded search
        with repo-level boosts and excludes, returning page 2 plus
        startIndex/itemsPerPage/totalResults."""
        from ferenda_spark.operators import fulltext as ft
        d = _docs(spark, sf).select("doc_id", "text", "source")
        idx = ft.fulltext_index(d, "doc_id", {"source": 4, "text": 1})
        repos = d.select(F.col("doc_id").alias("id"),
                         F.col("source").alias("repo"))
        return _longify(ft.fulltext_search(
            idx, None, ["table", "window", "spark"],
            n_docs=d.count(), repos=repos,
            boost_repos={"src3": 10, "src7": 3},
            exclude_repos=["src5"],
            pagenum=2))
    # the API-page envelope: same scoring, repo multiplier + exclude
    # between scoring and ranking, then one page + envelope fields
    reg["fulltext_api_page"] = fulltext_api_page, f"""
WITH {_ft_ctes},
hits AS (
  SELECT tf.id, CAST(sum(tf.tf * tf.boost * idf.idf_milli) AS BIGINT)
             AS score
  FROM tf JOIN idf USING (term)
  WHERE term IN ('table', 'window', 'spark') GROUP BY tf.id),
shaped AS (
  SELECT h.id,
         CAST(h.score * CASE d.source WHEN 'src3' THEN 10
                                      WHEN 'src7' THEN 3
                                      ELSE 1 END AS BIGINT) AS score
  FROM hits h JOIN documents d ON h.id = d.doc_id
  WHERE d.source <> 'src5'),
total AS (SELECT CAST(count(*) AS BIGINT) AS total_results FROM shaped)
SELECT id, score, rank,
       CAST(10 AS BIGINT) AS start_index,
       CAST(10 AS BIGINT) AS items_per_page,
       total_results
FROM (SELECT id, score,
             row_number() OVER (ORDER BY score DESC, id) AS rank
      FROM shaped), total
WHERE rank > 10 AND rank <= 20
"""

    def fulltext_bm25_docs(spark, sf):
        """Q1 with the ES scoring model: Okapi BM25 (the reference's
        ElasticSearch backend default similarity) over the same
        fielded index — length-normalized ranking in BIGINT
        fixed-point (k1=1.2, b=0.75 carried as milli-integers, one
        floor-DIV per posting), so long documents stop winning on
        raw term frequency alone."""
        from ferenda_spark.operators import fulltext as ft
        d = _docs(spark, sf).select("doc_id", "text", "source")
        idx = ft.fulltext_index(d, "doc_id", {"source": 4, "text": 1})
        return _longify(ft.bm25_search(
            idx, d.count(), ["table", "window", "spark"]))
    # BM25: same tokenizer/idf CTEs; dl/avgdl and the fixed-point
    # formula restated with DuckDB's // (floor division, identical to
    # Spark's div for positive BIGINTs)
    reg["fulltext_bm25_docs"] = fulltext_bm25_docs, f"""
WITH {_ft_ctes},
dl AS (SELECT id, field, CAST(sum(tf) AS BIGINT) AS dl
       FROM tf GROUP BY 1, 2),
avg AS (SELECT field, (sum(dl) * 1000) // count(*) AS avgdl_milli
        FROM dl GROUP BY field),
parts AS (
  SELECT tf.id,
         tf.boost * ((idf.idf_milli * tf.tf * 2200 * avg.avgdl_milli)
           // ((tf.tf * 1000000 * avg.avgdl_milli
                + 1200 * (250 * avg.avgdl_milli + 750 * dl.dl * 1000))
               // 1000)) AS part
  FROM tf JOIN idf USING (term)
       JOIN dl ON tf.id = dl.id AND tf.field = dl.field
       JOIN avg ON tf.field = avg.field
  WHERE term IN ('table', 'window', 'spark')),
hits AS (SELECT id, CAST(sum(part) AS BIGINT) AS score
         FROM parts GROUP BY id)
SELECT id, score, rank FROM (
  SELECT id, score,
         row_number() OVER (ORDER BY score DESC, id) AS rank
  FROM hits) WHERE rank <= 20
"""

    def doc_versions_views(spark, sf):
        """J8 both halves in one gate: per document, the CURRENT
        version (archive latest view) and the version IN EFFECT on
        2020-06-15 under two-sided TemporalElement validity
        (elements.py:417-447 entryintoforce ≤ d < expires) — null
        asof_version for documents not yet published OR already
        repealed by that date."""
        from ferenda_spark.operators import versions as V
        from ferenda_spark.sources.testdata import (
            doc_versions_from_documents,
        )
        vs = doc_versions_from_documents(_docs(spark, sf))
        latest = V.latest_versions(vs).select(
            "url", F.col("version").alias("latest_version"),
            "archive_uri", "n_versions")
        asof = V.versions_asof(vs, "2020-06-15").select(
            "url", F.col("version").alias("asof_version"),
            F.col("valid_from").alias("asof_valid_from"))
        return _longify(latest.join(asof, "url", "left"))

    _versions_cte = """v AS (
  SELECT 'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR) AS url,
         'v' || CAST(g.i AS VARCHAR) AS version,
         DATE '2020-01-01' + INTERVAL (CAST(doc_id % 200 AS INT)
             + CAST(g.i AS INT) * 37) DAY AS valid_from,
         CASE WHEN g.i < doc_id % 3
              THEN DATE '2020-01-01' + INTERVAL (CAST(doc_id % 200 AS INT)
                   + CAST(g.i AS INT) * 37 + 37) DAY
              WHEN doc_id % 6 = 5
              THEN DATE '2020-01-01' + INTERVAL (CAST(doc_id % 200 AS INT)
                   + CAST(g.i AS INT) * 37 + 30) DAY
         END AS valid_to,
         CASE WHEN g.i = doc_id % 3
              THEN 'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR)
              ELSE 'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR)
                   || '/arkiv/v' || CAST(g.i AS VARCHAR) END AS archive_uri,
         doc_id % 3 + 1 AS n_versions
  FROM documents, (SELECT unnest(generate_series(0, 2)) AS i) g
  WHERE g.i <= doc_id % 3)"""

    reg["doc_versions_views"] = doc_versions_views, f"""
WITH {_versions_cte},
latest AS (
  SELECT url, version AS latest_version, archive_uri, n_versions
  FROM v WHERE version = 'v' || CAST(n_versions - 1 AS VARCHAR)),
eligible AS (
  SELECT url, version, CAST(valid_from AS DATE) AS valid_from,
         row_number() OVER (PARTITION BY url
                            ORDER BY valid_from DESC,
                            CAST(ltrim(version, 'v') AS BIGINT) DESC) AS rn
  FROM v WHERE valid_from <= DATE '2020-06-15'
    AND (valid_to IS NULL OR DATE '2020-06-15' < valid_to))
SELECT l.url, l.latest_version, l.archive_uri, l.n_versions,
       e.version AS asof_version, e.valid_from AS asof_valid_from
FROM latest l LEFT JOIN (SELECT * FROM eligible WHERE rn = 1) e
  ON l.url = e.url
"""

    def feedsets_events(spark, sf):
        """A4: per-type feeds plus the union 'All' feed, newest-first,
        25 entries per feed."""
        e = load_table(spark, sf, "events").select(
            "event_id", "event_type", "ts")
        return _longify(analytics.feedsets(
            e, "event_type", "ts", feed_size=25)
            .select("feed", "event_id", "rank"))
    reg["feedsets_events"] = feedsets_events, """
WITH tagged AS (
  SELECT event_id, ts, feed
  FROM events, unnest([event_type, 'All']) AS t(feed)),
ranked AS (
  SELECT feed, event_id,
         row_number() OVER (PARTITION BY feed
                            ORDER BY ts DESC, event_id) AS rank
  FROM tagged)
SELECT feed, event_id, rank FROM ranked WHERE rank <= 25
"""

    def atom_feeds_events(spark, sf):
        """S11/A4 tail: Atom XML documents per feed (incl. 'All'),
        entries newest-first, feed updated = newest entry."""
        from ferenda_spark.operators import render
        e = load_table(spark, sf, "events").select(
            "event_id", "event_type", "ts")
        top = (analytics.feedsets(
            e, "event_type", "ts", feed_size=10)
            .withColumn("title",
                        F.concat(F.col("event_type"), F.lit(" #"),
                                 F.col("event_id"))))
        return render.atom_feeds(top)
    reg["atom_feeds_events"] = atom_feeds_events, """
WITH tagged AS (
  SELECT event_id, event_type, ts, feed
  FROM events, unnest([event_type, 'All']) AS t(feed)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY feed
                               ORDER BY ts DESC, event_id) AS rank
  FROM tagged),
top AS (SELECT * FROM ranked WHERE rank <= 10),
ent AS (SELECT feed, event_id, ts,
        '<entry><id>urn:entry:' || event_id || '</id><title>'
        || replace(replace(replace(event_type || ' #' || event_id,
                                   '&', '&amp;'), '<', '&lt;'),
                   '>', '&gt;')
        || '</title><updated>'
        || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
        || '</updated></entry>' AS xml
        FROM top)
SELECT feed,
  '<?xml version="1.0" encoding="utf-8"?>'
  || '<feed xmlns="http://www.w3.org/2005/Atom"><title>'
  || replace(replace(replace(feed, '&', '&amp;'), '<', '&lt;'),
             '>', '&gt;')
  || '</title><updated>' || strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ')
  || '</updated>'
  || string_agg(xml, '' ORDER BY ts DESC, event_id)
  || '</feed>' AS atom_xml
FROM ent GROUP BY feed
"""

    def atom_roundtrip_events(spark, sf):
        """Feed write→read roundtrip: the Atom documents from the
        feedsets writer (with the entry-link hook) fed back through
        sources/feeds.py's reader must recover every (feed,
        entry_id, title, link, updated) — the discovery consumer
        and the publisher agree on the wire format.  Oracle: the
        top-10-per-feed selection restated, entry fields rebuilt
        from the event arithmetic (never from the XML)."""
        from ferenda_spark.operators import render
        from ferenda_spark.sources.feeds import feed_entries
        e = load_table(spark, sf, "events").select(
            "event_id", "event_type", "ts")
        top = (analytics.feedsets(
            e, "event_type", "ts", feed_size=10)
            .withColumn("title",
                        F.concat(F.col("event_type"), F.lit(" #"),
                                 F.col("event_id")))
            .withColumn("link",
                        F.concat(F.lit("https://ev.example/e/"),
                                 F.col("event_id").cast("string"))))
        feeds = render.atom_feeds(top, link_col="link")
        ent = feed_entries(feeds, url_col="feed", xml_col="atom_xml")
        return ent.select(
            F.col("src_url").alias("feed"), "format", "feed_title",
            "entry_id", "title", "link",
            F.col("updated").cast("long").alias("updated_epoch"))
    reg["atom_roundtrip_events"] = atom_roundtrip_events, """
WITH tagged AS (
  SELECT event_id, event_type, ts, feed
  FROM events, unnest([event_type, 'All']) AS t(feed)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY feed
                               ORDER BY ts DESC, event_id) AS rank
  FROM tagged)
SELECT feed, 'atom' AS format, feed AS feed_title,
       'urn:entry:' || event_id AS entry_id,
       event_type || ' #' || event_id AS title,
       'https://ev.example/e/' || event_id AS link,
       CAST(floor(epoch(ts)) AS BIGINT) AS updated_epoch
FROM ranked WHERE rank <= 10
"""

    def rss_discovery_docs(spark, sf):
        """RSS 2.0 discovery parse (sources/feeds.py): per doc one
        synthesized channel with a guid+pubDate item and a
        guid-less, date-less RELATIVE-link item — the reader must
        parse RFC 822 dates, fall back to the resolved link as the
        entry id, and resolve hrefs against the feed url.  Oracle:
        both items restated from the doc_id arithmetic."""
        from ferenda_spark.sources.feeds import feed_entries
        did = F.col("doc_id").cast("string")
        site = F.concat(F.lit("https://news"),
                        (F.col("doc_id") % 5).cast("string"),
                        F.lit(".example"))
        feed_url = F.concat(site, F.lit("/feed/"), did)
        pub = F.date_format(
            F.timestamp_seconds(F.lit(1704067200)
                                + F.col("doc_id") * 97),
            "EEE, dd MMM yyyy HH:mm:ss 'GMT'")
        xml = F.concat(
            F.lit('<rss version="2.0"><channel><title>Site '),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("</title><item><guid>urn:d:"), did,
            F.lit("</guid><title>Story "), did,
            F.lit("</title><pubDate>"), pub,
            F.lit("</pubDate><link>"), site, F.lit("/a/"), did,
            F.lit("</link></item><item><title>Comments "), did,
            F.lit("</title><link>/a/"), did,
            F.lit("/comments</link></item></channel></rss>"))
        feeds = _docs(spark, sf).select(feed_url.alias("url"),
                                        xml.alias("xml"))
        ent = feed_entries(feeds)
        return ent.select(
            "src_url", "format", "feed_title", "entry_id", "title",
            "link", F.col("updated").cast("long").alias("updated_epoch"))
    reg["rss_discovery_docs"] = rss_discovery_docs, """
WITH d AS (
  SELECT doc_id,
    'https://news' || CAST(doc_id % 5 AS VARCHAR) || '.example'
      AS site,
    CAST(doc_id AS VARCHAR) AS did
  FROM documents)
SELECT site || '/feed/' || did AS src_url, 'rss' AS format,
       'Site ' || CAST(doc_id % 5 AS VARCHAR) AS feed_title,
       'urn:d:' || did AS entry_id, 'Story ' || did AS title,
       site || '/a/' || did AS link,
       1704067200 + doc_id * 97 AS updated_epoch
FROM d
UNION ALL
SELECT site || '/feed/' || did, 'rss',
       'Site ' || CAST(doc_id % 5 AS VARCHAR),
       site || '/a/' || did || '/comments', 'Comments ' || did,
       site || '/a/' || did || '/comments',
       CAST(NULL AS BIGINT)
FROM d
"""

    def grouped_agg_value_median(spark, sf):
        """§2.11 GROUPED_AGG pandas UDF surface: per-type median event
        value via an Arrow-batched grouped aggregate."""
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        # explicit functionType: `from __future__ import annotations`
        # stringifies hints, so inference can't see them here
        @pandas_udf("double", PandasUDFType.GROUPED_AGG)
        def median_udf(v):
            return float(v.median())

        e = load_table(spark, sf, "events")
        # GROUPED_AGG UDFs cannot mix with JVM aggregates in one agg —
        # count via a second grouped-agg-free pass joined back
        med = (e.groupBy("event_type")
               .agg(F.round(median_udf("value"), 4).alias("median_value")))
        cnt = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        return _longify(med.join(cnt, "event_type"))
    reg["grouped_agg_value_median"] = grouped_agg_value_median, """
SELECT event_type, round(median(value), 4) AS median_value,
       count(*) AS n
FROM events GROUP BY event_type
"""

    def kg_facet_multitype(spark, sf):
        """Multi-type facet guards: per-facet rdftype FILTER + the
        repo-level type IN filter, one aggregation pass."""
        from ferenda_spark.functions.facets import Facet, facet_statistics
        e = _kg_edges(spark, sf)
        facets = [
            Facet("dcterms:issued", "year", name="std_year",
                  rdftype="bibo:Standard"),
            Facet("dcterms:title", "firstletter", name="rep_letter",
                  rdftype="bibo:Report"),
        ]
        return _longify(facet_statistics(
            e, facets, types=["bibo:Standard", "bibo:Report"]))
    reg["kg_facet_multitype"] = kg_facet_multitype, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
wide AS (
  SELECT subj,
         max(CASE WHEN pred = 'rdf:type' THEN obj END) AS rdftype,
         max(CASE WHEN pred = 'dcterms:issued' THEN obj END) AS issued,
         max(CASE WHEN pred = 'dcterms:title' THEN obj END) AS title
  FROM golden GROUP BY subj),
typed AS (
  SELECT CASE WHEN rdftype = 'bibo:Standard'
              THEN substr(issued, 1, 4) END AS std_year,
         CASE WHEN rdftype = 'bibo:Report'
              THEN substr(lower(trim(title)), 1, 1) END AS rep_letter
  FROM wide WHERE rdftype IN ('bibo:Standard', 'bibo:Report'))
SELECT 'std_year' AS facet, std_year AS value, count(*) AS n
FROM typed GROUP BY 2
UNION ALL
SELECT 'rep_letter', rep_letter, count(*) FROM typed GROUP BY 2
"""

    def kg_keyword_inversion(spark, sf):
        e = _kg_edges(spark, sf)
        inv = analytics.keyword_inversion(e)
        return _longify(inv.select(
            "term", F.array_join("members", ",").alias("members_csv"),
            "n_members"))
    reg["kg_keyword_inversion"] = kg_keyword_inversion, f"""
WITH {_F_CTE}
SELECT {_CAT_URI} AS term,
       string_agg(url, ',' ORDER BY url) AS members_csv,
       count(DISTINCT url) AS n_members
FROM f GROUP BY 1
"""

    def keyword_termset_docs(spark, sf):
        """P7: term sanitization as a dedicated op (keyword.py:169-177
        sanitize_term + the termset collection loop :107-160, rules at
        :64-67): raw whitespace tokens are candidate keyword terms;
        sanitize_term_col normalizes space and rejects too-short/long
        terms and invalid ./: starts and .,-ends (sentence punctuation
        in running text exercises the reject paths), then term →
        document-frequency 'termsets' for terms shared by >= 40 docs.
        Pure-codegen sanitize runs in the scan; ONE shuffle (groupBy
        term)."""
        from ferenda_spark.functions.text import sanitize_term_col
        d = _docs(spark, sf)
        tok = d.select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok"))
        t = (tok.select("doc_id",
                        sanitize_term_col(F.col("tok")).alias("term"))
             .filter(F.col("term").isNotNull()))
        return _longify(
            t.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") >= 40))
    reg["keyword_termset_docs"] = keyword_termset_docs, """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
  FROM documents),
san AS (
  SELECT doc_id,
         trim(regexp_replace(replace(tok, chr(160), ' '),
                             '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS t
  FROM tok),
terms AS (
  SELECT doc_id, t AS term FROM san
  WHERE len(t) BETWEEN 2 AND 100
    AND substr(t, 1, 1) NOT IN ('.', '/', ':')
    AND substr(t, len(t), 1) NOT IN ('.', ','))
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM terms GROUP BY term HAVING count(DISTINCT doc_id) >= 40
"""

    def kg_dependency_edges(spark, sf):
        return analytics.dependency_edges(_kg_edges(spark, sf))
    reg["kg_dependency_edges"] = kg_dependency_edges, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT subj, pred, obj FROM golden
WHERE pred NOT IN ('rdf:type', 'owl:sameAs') AND NOT obj_is_literal
  AND obj NOT IN (SELECT DISTINCT subj FROM golden)
"""

    def kg_resolved_citations(spark, sf):
        # J2: the skewed citation-resolution join (zipf-hot targets);
        # salt=8 exercises the explicit skew path — result must equal
        # the plain join (the oracle is strategy-agnostic)
        from ferenda_spark.operators.resolve import resolve_citations
        e = _kg_edges(spark, sf)
        pages = _pages(spark, sf).select("url")
        resolved = resolve_citations(e, pages, salt=8)
        return _longify(resolved.groupBy("target_url")
                        .agg(F.count(F.lit(1)).alias("n")))

    _resolve_cte = r"""
c AS (SELECT subj, obj,
             regexp_extract(regexp_replace(obj, '#.*$', ''),
                            '/res/(?:rfc|doc)/(\d+)', 1) AS basefile
      FROM golden WHERE pred = 'dcterms:references'),
t AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS basefile,
             'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR)
                 AS target_url
      FROM documents)"""

    reg["kg_resolved_citations"] = kg_resolved_citations, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}, {_resolve_cte}
SELECT t.target_url, count(*) AS n
FROM c LEFT JOIN t ON c.basefile = t.basefile
GROUP BY t.target_url
"""

    def crawl_reachable(spark, sf):
        """S1: distributed crawl scheduler — BFS frontier over the
        resolved citation link graph from every 25th page, depth ≤ 3;
        oracle = recursive CTE with min-depth."""
        from ferenda_spark.operators.crawl import crawl_frontier
        from ferenda_spark.operators.resolve import resolve_citations
        e = _kg_edges(spark, sf)
        pages = _pages(spark, sf).select("url")
        links = (resolve_citations(e, pages)
                 .filter(F.col("target_url").isNotNull())
                 .select(F.regexp_replace("subj", r"#.*$", "")
                         .alias("src"),
                         F.col("target_url").alias("dst"))
                 .distinct())
        seeds = pages.filter(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long") % 25 == 0)
        return _longify(crawl_frontier(links, seeds))
    reg["crawl_reachable"] = crawl_reachable, f"""
WITH RECURSIVE {_F_CTE}, {_TRIPLES_CTE}, {_resolve_cte},
links AS (SELECT DISTINCT regexp_replace(c.subj, '#.*$', '') AS src,
                 t.target_url AS dst
          FROM c JOIN t ON c.basefile = t.basefile),
seeds AS (SELECT 'https://example.org/res/doc/' || CAST(doc_id AS VARCHAR)
              AS url
          FROM documents WHERE doc_id % 25 = 0),
r AS (
  SELECT url, 0 AS depth FROM seeds
  UNION ALL
  SELECT l.dst AS url, r.depth + 1 AS depth
  FROM r JOIN links l ON l.src = r.url
  WHERE r.depth < 3
)
SELECT url, CAST(min(depth) AS BIGINT) AS depth FROM r GROUP BY url
"""

    def kg_regen_dependents(spark, sf):
        """Dependency-triggered regeneration (regen.py): every 17th
        doc is 'changed'; result = changed ∪ transitive dependents
        over the citation dependency graph with min dependency depth,
        bounded at 4 (the oracle's recursive CTE must bound — citation
        cycles would diverge UNION ALL recursion; the FIXPOINT variant
        is pytest-covered in test_resume.py)."""
        from ferenda_spark.operators.regen import dependency_pairs, stale_set
        e = _kg_edges(spark, sf)
        pages = _pages(spark, sf).select("url")
        deps = dependency_pairs(e, pages)
        changed = pages.filter(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long") % 17 == 0)
        return _longify(stale_set(deps, changed))
    reg["kg_regen_dependents"] = kg_regen_dependents, f"""
WITH RECURSIVE {_F_CTE}, {_TRIPLES_CTE}, {_resolve_cte},
deps AS (SELECT DISTINCT t.target_url AS url,
                regexp_replace(c.subj, '#.*$', '') AS depends_on
         FROM c JOIN t ON c.basefile = t.basefile
         WHERE t.target_url != regexp_replace(c.subj, '#.*$', '')),
changed AS (SELECT 'https://example.org/res/doc/' ||
                   CAST(doc_id AS VARCHAR) AS url
            FROM documents WHERE doc_id % 17 = 0),
r AS (
  SELECT url, 0 AS depth FROM changed
  UNION ALL
  SELECT d.url, r.depth + 1 AS depth
  FROM r JOIN deps d ON d.depends_on = r.url
  WHERE r.depth < 4
)
SELECT url, CAST(min(depth) AS BIGINT) AS depth FROM r GROUP BY url
"""

    def kg_inbound_refs(spark, sf):
        from ferenda_spark.operators.resolve import inbound_references
        e = _kg_edges(spark, sf)
        pages = _pages(spark, sf).select("url")
        return inbound_references(e, pages)
    reg["kg_inbound_refs"] = kg_inbound_refs, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}, {_resolve_cte}
SELECT DISTINCT t.target_url AS subj,
       'dcterms:isReferencedBy' AS pred, c.subj AS obj
FROM c JOIN t ON c.basefile = t.basefile
"""

    def kg_facet_statistics(spark, sf):
        from ferenda_spark.functions.facets import Facet, facet_statistics
        e = _kg_edges(spark, sf)
        facets = [Facet("rdf:type"),
                  Facet("dcterms:issued", "year"),
                  Facet("dcterms:title", "firstletter")]
        return _longify(facet_statistics(e, facets))
    reg["kg_facet_statistics"] = kg_facet_statistics, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
wide AS (
  SELECT subj,
         max(CASE WHEN pred = 'rdf:type' THEN obj END) AS type,
         substr(max(CASE WHEN pred = 'dcterms:issued' THEN obj END),
                1, 4) AS issued_year,
         substr(lower(trim(max(CASE WHEN pred = 'dcterms:title'
                                    THEN obj END))), 1, 1)
             AS title_firstletter
  FROM golden GROUP BY subj)
SELECT 'type' AS facet, type AS value, count(*) AS n
FROM wide GROUP BY type
UNION ALL
SELECT 'issued_year', issued_year, count(*) FROM wide GROUP BY issued_year
UNION ALL
SELECT 'title_firstletter', title_firstletter, count(*)
FROM wide GROUP BY title_firstletter
"""

    def kg_facet_projection(spark, sf):
        e = _kg_edges(spark, sf)
        return analytics.facet_projection(
            e, ["rdf:type", "dcterms:title", "dcterms:identifier",
                "dcterms:issued", "dcterms:publisher"])
    reg["kg_facet_projection"] = kg_facet_projection, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT subj AS uri,
       max(CASE WHEN pred = 'rdf:type' THEN obj END) AS type,
       max(CASE WHEN pred = 'dcterms:title' THEN obj END) AS title,
       max(CASE WHEN pred = 'dcterms:identifier' THEN obj END) AS identifier,
       max(CASE WHEN pred = 'dcterms:issued' THEN obj END) AS issued,
       max(CASE WHEN pred = 'dcterms:publisher' THEN obj END) AS publisher
FROM golden GROUP BY subj
"""

    def kg_sql_citations(spark, sf):
        # the SQL query surface (SURVEY Q2): plain spark.sql over the
        # edge view — section-qualified citation targets only
        _kg_edges(spark, sf).createOrReplaceTempView("edge")
        return spark.sql("""
            SELECT obj AS target, count(*) AS n
            FROM edge
            WHERE pred = 'dcterms:references' AND obj LIKE '%#S%'
            GROUP BY obj""")
    reg["kg_sql_citations"] = kg_sql_citations, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT obj AS target, count(*) AS n FROM golden
WHERE pred = 'dcterms:references' AND obj LIKE '%#S%'
GROUP BY obj
"""

    def kg_sparql_annotations(spark, sf):
        """The SPARQL query surface (SURVEY Q3): the reference's
        rfc-annotations.rq CONSTRUCT (sources/tech/res/sparql/
        rfc-annotations.rq) compiled to a DataFrame plan over the KG
        edge table, for the deterministic hub document (the smallest
        rfc:updates target — a heavily-cited head entity)."""
        from ferenda_spark.operators.sparql import (
            RFC_ANNOTATIONS_RQ,
            sparql_query,
        )
        # localCheckpoint, not persist: materializes the (expensive)
        # fused extract ONCE for the uri scalar + the compiled plan's
        # several scans, and the blocks are ContextCleaner-reclaimed
        # when the DataFrame is GC'd — a bare persist() accumulated
        # cached edge tables across the long-lived 50-query gate run
        edges = _kg_edges(spark, sf).localCheckpoint()
        uri = edges.filter(F.col("pred") == "rfc:updates") \
                   .agg(F.min("obj")).collect()[0][0]
        return sparql_query(edges, RFC_ANNOTATIONS_RQ, {"uri": uri})
    # rfc-annotations.rq semantics over golden: literal self-metadata,
    # transitive referencer metadata (minus unrelated references),
    # updater/obsoleter metadata, inverse isUpdatedBy/isObsoletedBy/
    # isReferencedBy links — target = the smallest rfc:updates obj
    reg["kg_sparql_annotations"] = kg_sparql_annotations, f"""
WITH RECURSIVE {_F_CTE}, {_TRIPLES_CTE},
tgt AS (SELECT min(obj) AS uri FROM golden WHERE pred = 'rfc:updates'),
refs AS (
  SELECT g.subj FROM golden g, tgt
  WHERE g.pred = 'dcterms:references' AND g.obj = tgt.uri
  UNION
  SELECT g.subj FROM golden g JOIN refs r ON g.obj = r.subj
  WHERE g.pred = 'dcterms:references'
),
upd AS (
  SELECT g.subj, g.pred AS via FROM golden g, tgt
  WHERE g.obj = tgt.uri AND g.pred IN ('rfc:updates', 'rfc:obsoletes')
)
SELECT DISTINCT subj, pred, obj, obj_is_literal, obj_datatype, obj_lang
FROM (
  SELECT g.* FROM golden g, tgt WHERE g.subj = tgt.uri AND g.obj_is_literal
  UNION ALL
  SELECT g.* FROM golden g JOIN refs r ON g.subj = r.subj, tgt
  WHERE g.pred != 'dcterms:references' OR g.obj LIKE tgt.uri || '%'
  UNION ALL
  -- SPARQL semantics: ?referencer only binds alongside a surviving
  -- (?p, ?o) solution in the same group — a referencer whose every
  -- triple is a dcterms:references to a non-prefix target emits NO
  -- isReferencedBy link (ADVICE r3: this arm was unconditional)
  SELECT tgt.uri, 'dcterms:isReferencedBy', r.subj, FALSE,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM refs r, tgt
  WHERE EXISTS (SELECT 1 FROM golden g
                WHERE g.subj = r.subj
                  AND (g.pred != 'dcterms:references'
                       OR g.obj LIKE tgt.uri || '%'))
  UNION ALL
  SELECT g.* FROM golden g JOIN upd u ON g.subj = u.subj
  WHERE g.pred != 'dcterms:references'
  UNION ALL
  SELECT tgt.uri,
         CASE WHEN u.via = 'rfc:obsoletes' THEN 'rfc:isObsoletedBy'
              ELSE 'rfc:isUpdatedBy' END,
         u.subj, FALSE, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
  FROM upd u, tgt
)
"""

    def kg_sparql_describe(spark, sf):
        """The reference's default annotations.rq (res/sparql/
        annotations.rq): describe-with-parts CONSTRUCT — isPartOf*
        closure + isReferencedBy back-links — for document 0."""
        from ferenda_spark.operators.sparql import construct_annotations
        return construct_annotations(
            _kg_edges(spark, sf), BASE + "res/doc/0")
    reg["kg_sparql_describe"] = kg_sparql_describe, f"""
WITH RECURSIVE {_F_CTE}, {_TRIPLES_CTE},
parts AS (
  SELECT 'https://example.org/res/doc/0' AS p
  UNION
  SELECT g.subj FROM golden g JOIN parts pp ON g.obj = pp.p
  WHERE g.pred = 'dcterms:isPartOf'
)
SELECT DISTINCT subj, pred, obj, obj_is_literal, obj_datatype, obj_lang
FROM (
  SELECT g.* FROM golden g JOIN parts p ON g.subj = p.p
  UNION ALL
  SELECT g.* FROM golden g
  WHERE g.subj IN (SELECT c.subj FROM golden c JOIN parts p ON c.obj = p.p
                   WHERE c.pred = 'dcterms:references')
  UNION ALL
  SELECT c.obj, 'dcterms:isReferencedBy', c.subj, FALSE,
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
  FROM golden c JOIN parts p ON c.obj = p.p
  WHERE c.pred = 'dcterms:references'
)
"""

    def kg_sparql_describe_form(spark, sf):
        """Q3 (round-4): the real DESCRIBE query form — concise
        bounded description (all stored triples of the subject) of
        one document and one WHERE-bound set, through the full
        parser/compiler path."""
        from ferenda_spark.operators.sparql import sparql_query
        # the WHERE arm binds the doc's direct parts (#S1, #S2) —
        # a predicate whose objects really are doc URIs, so the
        # var/WHERE path is exercised with NON-EMPTY bindings
        return _longify(sparql_query(
            _kg_edges(spark, sf),
            "DESCRIBE <%(uri)s> ?d WHERE "
            "{ ?d dcterms:isPartOf <%(uri)s> . }",
            {"uri": BASE + "res/doc/3"}))
    # annotations.rq semantics for doc 0: triples of the doc and its
    # isPartOf* descendants, plus isReferencedBy onto cited parts
    reg["kg_sparql_describe_form"] = kg_sparql_describe_form, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
subs AS (
  SELECT 'https://example.org/res/doc/3' AS subj
  UNION
  SELECT subj FROM golden
  WHERE pred = 'dcterms:isPartOf'
    AND obj = 'https://example.org/res/doc/3')
SELECT DISTINCT g.subj, g.pred, g.obj, g.obj_is_literal,
       g.obj_datatype, g.obj_lang
FROM golden g JOIN subs USING (subj)
"""

    def kg_sparql_subdocs(spark, sf):
        """The reference's describe-with-subdocs.rq shape
        (sources/legal/se/res/sparql/describe-with-subdocs.rq):
        referencers of the hub document's FRAGMENTS, decorated with
        their isPartOf* root (var-var star path whose zero-length arm
        is pruned by the root's dcterms:identifier requirement) and
        OPTIONAL chapter metadata."""
        from ferenda_spark.operators.sparql import sparql_query
        edges = _kg_edges(spark, sf).localCheckpoint()  # see annotations gate
        uri = edges.filter(F.col("pred") == "rfc:updates") \
                   .agg(F.min("obj")).collect()[0][0]
        return sparql_query(edges, """
CONSTRUCT {
  ?target dcterms:isReferencedBy ?referer .
  ?referer dcterms:isPartOf ?rootdoc ;
           bibo:chapter ?refchapter .
  ?rootdoc rdf:type ?roottype ;
           dcterms:identifier ?rootid .
}
WHERE {
  ?referer dcterms:references ?target ;
           dcterms:isPartOf* ?rootdoc .
  ?rootdoc rdf:type ?roottype ;
           dcterms:identifier ?rootid .
  OPTIONAL { ?referer bibo:chapter ?refchapter . }
  FILTER(STRSTARTS(STR(?target), "%(uri)s#"))
}
""", {"uri": uri})
    # describe-with-subdocs.rq: referencers of the hub's fragments,
    # root = the referer's document (the only isPartOf* ancestor
    # carrying dcterms:identifier), OPTIONAL bibo:chapter decoration
    reg["kg_sparql_subdocs"] = kg_sparql_subdocs, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
tgt AS (SELECT min(obj) AS uri FROM golden WHERE pred = 'rfc:updates'),
refs AS (
  SELECT DISTINCT g.subj AS referer, g.obj AS target
  FROM golden g, tgt
  WHERE g.pred = 'dcterms:references' AND g.obj LIKE tgt.uri || '#%'),
root AS (
  SELECT DISTINCT referer,
         regexp_replace(referer, '#.*$', '') AS rootdoc FROM refs)
SELECT DISTINCT subj, pred, obj, obj_is_literal, obj_datatype, obj_lang
FROM (
  SELECT r.target AS subj, 'dcterms:isReferencedBy' AS pred,
         r.referer AS obj, FALSE AS obj_is_literal,
         CAST(NULL AS VARCHAR) AS obj_datatype,
         CAST(NULL AS VARCHAR) AS obj_lang FROM refs r
  UNION ALL
  SELECT rt.referer, 'dcterms:isPartOf', rt.rootdoc, FALSE, NULL, NULL
  FROM root rt
  UNION ALL
  SELECT g.subj, 'bibo:chapter', g.obj, TRUE, NULL, NULL
  FROM golden g JOIN root rt ON g.subj = rt.referer
  WHERE g.pred = 'bibo:chapter'
  UNION ALL
  SELECT g.subj, 'rdf:type', g.obj, FALSE, NULL, NULL
  FROM golden g JOIN (SELECT DISTINCT rootdoc FROM root) rd
       ON g.subj = rd.rootdoc
  WHERE g.pred = 'rdf:type'
  UNION ALL
  SELECT g.subj, 'dcterms:identifier', g.obj, TRUE, NULL, NULL
  FROM golden g JOIN (SELECT DISTINCT rootdoc FROM root) rd
       ON g.subj = rd.rootdoc
  WHERE g.pred = 'dcterms:identifier'
)
"""

    def kg_sparql_topcited(spark, sf):
        """The reference's API-shaped query surface (wsgiapp.py:
        388-435, triplestore.py:138-152): aggregate + GROUP BY +
        deterministic ORDER BY/LIMIT paging, plus PREFIX
        normalization — the predicate is written as the FULL dcterms
        IRI and must contract to the stored CURIE.  ORDER BY+LIMIT
        compiles to TakeOrderedAndProject (distributed top-k)."""
        from ferenda_spark.operators.sparql import sparql_query
        return sparql_query(_kg_edges(spark, sf), """
SELECT ?target (COUNT(?s) AS ?n) WHERE {
  ?s <http://purl.org/dc/terms/references> ?target .
}
GROUP BY ?target
ORDER BY DESC(?n) ?target
LIMIT 20
""")
    reg["kg_sparql_topcited"] = kg_sparql_topcited, f"""
WITH {_F_CTE}, {_TRIPLES_CTE}
SELECT obj AS target, count(*) AS n
FROM golden WHERE pred = 'dcterms:references'
GROUP BY obj
ORDER BY n DESC, target
LIMIT 20
"""

    def kg_sparql_graph_scoped(spark, sf):
        """Quad-store query: edges carry a graph column (derived:
        standards vs reports partition of the KG) and GRAPH <g>
        scopes the pattern to one named graph.  The scope is checked
        by the ORACLE's independent ``WHERE graph = 'g:std'`` filter —
        a no-op GRAPH implementation would count the whole store and
        hash-mismatch.  The quad table is what the GraphScope compiler
        consumes."""
        from ferenda_spark.operators.sparql import sparql_query
        e = _kg_edges(spark, sf)
        typed = (e.filter((F.col("pred") == "rdf:type")
                          & F.col("obj").isin("bibo:Standard",
                                              "bibo:Report"))
                 .select(F.col("subj").alias("doc"),
                         F.when(F.col("obj") == "bibo:Standard",
                                "g:std").otherwise("g:other")
                         .alias("graph")))
        root = F.regexp_replace(F.col("subj"), "#.*", "")
        quads = (e.withColumn("__root", root)
                 .join(typed, F.col("__root") == typed["doc"], "left")
                 .drop("doc", "__root")
                 .withColumn("graph",
                             F.coalesce(F.col("graph"),
                                        F.lit("g:other"))))
        return sparql_query(quads, """
SELECT ?s (COUNT(?o) AS ?n_std_refs) WHERE {
  GRAPH <g:std> { ?s dcterms:references ?o . }
}
GROUP BY ?s
ORDER BY DESC(?n_std_refs) ?s
LIMIT 20
""")
    reg["kg_sparql_graph_scoped"] = kg_sparql_graph_scoped, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
cls AS (SELECT subj AS doc,
               CASE WHEN obj = 'bibo:Standard' THEN 'g:std'
                    ELSE 'g:other' END AS gg
        FROM golden
        WHERE pred = 'rdf:type'
          AND obj IN ('bibo:Standard', 'bibo:Report')),
quads AS (SELECT g.subj, g.pred, g.obj,
                 coalesce(c.gg, 'g:other') AS graph
          FROM golden g LEFT JOIN cls c
            ON regexp_replace(g.subj, '#.*', '') = c.doc)
SELECT subj AS s, count(obj) AS n_std_refs
FROM quads
WHERE graph = 'g:std' AND pred = 'dcterms:references'
GROUP BY subj
ORDER BY n_std_refs DESC, s
LIMIT 20
"""

    def kg_sparql_aggregates(spark, sf):
        """The full SPARQL 1.1 aggregate set minus
        GROUP_CONCAT/SAMPLE: COUNT + MIN/MAX (lexical over the
        engine's string terms) + SUM/AVG (try_cast numeric,
        non-numeric ignored) in one grouped query with deterministic
        top-k paging."""
        from ferenda_spark.operators.sparql import sparql_query
        return sparql_query(_kg_edges(spark, sf), """
SELECT ?s (COUNT(?o) AS ?n) (MIN(?o) AS ?first) (MAX(?o) AS ?last)
       (SUM(?c) AS ?chapters) (AVG(?c) AS ?meanch)
       (GROUP_CONCAT(DISTINCT ?o; SEPARATOR=", ") AS ?refs)
       (SAMPLE(?c) AS ?anych)
WHERE {
  ?s dcterms:references ?o .
  ?s bibo:chapter ?c .
}
GROUP BY ?s
HAVING (?n >= 2)
ORDER BY DESC(?n) ?s
LIMIT 25
""")
    reg["kg_sparql_aggregates"] = kg_sparql_aggregates, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
r AS (SELECT subj AS s, obj AS o FROM golden
      WHERE pred = 'dcterms:references'),
ch AS (SELECT subj AS s, obj AS c FROM golden
       WHERE pred = 'bibo:chapter'),
j AS (SELECT r.s, r.o, ch.c FROM r JOIN ch USING (s)),
a AS (SELECT s, count(o) AS n, min(o) AS "first", max(o) AS "last",
             sum(TRY_CAST(c AS DOUBLE)) AS chapters,
             avg(TRY_CAST(c AS DOUBLE)) AS meanch,
             string_agg(DISTINCT o, ', ' ORDER BY o) AS refs,
             min(c) AS anych
      FROM j GROUP BY s)
SELECT s, n, "first", "last", chapters, meanch, refs, anych
FROM a WHERE n >= 2 ORDER BY n DESC, s LIMIT 25
"""

    def kg_sparql_regex_paths(spark, sf):
        """The round-5 SPARQL extensions in one gate: zero-or-one
        path ``isPartOf?`` (both the identity and one-step arms
        produce rows), ``regex()`` with the case-insensitive flag,
        ``str()`` coercion and ``lang()`` tag access — the
        wsgiapp.py:388-435-shaped hand-written API query a real user
        hits first beyond the reference's shipped .rq subset."""
        from ferenda_spark.operators.sparql import sparql_query
        return sparql_query(_kg_edges(spark, sf), """
SELECT DISTINCT ?s ?d WHERE {
  ?s dcterms:isPartOf? ?d .
  ?s dcterms:title ?t .
  ?d dcterms:title ?dt .
  FILTER (regex(str(?t), "^(intro|det)", "i") && lang(?dt) = "fr")
}
""")
    reg["kg_sparql_regex_paths"] = kg_sparql_regex_paths, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
step AS (SELECT subj, obj FROM golden
         WHERE pred = 'dcterms:isPartOf' AND NOT obj_is_literal),
nodes AS (SELECT subj AS n FROM golden
          UNION SELECT obj FROM golden WHERE NOT obj_is_literal),
pairs AS (SELECT subj AS s, obj AS d FROM step
          UNION SELECT n, n FROM nodes),
t AS (SELECT subj, obj, obj_lang FROM golden
      WHERE pred = 'dcterms:title')
SELECT DISTINCT p.s, p.d
FROM pairs p
JOIN t ts ON ts.subj = p.s
         AND regexp_matches(lower(ts.obj), '^(intro|det)')
JOIN t td ON td.subj = p.d AND coalesce(td.obj_lang, '') = 'fr'
"""

    def kg_sparql_subquery(spark, sf):
        """Nested SELECT (SPARQL 1.1 §12, round 5): aggregate
        bottom-up — the 10 most-cited targets — then decorate the
        winners by joining the outer group, the analytics-then-
        decorate shape subqueries exist for.  The inner ORDER BY
        DESC(?n) ?s LIMIT 10 compiles to TakeOrdered."""
        from ferenda_spark.operators.sparql import sparql_query
        return sparql_query(_kg_edges(spark, sf), """
SELECT ?s ?n ?ch WHERE {
  { SELECT ?s (COUNT(?t) AS ?n) WHERE {
      ?s dcterms:references ?t .
    } GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 10 }
  ?s bibo:chapter ?ch .
}
""")
    reg["kg_sparql_subquery"] = kg_sparql_subquery, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
top10 AS (
  SELECT subj AS s, CAST(count(*) AS BIGINT) AS n
  FROM golden WHERE pred = 'dcterms:references'
  GROUP BY subj ORDER BY n DESC, s LIMIT 10)
SELECT top10.s, top10.n, g.obj AS ch
FROM top10 JOIN golden g
  ON g.subj = top10.s AND g.pred = 'bibo:chapter'
"""

    def kg_pagerank(spark, sf):
        """Head-entity importance over the citation graph: fixed-
        iteration integer PageRank (training-data curation's standard
        graph-quality signal; deterministic BIGINT arithmetic so the
        oracle compares exactly)."""
        from ferenda_spark.operators.rank import pagerank
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        pr = pagerank(cites, iters=3)
        return analytics.ranked_topk(
            pr, [("rank_micro", True), ("node", False)], 20)

    reg["kg_pagerank"] = kg_pagerank, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
cites AS (
  SELECT subj AS src, obj AS dst FROM golden
  WHERE pred = 'dcterms:references'
),
{_PAGERANK_CTE}
SELECT node, rank_micro, CAST(rn AS INT) AS rank FROM (
  SELECT node, CAST(r // 1000000 AS BIGINT) AS rank_micro,
         row_number() OVER (ORDER BY r // 1000000 DESC, node) AS rn
  FROM it3)
WHERE rn <= 20
"""

    def kg_trustrank(spark, sf):
        """Seed-personalized PageRank (rank.py trustrank, the VLDB
        2004 TrustRank construction): trust teleports only to a seed
        set — here the heavily-cited targets (in-degree ≥ 5), the
        deterministic stand-in for a vetted whitelist — and flows
        along citations, so documents unreachable from any seed score
        exactly 0 (the spam-demotion property plain PageRank lacks).
        Same BIGINT fixed-point arithmetic as kg_pagerank, so the
        oracle unrolls the three iterations exactly."""
        from ferenda_spark.operators.rank import trustrank
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        seeds = (cites.groupBy("dst").agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") >= 5)
                 .select(F.col("dst").alias("node")))
        tr = trustrank(cites, seeds, iters=3)
        return analytics.ranked_topk(
            tr, [("trust_micro", True), ("node", False)], 20)

    # one TrustRank iteration: kg_pagerank's arithmetic with the
    # teleport personalized to the seed flag — base term and dangling
    # share land ONLY on seeds (rank.py trustrank, VLDB 2004 scheme)
    _tr_iter = """
it{i} AS (
  SELECT n.node, n.is_seed,
         CAST(CASE WHEN n.is_seed THEN {base} ELSE 0 END
              + (85 * (COALESCE(s.inc, 0) +
                 CASE WHEN n.is_seed THEN
                   (SELECT COALESCE(sum(r.r), 0) FROM it{prev} r
                    WHERE r.node NOT IN (SELECT src FROM cites))
                   // (SELECT s FROM ns)
                 ELSE 0 END)) // 100 AS BIGINT) AS r
  FROM trnodes n LEFT JOIN (
    SELECT c.dst AS node, CAST(sum(r.r // o.outdeg) AS BIGINT) AS inc
    FROM cites c JOIN it{prev} r ON c.src = r.node
                 JOIN outd o ON c.src = o.src
    GROUP BY c.dst) s ON s.node = n.node
)"""
    _tr_base = "(SELECT 15 * (1000000000000 // s) // 100 FROM ns)"
    reg["kg_trustrank"] = kg_trustrank, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
cites AS (
  SELECT subj AS src, obj AS dst FROM golden
  WHERE pred = 'dcterms:references'
),
seeds AS (
  SELECT dst AS node FROM cites GROUP BY dst HAVING count(*) >= 5
),
trnodes AS (
  SELECT p.node, p.node IN (SELECT node FROM seeds) AS is_seed
  FROM (SELECT src AS node FROM cites UNION SELECT dst FROM cites) p
),
ns AS (SELECT count(*) AS s FROM seeds),
outd AS (SELECT src, count(*) AS outdeg FROM cites GROUP BY src),
it0 AS (SELECT node, is_seed,
               CAST(CASE WHEN is_seed THEN
                 (SELECT 1000000000000 // s FROM ns) ELSE 0 END
                 AS BIGINT) AS r FROM trnodes),
{_tr_iter.format(i=1, prev=0, base=_tr_base)},
{_tr_iter.format(i=2, prev=1, base=_tr_base)},
{_tr_iter.format(i=3, prev=2, base=_tr_base)}
SELECT node, trust_micro, CAST(rn AS INT) AS rank FROM (
  SELECT node, CAST(r // 1000000 AS BIGINT) AS trust_micro,
         row_number() OVER (ORDER BY r // 1000000 DESC, node) AS rn
  FROM it3)
WHERE rn <= 20
"""

    def kg_hits(spark, sf):
        """Hubs-and-authorities over the citation graph: 2-iteration
        integer HITS (L1-normalized, DECIMAL(38,0) renorm) — separates
        survey/index pages (hubs) from canonical cited documents
        (authorities), the split PageRank can't make.  Top-20 by
        authority, deterministic tie-break."""
        from ferenda_spark.operators.rank import hits
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        hs = hits(cites)
        return analytics.ranked_topk(
            hs, [("auth_micro", True), ("hub_micro", True),
                 ("node", False)], 20)

    # one HITS iteration: authority raw-sum + L1 renorm, then hub
    # raw-sum + L1 renorm — integer semantics identical to rank.hits
    # (sums exact, renorm = raw * 10^6 floor-div total in HUGEINT)
    _hits_iter = """
a{i}r AS (
  SELECT n.node, CAST(COALESCE(s.a, 0) AS BIGINT) AS a
  FROM hnodes n LEFT JOIN (
    SELECT c.dst AS node, sum(h.h) AS a
    FROM cites c JOIN h{prev} h ON c.src = h.node GROUP BY c.dst) s
  ON s.node = n.node),
a{i} AS (
  SELECT node, CAST(CASE WHEN (SELECT sum(a) FROM a{i}r) > 0
    THEN CAST(a AS HUGEINT) * 1000000 // (SELECT sum(a) FROM a{i}r)
    ELSE 0 END AS BIGINT) AS a FROM a{i}r),
h{i}r AS (
  SELECT n.node, CAST(COALESCE(s.h, 0) AS BIGINT) AS h
  FROM hnodes n LEFT JOIN (
    SELECT c.src AS node, sum(a.a) AS h
    FROM cites c JOIN a{i} a ON c.dst = a.node GROUP BY c.src) s
  ON s.node = n.node),
h{i} AS (
  SELECT node, CAST(CASE WHEN (SELECT sum(h) FROM h{i}r) > 0
    THEN CAST(h AS HUGEINT) * 1000000 // (SELECT sum(h) FROM h{i}r)
    ELSE 0 END AS BIGINT) AS h FROM h{i}r)"""
    # MATERIALIZED: each iteration references cites/hnodes several
    # times; without it DuckDB inlines the whole golden-triples CTE
    # chain once per reference and exhausts file handles
    reg["kg_hits"] = kg_hits, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
cites AS MATERIALIZED (
  SELECT subj AS src, obj AS dst FROM golden
  WHERE pred = 'dcterms:references'
),
hnodes AS MATERIALIZED (
  SELECT src AS node FROM cites UNION SELECT dst FROM cites),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM hnodes),
{_hits_iter.format(i=1, prev=0)},
{_hits_iter.format(i=2, prev=1)}
SELECT node, hub_micro, auth_micro, CAST(rn AS INT) AS rank FROM (
  SELECT h.node, h.h AS hub_micro, a.a AS auth_micro,
         row_number() OVER (ORDER BY a.a DESC, h.h DESC, h.node) AS rn
  FROM h2 h JOIN a2 a ON h.node = a.node)
WHERE rn <= 20
"""

    def kg_triangles(spark, sf):
        """Community structure of the citation graph: per-node
        triangle counts + local clustering coefficient via the
        degree-ordered (compact-forward) wedge join — the orientation
        that keeps hub wedge-sets O(√E) under head-entity skew.
        Graph = citations ∪ structure (isPartOf) ∪ RFC status links:
        triangles close where a document's parts and its peers cite
        the same targets."""
        from ferenda_spark.operators.rank import triangles
        e = _kg_edges(spark, sf)
        preds = ["dcterms:references", "dcterms:isPartOf",
                 "rfc:updates", "rfc:obsoletes"]
        rel = (e.filter(F.col("pred").isin(preds))
               .select(F.col("subj").alias("src"),
                       F.col("obj").alias("dst")))
        return triangles(rel)
    # triangles: the oracle enumerates each triangle a<b<c exactly
    # once over the canonical undirected edge set — value-equal to
    # the engine's degree-ordered enumeration
    reg["kg_triangles"] = kg_triangles, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
und AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS u, greatest(subj, obj) AS v
  FROM golden
  WHERE pred IN ('dcterms:references', 'dcterms:isPartOf',
                 'rfc:updates', 'rfc:obsoletes')
    AND subj <> obj),
deg AS MATERIALIZED (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY 1),
tri AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e1.v = e2.u
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tri UNION ALL
    SELECT b FROM tri UNION ALL
    SELECT c FROM tri)
  GROUP BY 1)
SELECT p.node, d.degree, p.n_triangles,
       (2000 * p.n_triangles) // (d.degree * (d.degree - 1))
         AS coeff_milli
FROM per_node p JOIN deg d ON p.node = d.node
"""

    def kg_linkpred(spark, sf):
        """Missing-citation prediction: Resource-Allocation index
        (Σ 10^6 DIV deg over common neighbors) for non-adjacent doc
        pairs of the citation graph — hub intermediaries above
        degree 50 excluded from candidate generation (their RA
        weight is ≤ 20k micro anyway; the cap is what keeps the
        wedge join subquadratic under head-entity skew).  Top-50."""
        from ferenda_spark.operators.rank import link_prediction_ra
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        ra = link_prediction_ra(cites)
        return analytics.ranked_topk(
            ra, [("score_micro", True), ("u", False), ("v", False)], 50)
    reg["kg_linkpred"] = kg_linkpred, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
und AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS u, greatest(subj, obj) AS v
  FROM golden WHERE pred = 'dcterms:references' AND subj <> obj),
deg AS MATERIALIZED (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY 1),
adj AS (SELECT u AS w, v AS n FROM und
        UNION ALL SELECT v, u FROM und),
mids AS (SELECT a.w, a.n, d.degree FROM adj a
         JOIN deg d ON a.w = d.node WHERE d.degree <= 50),
cand AS (
  SELECT a1.n AS u, a2.n AS v, a1.degree
  FROM mids a1 JOIN (SELECT w, n FROM mids) a2
    ON a1.w = a2.w AND a1.n < a2.n),
scored AS (
  SELECT u, v, CAST(sum(1000000 // degree) AS BIGINT) AS score_micro,
         count(*) AS n_common
  FROM cand GROUP BY 1, 2),
fresh AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM und
                    WHERE und.u = s.u AND und.v = s.v))
SELECT u, v, score_micro, n_common, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score_micro DESC, u, v)
    AS rank FROM fresh) WHERE rank <= 50
"""

    def kg_communities(spark, sf):
        """Citation-graph communities: 2 rounds of synchronous label
        propagation (most-frequent neighbor label, min tie-break) —
        splits the connected citation web into densely-linked groups
        where components() sees only one blob."""
        from ferenda_spark.operators.rank import label_propagation
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        return label_propagation(cites)
    # LPA: both rounds restated with the general argmax form
    # (cnt DESC, label ASC), labels initialized to the node id
    reg["kg_communities"] = kg_communities, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
und AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS u, greatest(subj, obj) AS v
  FROM golden WHERE pred = 'dcterms:references' AND subj <> obj),
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v, u FROM und),
c1 AS (SELECT a.node, a.nbr AS label, count(*) AS cnt
       FROM adj a GROUP BY 1, 2),
l1 AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c1)
  WHERE rn = 1),
c2 AS (SELECT a.node, l1.label, count(*) AS cnt
       FROM adj a JOIN l1 ON a.nbr = l1.node GROUP BY 1, 2),
l2 AS (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c2)
  WHERE rn = 1)
SELECT node, label FROM l2
"""

    def kg_kcore(spark, sf):
        """2-core of the citation graph after exactly 3 peel rounds
        (rank.py::k_core): the dense nucleus left when pendant chains
        and leaves are stripped — the corpus-quality slice a ranking
        job runs on.  Oracle: 3 unrolled peel rounds."""
        from ferenda_spark.operators.rank import k_core
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        return k_core(cites, k=2)
    # three unrolled peel rounds (round = degree census -> keep >= 2
    # -> edges with both endpoints kept); identity rounds harmless
    reg["kg_kcore"] = kg_kcore, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
e0 AS MATERIALIZED (
  SELECT DISTINCT least(subj, obj) AS u, greatest(subj, obj) AS v
  FROM golden WHERE pred = 'dcterms:references' AND subj <> obj),
k1 AS (SELECT node FROM (
         SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
       GROUP BY node HAVING count(*) >= 2),
e1 AS MATERIALIZED (
  SELECT u, v FROM e0 WHERE u IN (SELECT node FROM k1)
                        AND v IN (SELECT node FROM k1)),
k2 AS (SELECT node FROM (
         SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
       GROUP BY node HAVING count(*) >= 2),
e2 AS MATERIALIZED (
  SELECT u, v FROM e1 WHERE u IN (SELECT node FROM k2)
                        AND v IN (SELECT node FROM k2)),
k3 AS (SELECT node FROM (
         SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
       GROUP BY node HAVING count(*) >= 2),
e3 AS MATERIALIZED (
  SELECT u, v FROM e2 WHERE u IN (SELECT node FROM k3)
                        AND v IN (SELECT node FROM k3))
SELECT node, count(*) AS degree FROM (
  SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
GROUP BY node
"""

    def kg_cocitation(spark, sf):
        """Co-citation + bibliographic coupling (rank.py): the two
        classic relatedness signals over the citation graph, unioned
        with a kind tag; wedge centers above the fanout cap are
        excluded on BOTH sides (restated identically in the oracle)."""
        from ferenda_spark.operators.rank import (
            bibliographic_coupling, co_citation,
        )
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        cc = (co_citation(cites)
              .select(F.lit("cocite").alias("kind"), "a", "b",
                      F.col("n_cocited").alias("n")))
        bc = (bibliographic_coupling(cites)
              .select(F.lit("couple").alias("kind"), "a", "b",
                      F.col("n_shared").alias("n")))
        return cc.unionByName(bc)
    # both wedge directions with the same 50-fanout center cap
    reg["kg_cocitation"] = kg_cocitation, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
cites AS MATERIALIZED (
  SELECT DISTINCT subj AS src, obj AS dst FROM golden
  WHERE pred = 'dcterms:references'),
oksrc AS (SELECT src FROM cites GROUP BY src HAVING count(*) <= 50),
okdst AS (SELECT dst FROM cites GROUP BY dst HAVING count(*) <= 50),
cs AS (SELECT c.src, c.dst FROM cites c
       JOIN oksrc USING (src)),
cd AS (SELECT c.src, c.dst FROM cites c
       JOIN okdst USING (dst))
SELECT 'cocite' AS kind, l.dst AS a, r.dst AS b, count(*) AS n
FROM cs l JOIN cs r ON l.src = r.src AND l.dst < r.dst
GROUP BY l.dst, r.dst
UNION ALL
SELECT 'couple', l.src, r.src, count(*)
FROM cd l JOIN cd r ON l.dst = r.dst AND l.src < r.src
GROUP BY l.src, r.src
"""

    def kg_publisher_stats(spark, sf):
        e = _kg_edges(spark, sf)
        return _longify(
            e.filter(F.col("pred") == "dcterms:publisher")
            .groupBy(F.col("obj").alias("publisher"))
            .agg(F.countDistinct("subj").alias("n_docs")))
    reg["kg_publisher_stats"] = kg_publisher_stats, f"""
WITH {_F_CTE}
SELECT {_PUB_URI} AS publisher, count(DISTINCT url) AS n_docs
FROM f GROUP BY 1
"""

    # ---- relational / analytics -----------------------------------------
    def q1_pricing(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return _longify(
            li.filter(F.col("l_shipdate").cast("date")
                      <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))
    reg["q1_pricing"] = q1_pricing, """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    def q3_shipping(spark, sf):
        c = load_table(spark, sf, "customer").filter(
            F.col("c_mktsegment") == "BUILDING")
        o = load_table(spark, sf, "orders").filter(
            F.col("o_orderdate").cast("date") < F.lit("1998-06-01"))
        li = load_table(spark, sf, "lineitem").filter(
            F.col("l_shipdate").cast("date") >= F.lit("1998-06-01"))
        rev = (li.join(o, li.l_orderkey == o.o_orderkey)
               .join(F.broadcast(c), o.o_custkey == c.c_custkey)
               .groupBy("l_orderkey",
                        F.col("o_orderdate").cast("date").cast("string")
                        .alias("orderdate"))
               .agg(F.round(F.sum(F.col("l_extendedprice")
                                  * (1 - F.col("l_discount"))), 2)
                    .alias("revenue")))
        # TakeOrdered top-10, not a global ranking window
        return _longify(analytics.ranked_topk(
            rev, [("revenue", True), ("l_orderkey", False)], 10))
    reg["q3_shipping"] = q3_shipping, """
WITH rev AS (
  SELECT l_orderkey,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
    AND CAST(l_shipdate AS DATE) >= DATE '1998-06-01'
  GROUP BY 1, 2)
SELECT * FROM (
  SELECT l_orderkey, orderdate, revenue,
         row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rank
  FROM rev) WHERE rank <= 10
"""

    def q5_local_supplier(spark, sf):
        c = load_table(spark, sf, "customer")
        o = load_table(spark, sf, "orders")
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        r = load_table(spark, sf, "region")
        joined = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .join(c, o.o_custkey == c.c_custkey)
                  .join(s, li.l_suppkey == s.s_suppkey)
                  .filter(F.col("c_nationkey") == F.col("s_nationkey"))
                  .join(F.broadcast(n), F.col("s_nationkey")
                        == F.col("n_nationkey"))
                  .join(F.broadcast(r), F.col("n_regionkey")
                        == F.col("r_regionkey")))
        return _longify(
            joined.groupBy("r_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lineitems")))
    reg["q5_local_supplier"] = q5_local_supplier, """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""

    def facet_stats_cube(spark, sf):
        o = load_table(spark, sf, "orders")
        return _longify(analytics.facet_stats(
            o, ["o_orderstatus", "o_orderpriority"])
            .withColumn("grouping_mask",
                        F.col("grouping_mask").cast("long")))
    reg["facet_stats_cube"] = facet_stats_cube, """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(grouping(o_orderstatus) * 1
            + grouping(o_orderpriority) * 2 AS BIGINT) AS grouping_mask
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

    def topk_orders(spark, sf):
        o = load_table(spark, sf, "orders")
        top = analytics.topk_per_group(
            o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
            ["o_orderpriority"], "o_totalprice", 3)
        return _longify(top)
    reg["topk_orders"] = topk_orders, """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders) WHERE rank <= 3
"""

    def events_pagination(spark, sf):
        e = load_table(spark, sf, "events")
        return _longify(analytics.paginate(
            e.select("event_id", "event_type", "ts"), "event_type", "ts")
            .select("event_id", "event_type", "rn", "page"))
    reg["events_pagination"] = events_pagination, """
SELECT event_id, event_type,
       row_number() OVER (PARTITION BY event_type ORDER BY ts DESC) AS rn,
       CAST(floor((row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC) - 1) / 100)
            AS BIGINT) AS page
FROM events
"""

    def asof_purchase_click(spark, sf):
        e = load_table(spark, sf, "events")
        purchases = e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts")
        clicks = e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts")
        out = analytics.asof_join(purchases, clicks, "user_id")
        return _longify(out.select(
            F.col("event_id").alias("purchase_event"),
            "user_id",
            F.col("asof_event_id").alias("click_event")))
    reg["asof_purchase_click"] = asof_purchase_click, """
SELECT a.event_id AS purchase_event, a.user_id, b.event_id AS click_event
FROM (SELECT * FROM events WHERE event_type = 'purchase') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
"""

    def sessionize_events(spark, sf):
        e = load_table(spark, sf, "events")
        return _longify(analytics.sessionize(
            e.select("event_id", "user_id", "ts"))
            .select("event_id", "user_id", "session_id"))
    reg["sessionize_events"] = sessionize_events, """
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS n
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       CAST(sum(n) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM flagged
"""

    def range_filters(spark, sf):
        e = load_table(spark, sf, "events")
        return _longify(
            e.filter(F.col("value").between(5, 20)
                     & (F.year("ts") == 2024)
                     & F.col("event_type").like("%i%"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value")))
    reg["range_filters"] = range_filters, """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
WHERE value BETWEEN 5 AND 20 AND year(ts) = 2024 AND event_type LIKE '%i%'
GROUP BY event_type
"""

    def setops_users(spark, sf):
        e = load_table(spark, sf, "events")
        buyers = e.filter((F.col("event_type") == "purchase")
                          & (F.col("value") > 200)).select("user_id")
        erroring = e.filter((F.col("event_type") == "error")
                            & (F.col("value") > 200)).select("user_id")
        return buyers.subtract(erroring)
    reg["setops_users"] = setops_users, """
SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 200
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value > 200
"""

    def natural_sort_parts(spark, sf):
        p = load_table(spark, sf, "part")
        from ferenda_spark.functions.text import natural_sort_key_col
        lab = F.concat(F.lit("item "), F.col("p_size").cast("string"),
                       F.lit(" rev "), (F.col("p_partkey") % 10)
                       .cast("string"))
        df = p.select("p_partkey", lab.alias("label"))
        # full global rank via two-phase ranking (range-repartition +
        # partition-offset row_number) — never one partition
        return _longify(analytics.global_rank(
            df, [natural_sort_key_col(F.col("label")),
                 F.asc("p_partkey")]))
    reg["natural_sort_parts"] = natural_sort_parts, """
SELECT p_partkey,
       'item ' || CAST(p_size AS VARCHAR) || ' rev '
           || CAST(p_partkey % 10 AS VARCHAR) AS label,
       row_number() OVER (ORDER BY p_size, p_partkey % 10, p_partkey) AS rank
FROM part
"""

    # ---- training-data ops ----------------------------------------------
    def dedup_exact_docs(spark, sf):
        return _longify(dedup.exact_dedup(_dup_corpus(spark, sf, 100)))

    _corpus = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 100
)"""
    reg["dedup_exact_docs"] = dedup_exact_docs, f"""
WITH {_corpus}
SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM corpus GROUP BY 1
"""

    def dedup_jaccard(spark, sf):
        """Both jaccard_pairs semantics in ONE gate, tagged by
        `variant`: the DEFAULT df-cap (max_df=1000, non-binding at
        this corpus size → exact all-shingle results) and a BINDING
        hot-shingle cap (max_df=20, sizes recomputed over the capped
        universe) — the skew guard a 100 TB run relies on."""
        corpus = _dup_corpus(spark, sf, 100, mutate=True).filter(
            (F.col("doc_id") < 150) | (F.col("doc_id") >= _COPY_OFFSET))
        return _longify(
            dedup.jaccard_pairs(corpus)
            .withColumn("variant", F.lit("default"))
            .unionByName(
                dedup.jaccard_pairs(corpus, max_df=20)
                .withColumn("variant", F.lit("capped"))))

    _near_corpus = """
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 10000000, 'near duplicate copy ' || text
  FROM documents WHERE doc_id < 100
)"""
    words_c = _WORDS.format(c="text")
    _jac_default = f"""
WITH {_near_corpus},
t AS (SELECT doc_id AS id, {_sh_expr(words_c)} AS sh FROM corpus),
e AS (SELECT id, unnest(sh) AS shingle FROM t),
{_JACCARD_SCORES}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8
"""
    _jac_capped = f"""
WITH {_near_corpus},
t AS (SELECT doc_id AS id, {_sh_expr(words_c)} AS sh FROM corpus),
e0 AS (SELECT id, unnest(sh) AS shingle FROM t),
hot AS (SELECT shingle FROM (
          SELECT shingle, count(*) AS df FROM e0 GROUP BY 1)
        WHERE df > 20),
e AS (SELECT * FROM e0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
{_JACCARD_SCORES}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8
"""
    reg["dedup_jaccard"] = dedup_jaccard, f"""
SELECT id_a, id_b, jaccard, 'default' AS variant FROM ({_jac_default})
UNION ALL
SELECT id_a, id_b, jaccard, 'capped' AS variant FROM ({_jac_capped})
"""

    def containment_docs(spark, sf):
        """Directed near-containment (dedup.containment_pairs): 120-
        char excerpts of the first 60 documents join a 150-document
        corpus — each excerpt's shingles sit almost wholly inside its
        original (containment ≈ 1 toward the whole) while Jaccard
        between the pair is small; threshold 0.7 keeps the boundary-
        shingle fuzz in scope.  The default max_df=1000 cap is
        non-binding at this corpus size, so the oracle restates the
        exact uncapped set arithmetic."""
        docs = (_docs(spark, sf).select("doc_id", "text")
                .filter(F.col("doc_id") < 150))
        excerpts = docs.filter(F.col("doc_id") < 60).select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
            F.substring("text", 1, 120).alias("text"))
        return _longify(dedup.containment_pairs(
            docs.unionByName(excerpts)))
    # directed containment from the same shingle arithmetic: one a<b
    # intersection, both directions divided by their own size (the
    # max_df=1000 default is non-binding on this 210-doc corpus)
    reg["containment_docs"] = containment_docs, f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 10000000, substr(text, 1, 120)
  FROM documents WHERE doc_id < 60
),
t AS (SELECT doc_id AS id, {_sh_expr(words_c)} AS sh FROM corpus),
e AS (SELECT id, unnest(sh) AS shingle FROM t),
sz AS (SELECT id, count(*) AS sz FROM e GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2),
bothdir AS (
  SELECT id_a, id_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b
  FROM inter
  JOIN sz sa ON sa.id = inter.id_a
  JOIN sz sb ON sb.id = inter.id_b)
SELECT id_part, id_whole, containment FROM (
  SELECT id_a AS id_part, id_b AS id_whole,
         round(n_inter / sz_a, 4) AS containment FROM bothdir
  UNION ALL
  SELECT id_b, id_a, round(n_inter / sz_b, 4) FROM bothdir)
WHERE containment >= 0.7
"""

    def cms_heavy_hitters_docs(spark, sf):
        """Count-Min sketch (operators/sketch.py): the d=4 × w=512
        counter matrix over the first 200 documents' tokens, probed
        at the 20 exactly-most-frequent tokens — output (key, exact,
        est) where est is the sketch's one-sided estimate (est ≥
        exact always; equality whenever no collision).  The oracle
        rebuilds the identical counters in SQL (same md5 fold, same
        universal-hash family), so the comparison is bit-exact on
        the sketch arithmetic, not a tolerance check."""
        from ferenda_spark.operators.sketch import cms_lookup, cms_sketch
        toks = (_docs(spark, sf).filter(F.col("doc_id") < 200)
                .select(F.explode(
                    F.split(F.trim(F.col("text")), r"\s+")).alias("key"))
                .filter(F.col("key") != ""))
        sk = cms_sketch(toks)
        exact = toks.groupBy("key").agg(F.count(F.lit(1)).alias("exact"))
        top = (exact.orderBy(F.desc("exact"), F.asc("key")).limit(20)
               .localCheckpoint(eager=True))
        est = cms_lookup(sk, top.select("key"))
        return top.join(est, "key").select("key", "exact", "est")
    # the identical Count-Min arithmetic (sketch.py): md5 fold mod
    # the Mersenne prime, the (a_i·h + b_i) mod p mod w family,
    # min-of-d-counters estimate — bit-exact counters, no tolerance
    reg["cms_heavy_hitters_docs"] = cms_heavy_hitters_docs, f"""
WITH toks AS (
  SELECT unnest({_WORDS.format(c='text')}) AS key
  FROM documents WHERE doc_id < 200),
h AS (
  SELECT key,
         CAST(concat('0x', substr(md5(key), 1, 15)) AS BIGINT)
         % 2147483647 AS h60
  FROM toks),
cells AS (
  SELECT g.r AS row,
         ((((2654435761 * (g.r + 1)) % 2147483647) * h60
           + (40503 * (g.r + 1) + 17) % 2147483647)
          % 2147483647) % 512 AS col
  FROM h, (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS r) g),
sketch AS (SELECT row, col, count(*) AS cnt FROM cells GROUP BY 1, 2),
exact AS (SELECT key, count(*) AS exact FROM toks GROUP BY key),
top AS (SELECT key, exact FROM exact ORDER BY exact DESC, key LIMIT 20),
pos AS (
  SELECT t.key, t.exact, g.r AS row,
         ((((2654435761 * (g.r + 1)) % 2147483647)
           * (CAST(concat('0x', substr(md5(t.key), 1, 15)) AS BIGINT)
              % 2147483647)
           + (40503 * (g.r + 1) + 17) % 2147483647)
          % 2147483647) % 512 AS col
  FROM top t,
       (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS r) g)
SELECT p.key, p.exact, min(coalesce(s.cnt, 0)) AS est
FROM pos p LEFT JOIN sketch s ON s.row = p.row AND s.col = p.col
GROUP BY p.key, p.exact
"""

    def winnow_fingerprints_docs(spark, sf):
        """Winnowed fingerprints (dedup.winnow_fingerprints, SIGMOD
        2003): per 4-window of 5-gram hashes keep the minimum hash at
        its RIGHTMOST tie position — every (id, pos, fp) row for the
        first 80 documents; the oracle replays the identical
        selection (same md5 60-bit fold, list_min + reversed
        list_position tie rule) in SQL."""
        from ferenda_spark.operators.dedup import winnow_fingerprints
        docs = _docs(spark, sf).filter(F.col("doc_id") < 80)
        return _longify(winnow_fingerprints(docs))
    # the winnowing selection replayed exactly: 5-gram md5 60-bit
    # hashes, window-of-4 minimum, rightmost tie via reversed
    # list_position (k=5, w=4 mirror of winnow_fingerprints)
    reg["winnow_fingerprints_docs"] = winnow_fingerprints_docs, """
WITH base AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents WHERE doc_id < 80),
hashed AS (
  SELECT id,
         CASE WHEN len(toks) >= 5 THEN
           [CAST(concat('0x', substr(md5(
                array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT)
            for i in generate_series(1, len(toks) - 4)]
         ELSE [] END AS h
  FROM base),
sel AS (
  SELECT id,
         [{'pos': CAST(j + (4 - list_position(
               list_reverse(h[j:j+3]), list_min(h[j:j+3])) + 1)
               - 1 AS BIGINT),
           'fp': list_min(h[j:j+3])}
          for j in generate_series(1, len(h) - 3)] AS fps
  FROM hashed WHERE len(h) >= 4)
SELECT DISTINCT id, s.pos AS pos, s.fp AS fp
FROM (SELECT id, unnest(fps) AS s FROM sel)
"""

    def dedup_minhash_lsh(spark, sf):
        corpus = _dup_corpus(spark, sf, 100, mutate=True).filter(
            (F.col("doc_id") < 150) | (F.col("doc_id") >= _COPY_OFFSET))
        return _longify(dedup.minhash_dedup_pairs(
            corpus, k=8, threshold=0.8))

    # mirrors dedup.minhash_signature: one md5 per shingle folded to a
    # 60-bit int, then k=8 universal hashes (a_i*h + b_i) mod p
    _p = 2147483647
    hs_expr = ("list_transform(sh, s -> CAST(concat('0x', "
               "substr(md5(s), 1, 15)) AS BIGINT) % " + str(_p) + ")")

    sig_expr = (
        "[list_min([(((2654435761 * (i + 1)) % {p}) * h "
        "+ (40503 * (i + 1) + 17) % {p}) % {p} for h in hv]) "
        "for i in generate_series(0, 7)]").format(p=_p)
    # shared CTE block: corpus → banded-MinHash candidate pairs with
    # verified intersections (used by dedup_minhash_lsh AND the
    # composed curation_survivors oracle — one copy of the math)
    _MINHASH_CTES = f"""t AS (SELECT doc_id AS id, {_sh_expr(words_c)} AS sh FROM corpus),
hv AS (SELECT id, sh, {hs_expr} AS hv FROM t WHERE len(sh) > 0),
sigs AS (SELECT id, {sig_expr} AS sig FROM hv),
bands AS (
  SELECT id, g.b AS band,
         CAST(sig[2 * g.b + 1] AS VARCHAR) || '|' ||
         CAST(sig[2 * g.b + 2] AS VARCHAR) AS band_key
  FROM sigs, (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS b) g),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
e AS (SELECT id, unnest(sh) AS shingle FROM t),
sz AS (SELECT id, count(*) AS sz FROM e GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN e ea ON ea.id = c.id_a
  JOIN e eb ON eb.id = c.id_b AND ea.shingle = eb.shingle
  GROUP BY 1, 2)"""

    reg["dedup_minhash_lsh"] = dedup_minhash_lsh, f"""
WITH {_near_corpus},
{_MINHASH_CTES}
SELECT id_a, id_b,
       round(n_inter / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.id = inter.id_a
JOIN sz sb ON sb.id = inter.id_b
WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 4) >= 0.8
"""

    def dedup_incremental_docs(spark, sf):
        """Incremental (daily-batch) dedup against a persisted MinHash
        band index: history = docs 0-299 (index precomputed once, only
        streamed map-side), batch = genuinely-new docs 300-449 (must
        survive) ∪ near-copies of history docs (band-collide with the
        index → rejected) ∪ exact copies of fresh docs (batch-internal
        min-id keeper).  Returns the surviving batch ids."""
        docs = _docs(spark, sf).select("doc_id", "text")
        history = docs.filter(F.col("doc_id") < 300)
        fresh = docs.filter((F.col("doc_id") >= 300)
                            & (F.col("doc_id") < 450))
        near_hist = (docs.filter(F.col("doc_id") < 50)
                     .select((F.col("doc_id") + _COPY_OFFSET)
                             .alias("doc_id"),
                             F.concat(F.lit("near duplicate copy "),
                                      F.col("text")).alias("text")))
        copy_fresh = (fresh.filter(F.col("doc_id") < 320)
                      .select((F.col("doc_id") + 2 * _COPY_OFFSET)
                              .alias("doc_id"), "text"))
        batch = fresh.unionByName(near_hist).unionByName(copy_fresh)
        index = dedup.minhash_bands(history, k=8, bands=4)
        return _longify(
            dedup.dedup_against_index(batch, index)
            .select("doc_id"))

    # incremental dedup: the same band math over a named source
    def _bands_cte(src: str, pre: str) -> str:
        return f"""{pre}t AS (SELECT doc_id AS id, {_sh_expr(words_c)} AS sh FROM {src}),
{pre}hv AS (SELECT id, {hs_expr} AS hv FROM {pre}t WHERE len(sh) > 0),
{pre}sig AS (SELECT id, {sig_expr} AS sig FROM {pre}hv),
{pre}bands AS (
  SELECT id, g.b AS band,
         CAST(sig[2 * g.b + 1] AS VARCHAR) || '|' ||
         CAST(sig[2 * g.b + 2] AS VARCHAR) AS band_key
  FROM {pre}sig,
       (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS b) g)"""

    reg["dedup_incremental_docs"] = dedup_incremental_docs, f"""
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
fresh AS (SELECT doc_id, text FROM documents
          WHERE doc_id >= 300 AND doc_id < 450),
batch AS (
  SELECT doc_id, text FROM fresh
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET}, 'near duplicate copy ' || text
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + {2 * _COPY_OFFSET}, text FROM fresh
  WHERE doc_id < 320),
{_bands_cte("hist", "h")},
{_bands_cte("batch", "b")},
dead_hist AS (
  SELECT DISTINCT b.id FROM bbands b
  JOIN hbands h ON b.band = h.band AND b.band_key = h.band_key),
kb AS (SELECT * FROM bbands
       WHERE id NOT IN (SELECT id FROM dead_hist)),
w AS (SELECT band, band_key, min(id) AS w FROM kb GROUP BY 1, 2),
losers AS (SELECT DISTINCT kb.id FROM kb
           JOIN w USING (band, band_key) WHERE kb.id > w.w)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id FROM batch b
WHERE b.doc_id NOT IN (SELECT id FROM dead_hist)
  AND b.doc_id NOT IN (SELECT id FROM losers)
"""

    def _rdfs_instance(spark, sf):
        """Doc-derived ABox: an asserted lang type, a lang attribute
        triple and a cites chain per document."""
        docs = _docs(spark, sf).select("doc_id", "lang")
        d = F.concat(F.lit("d:"), F.col("doc_id"))
        return (docs.select(
            d.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.concat(F.lit("c:lang_"), F.col("lang")).alias("obj"))
            .unionByName(docs.select(
                d.alias("subj"), F.lit("p:haslang").alias("pred"),
                F.col("lang").alias("obj")))
            .unionByName(docs.filter(F.col("doc_id") > 0).select(
                d.alias("subj"), F.lit("p:cites").alias("pred"),
                F.concat(F.lit("d:"), F.col("doc_id") - 1).alias("obj"))))

    def kg_rdfs_entailed(spark, sf):
        """RDFS ρdf materialization (operators/infer.py): a tiny
        literal TBox (two subclass chains, a three-deep subproperty
        chain, domain/range through the chain; es/zh classes
        deliberately lack a superclass) forward-chained over the
        doc-derived ABox.  The TBox closes schema-side and broadcasts;
        the ABox streams through one pass.  Returns the materialized
        graph's (pred, cls, n) census — cls splits rdf:type rows per
        class so every rule arm (rdfs2/3/5/7/9/11) pins its own row."""
        from ferenda_spark.operators.infer import rdfs_materialize
        schema = spark.createDataFrame(
            _RDFS_SCHEMA, "subj string, pred string, obj string")
        mat = rdfs_materialize(_rdfs_instance(spark, sf), schema=schema)
        return (mat.groupBy(
            "pred",
            F.when(F.col("pred") == "rdf:type", F.col("obj"))
            .otherwise(F.lit("")).alias("cls"))
            .agg(F.count("*").alias("n")))

    # RDFS ρdf materialization: the same rule set as operators/infer
    # (closed TBox, one ABox pass), stated with recursive CTEs; the
    # mat CTE is shared with the SPARQL-over-entailed-graph oracle
    _rdfs_values = ", ".join(f"('{s}', '{p}', '{ob}')"
                             for s, p, ob in _RDFS_SCHEMA)
    _rdfs_mat_cte = f"""
WITH RECURSIVE
inst AS (
  SELECT 'd:' || doc_id AS subj, 'rdf:type' AS pred,
         'c:lang_' || lang AS obj FROM documents
  UNION ALL
  SELECT 'd:' || doc_id, 'p:haslang', lang FROM documents
  UNION ALL
  SELECT 'd:' || doc_id, 'p:cites', 'd:' || (doc_id - 1)
  FROM documents WHERE doc_id > 0),
sch(subj, pred, obj) AS (VALUES {_rdfs_values}),
scp AS (SELECT subj AS sub, obj AS sup FROM sch
        WHERE pred = 'rdfs:subClassOf'),
sc(sub, sup) AS (
  SELECT sub, sup FROM scp
  UNION
  SELECT sc.sub, scp.sup FROM sc JOIN scp ON scp.sub = sc.sup),
spp AS (SELECT subj AS sub, obj AS sup FROM sch
        WHERE pred = 'rdfs:subPropertyOf'),
sp(sub, sup) AS (
  SELECT sub, sup FROM spp
  UNION
  SELECT sp.sub, spp.sup FROM sp JOIN spp ON spp.sub = sp.sup),
scs AS (SELECT sub, sup FROM sc WHERE sub <> sup),
sps AS (SELECT sub, sup FROM sp WHERE sub <> sup),
dom AS (SELECT subj AS sub, obj AS cls FROM sch
        WHERE pred = 'rdfs:domain'),
rng AS (SELECT subj AS sub, obj AS cls FROM sch
        WHERE pred = 'rdfs:range'),
effdom AS (SELECT sub, cls FROM dom
           UNION
           SELECT sps.sub, dom.cls FROM sps
           JOIN dom ON dom.sub = sps.sup),
effrng AS (SELECT sub, cls FROM rng
           UNION
           SELECT sps.sub, rng.cls FROM sps
           JOIN rng ON rng.sub = sps.sup),
plain AS (SELECT * FROM inst WHERE pred <> 'rdf:type'),
alltypes AS (
  SELECT subj, obj FROM inst WHERE pred = 'rdf:type'
  UNION ALL
  SELECT p.subj, e.cls FROM plain p JOIN effdom e ON e.sub = p.pred
  UNION ALL
  SELECT p.obj, e.cls FROM plain p JOIN effrng e ON e.sub = p.pred),
mat AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT subj, pred, obj FROM inst
    UNION ALL SELECT subj, pred, obj FROM sch
    UNION ALL
    SELECT p.subj, sps.sup, p.obj FROM plain p
    JOIN sps ON sps.sub = p.pred
    UNION ALL SELECT subj, 'rdf:type', obj FROM alltypes
    UNION ALL
    SELECT t.subj, 'rdf:type', scs.sup FROM alltypes t
    JOIN scs ON scs.sub = t.obj
    UNION ALL SELECT sub, 'rdfs:subClassOf', sup FROM scs
    UNION ALL SELECT sub, 'rdfs:subPropertyOf', sup FROM sps))
"""

    reg["kg_rdfs_entailed"] = kg_rdfs_entailed, _rdfs_mat_cte + """
SELECT pred, CASE WHEN pred = 'rdf:type' THEN obj ELSE '' END AS cls,
       count(*) AS n
FROM mat GROUP BY 1, 2
"""

    def kg_sparql_entailed(spark, sf):
        """SPARQL over the ENTAILED graph — the composition the
        reference gets by pointing its .rq queries at a reasoning
        triplestore: rdfs_materialize output feeds the same
        sparql_query compiler unchanged (both speak (subj, pred,
        obj)), so a query over rdf:type sees inferred types (c:doc,
        c:thing, c:citing...) the raw graph never asserted."""
        from ferenda_spark.operators.infer import rdfs_materialize
        from ferenda_spark.operators.sparql import sparql_query
        schema = spark.createDataFrame(
            _RDFS_SCHEMA, "subj string, pred string, obj string")
        mat = (rdfs_materialize(_rdfs_instance(spark, sf),
                                schema=schema)
               # the compiler speaks the full edge schema; in this
               # synthetic CURIE graph a literal is exactly a
               # non-prefixed object (the bare lang attribute values)
               .withColumn("obj_is_literal",
                           ~F.col("obj").rlike("^[a-z]+:"))
               .withColumn("obj_datatype",
                           F.lit(None).cast("string"))
               .withColumn("obj_lang", F.lit(None).cast("string")))
        return sparql_query(mat, """
SELECT ?cls (COUNT(?s) AS ?n) WHERE {
  ?s rdf:type ?cls .
}
GROUP BY ?cls
ORDER BY DESC(?n) ?cls
LIMIT 10
""")
    reg["kg_sparql_entailed"] = kg_sparql_entailed, _rdfs_mat_cte + """
SELECT obj AS cls, count(*) AS n FROM mat
WHERE pred = 'rdf:type'
GROUP BY 1 ORDER BY n DESC, cls LIMIT 10
"""

    def kg_sameas_canonical(spark, sf):
        """owl:sameAs canonicalization (operators/infer.py): mirror
        uris m1:<id> (ids < 200) and m2:<id> (ids < 100) chain to the
        canonical d:<id> spelling; the citation edges are written in
        MIXED spellings plus a raw-duplicate arm (ids < 50) that must
        collapse with its mirror-spelled twin after rewriting.
        Returns the canonicalized cites edge set — every row must be
        pure d:-spelled and exactly one per (citing, cited) pair."""
        from ferenda_spark.operators.infer import sameas_canonicalize
        docs = _docs(spark, sf).select("doc_id")
        did = F.concat(F.lit("d:"), F.col("doc_id"))
        m1 = F.concat(F.lit("m1:"), F.col("doc_id"))
        m2 = F.concat(F.lit("m2:"), F.col("doc_id"))
        sameas = (docs.filter(F.col("doc_id") < 200).select(
            m1.alias("subj"), F.lit("owl:sameAs").alias("pred"),
            did.alias("obj"))
            .unionByName(docs.filter(F.col("doc_id") < 100).select(
                m2.alias("subj"), F.lit("owl:sameAs").alias("pred"),
                m1.alias("obj"))))
        prev = F.col("doc_id") - 1
        edges = (docs.filter(F.col("doc_id") > 0).select(
            F.when(F.col("doc_id") < 200, m1).otherwise(did)
            .alias("subj"),
            F.lit("p:cites").alias("pred"),
            F.when(prev < 100, F.concat(F.lit("m2:"), prev))
            .otherwise(F.concat(F.lit("d:"), prev)).alias("obj"))
            .unionByName(
                docs.filter((F.col("doc_id") > 0)
                            & (F.col("doc_id") < 50)).select(
                    did.alias("subj"), F.lit("p:cites").alias("pred"),
                    F.concat(F.lit("d:"), prev).alias("obj"))))
        out = sameas_canonicalize(sameas.unionByName(edges))
        return out.filter(F.col("pred") == "p:cites") \
            .select("subj", "obj")
    # sameAs canonicalization: components = min uri reachable over
    # the symmetric identity edges (recursive CTE), then rewrite
    reg["kg_sameas_canonical"] = kg_sameas_canonical, """
WITH RECURSIVE
sa AS (
  SELECT 'm1:' || doc_id AS a, 'd:' || doc_id AS b
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'm2:' || doc_id, 'm1:' || doc_id
  FROM documents WHERE doc_id < 100),
e AS (SELECT a, b FROM sa UNION SELECT b, a FROM sa),
nodes AS (SELECT DISTINCT a AS n FROM e),
reach(n, anc) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.a, reach.anc FROM reach JOIN e ON e.b = reach.n),
canon AS (SELECT n, min(anc) AS canon FROM reach GROUP BY n),
edges AS (
  SELECT CASE WHEN doc_id < 200 THEN 'm1:' || doc_id
              ELSE 'd:' || doc_id END AS subj,
         CASE WHEN doc_id - 1 < 100 THEN 'm2:' || (doc_id - 1)
              ELSE 'd:' || (doc_id - 1) END AS obj
  FROM documents WHERE doc_id > 0
  UNION ALL
  SELECT 'd:' || doc_id, 'd:' || (doc_id - 1)
  FROM documents WHERE doc_id > 0 AND doc_id < 50)
SELECT DISTINCT coalesce(cs.canon, edges.subj) AS subj,
                coalesce(co.canon, edges.obj) AS obj
FROM edges
LEFT JOIN canon cs ON cs.n = edges.subj
LEFT JOIN canon co ON co.n = edges.obj
"""

    def kg_owl_properties(spark, sf):
        """OWL property entailment (operators/infer.py): p:next is
        TransitiveProperty over 8-doc chains, p:prev its inverseOf,
        p:near a SymmetricProperty — the bibo:citedBy/skos:exactMatch
        declaration shapes.  Returns the materialized triples for the
        first 64 docs (exact multiset pins all three rule arms plus
        their interaction: the prev-closure is the mirrored
        next-closure)."""
        from ferenda_spark.operators.infer import (
            owl_property_materialize,
        )
        docs = _docs(spark, sf).select("doc_id")
        did = F.concat(F.lit("d:"), F.col("doc_id"))
        decls = spark.createDataFrame(
            [("p:next", "rdf:type", "owl:TransitiveProperty"),
             ("p:prev", "owl:inverseOf", "p:next"),
             ("p:near", "rdf:type", "owl:SymmetricProperty")],
            "subj string, pred string, obj string")
        nxt = docs.filter(F.col("doc_id") % 8 != 0).select(
            did.alias("subj"), F.lit("p:next").alias("pred"),
            F.concat(F.lit("d:"), F.col("doc_id") - 1).alias("obj"))
        near = docs.filter(F.col("doc_id") % 20 == 0).select(
            did.alias("subj"), F.lit("p:near").alias("pred"),
            F.concat(F.lit("d:"), F.col("doc_id") + 1).alias("obj"))
        mat = owl_property_materialize(
            decls.unionByName(nxt).unionByName(near))
        sid = F.substring("subj", 3, 20).try_cast("long")
        return mat.filter(sid < 64)
    # OWL property rules: recursive-CTE next-closure, prev = mirror,
    # near = symmetric double
    reg["kg_owl_properties"] = kg_owl_properties, """
WITH RECURSIVE
nxt AS (SELECT 'd:' || doc_id AS s, 'd:' || (doc_id - 1) AS o
        FROM documents WHERE doc_id % 8 <> 0),
near AS (SELECT 'd:' || doc_id AS s, 'd:' || (doc_id + 1) AS o
         FROM documents WHERE doc_id % 20 = 0),
clo(s, o) AS (
  SELECT s, o FROM nxt
  UNION
  SELECT clo.s, nxt.o FROM clo JOIN nxt ON nxt.s = clo.o),
mat AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT 'p:next' AS subj, 'rdf:type' AS pred,
           'owl:TransitiveProperty' AS obj
    UNION ALL SELECT 'p:prev', 'owl:inverseOf', 'p:next'
    UNION ALL SELECT 'p:near', 'rdf:type', 'owl:SymmetricProperty'
    UNION ALL SELECT s, 'p:next', o FROM clo
    UNION ALL SELECT o, 'p:prev', s FROM clo
    UNION ALL SELECT s, 'p:near', o FROM near
    UNION ALL SELECT o, 'p:near', s FROM near))
SELECT subj, pred, obj FROM mat
WHERE TRY_CAST(substr(subj, 3) AS BIGINT) < 64
"""

    def rdf_ntriples_roundtrip(spark, sf):
        """N-Triples wire round trip (sources/rdf_serial.py): doc-
        derived triples with every hard case — literals embedding
        quotes, newlines, tabs and backslashes, language tags, typed
        integers, resource objects — serialized to N-Triples lines
        (CURIEs expanded to IRIs) and parsed back (IRIs contracted).
        The oracle restates the INPUT, so any serializer/parser
        asymmetry breaks the match; the error column must be all
        NULL."""
        from ferenda_spark.sources.rdf_serial import (
            format_ntriples,
            parse_ntriples,
        )
        pfx = {"d": "http://ex.org/doc/", "p": "http://ex.org/prop/",
               "xsd": "http://www.w3.org/2001/XMLSchema#"}
        docs = _docs(spark, sf).select("doc_id", "text", "lang",
                                       "n_chars")
        subj = F.concat(F.lit("d:"), F.col("doc_id"))
        snull = F.lit(None).cast("string")
        title = F.concat(F.lit('He said "'),
                         F.substring("text", 1, 20),
                         F.lit('"\non line\ttwo \\ end'))
        t1 = docs.select(
            subj.alias("subj"), F.lit("p:title").alias("pred"),
            title.alias("obj"), F.lit(True).alias("obj_is_literal"),
            F.col("lang").alias("obj_lang"),
            snull.alias("obj_datatype"))
        t2 = docs.select(
            subj.alias("subj"), F.lit("p:nchars").alias("pred"),
            F.col("n_chars").cast("string").alias("obj"),
            F.lit(True).alias("obj_is_literal"),
            snull.alias("obj_lang"),
            F.lit("xsd:integer").alias("obj_datatype"))
        t3 = docs.filter(F.col("doc_id") > 0).select(
            subj.alias("subj"), F.lit("p:cites").alias("pred"),
            F.concat(F.lit("d:"), F.col("doc_id") - 1).alias("obj"),
            F.lit(False).alias("obj_is_literal"),
            snull.alias("obj_lang"), snull.alias("obj_datatype"))
        triples = t1.unionByName(t2).unionByName(t3)
        return parse_ntriples(format_ntriples(triples, pfx), pfx)
    # N-Triples round trip: the oracle restates the generated INPUT —
    # the wire format must be a perfect inverse pair
    reg["rdf_ntriples_roundtrip"] = rdf_ntriples_roundtrip, r"""
WITH base AS (SELECT doc_id, text, lang, n_chars FROM documents)
SELECT 'd:' || doc_id AS subj, 'p:title' AS pred,
       'He said "' || substr(text, 1, 20) || '"' || chr(10)
         || 'on line' || chr(9) || 'two \ end' AS obj,
       TRUE AS obj_is_literal, lang AS obj_lang,
       CAST(NULL AS VARCHAR) AS obj_datatype,
       CAST(NULL AS VARCHAR) AS error
FROM base
UNION ALL
SELECT 'd:' || doc_id, 'p:nchars', CAST(n_chars AS VARCHAR),
       TRUE, NULL, 'xsd:integer', NULL
FROM base
UNION ALL
SELECT 'd:' || doc_id, 'p:cites', 'd:' || (doc_id - 1),
       FALSE, NULL, NULL, NULL
FROM base WHERE doc_id > 0
"""

    def curation_survivors(spark, sf):
        """End-to-end curation chain — the composed workflow a
        training-data user actually runs: MinHash-LSH near-dup
        removal (drop the higher id of each ≥0.8 pair) → quality
        floor → language filter. Every stage is an existing
        operator; the oracle recomposes the same chain in SQL."""
        corpus = _dup_corpus(spark, sf, 100, mutate=True).filter(
            (F.col("doc_id") < 150) | (F.col("doc_id") >= _COPY_OFFSET))
        pairs = dedup.minhash_dedup_pairs(
            corpus, k=8, threshold=0.8)
        drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        # kept feeds three branches (rows, quality, langid) — persist
        # so the LSH anti-join lineage runs once; ContextCleaner
        # reclaims the cache when the returned plan is GC'd
        kept = corpus.join(drop, "doc_id", "left_anti").persist()
        qual = textstats.quality_score(kept).select("doc_id", "quality")
        lang = textstats.langid(kept).select("doc_id", "pred_lang")
        return _longify(
            kept.join(qual, "doc_id").join(lang, "doc_id")
            .filter((F.col("quality") >= 0.5)
                    & (F.col("pred_lang") == "en"))
            .select("doc_id", "quality", "pred_lang"))

    stop_list = _sql_list(textstats.STOPWORDS)
    def _quality_ctes(src: str) -> str:
        """(doc_id, text) src → qm CTE with n/n_stop/n_dist — shared
        by text_metrics and curation_survivors."""
        return f"""qw AS (SELECT doc_id, {words_c} AS w FROM {src}),
m AS (SELECT doc_id, len(w) AS n,
             len(list_filter(w, x -> list_contains({stop_list}, x))) AS n_stop,
             len(list_distinct(w)) AS n_dist
      FROM qw)"""

    _QUALITY_EXPR = """round(CAST(0.4 AS DOUBLE) * least(n / CAST(50.0 AS DOUBLE), 1.0)
             + CAST(0.3 AS DOUBLE)
               * least(n_stop / greatest(n, 1) * 5, 1.0)
             + CAST(0.3 AS DOUBLE) * (n_dist / greatest(n, 1)), 4)"""

    lang_hits = []
    for lang in textstats.LANG_ORDER:
        ml = _sql_list(textstats.LANG_MARKERS[lang])
        lang_hits.append(
            f"len(list_filter(w, x -> list_contains({ml}, x))) AS h_{lang}")
    keys = ", ".join(f"h_{l} * 100 - {r} AS k_{l}"
                     for r, l in enumerate(textstats.LANG_ORDER))
    maxk = "greatest(" + ", ".join(
        f"k_{l}" for l in textstats.LANG_ORDER) + ")"
    pred_case = "CASE " + " ".join(
        f"WHEN k_{l} = {maxk} THEN '{l}'"
        for l in textstats.LANG_ORDER) + " END"
    hits_case = "CASE " + " ".join(
        f"WHEN k_{l} = {maxk} THEN h_{l}"
        for l in textstats.LANG_ORDER) + " END"
    def _langid_ctes(src: str) -> str:
        """(doc_id, text) src → k CTE with per-language keys — shared
        by text_metrics and curation_survivors."""
        return f"""lw AS (SELECT doc_id, {_WORDS.format(c='lower(text)')} AS w FROM {src}),
lh AS (SELECT doc_id, {', '.join(lang_hits)} FROM lw),
k AS (SELECT doc_id, {keys},
             h_en, h_es, h_fr, h_de, h_zh FROM lh)"""

    reg["curation_survivors"] = curation_survivors, f"""
WITH {_near_corpus},
{_MINHASH_CTES},
dropped AS (
  SELECT DISTINCT inter.id_b AS doc_id
  FROM inter JOIN sz sa ON sa.id = inter.id_a
             JOIN sz sb ON sb.id = inter.id_b
  WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 4) >= 0.8),
kept AS (SELECT doc_id, text FROM corpus
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
{_quality_ctes('kept')},
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
{_langid_ctes('kept')},
lang AS (SELECT doc_id, {pred_case} AS pred_lang FROM k)
SELECT kept.doc_id, q.quality, l.pred_lang
FROM kept JOIN qual q USING (doc_id) JOIN lang l USING (doc_id)
WHERE q.quality >= 0.5 AND l.pred_lang = 'en'
"""

    def dedup_simhash(spark, sf):
        return _longify(dedup.simhash_signatures(_docs(spark, sf)))

    reg["dedup_simhash"] = dedup_simhash, f"""
WITH t AS (SELECT doc_id AS id, {_SIMHASH_TH} AS th FROM documents)
SELECT id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t
"""

    def dedup_simhash_pairs(spark, sf):
        corpus = _dup_corpus(spark, sf, 100, mutate=True).filter(
            (F.col("doc_id") < 100) | (F.col("doc_id") >= _COPY_OFFSET))
        return _longify(dedup.simhash_near_pairs(
            corpus))
    reg["dedup_simhash_pairs"] = dedup_simhash_pairs, f"""
WITH {_SIMHASH_BANDED_CTE},
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT))::BIGINT
             AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.block = b.block AND a.id < b.id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6
"""

    def dedup_components(spark, sf):
        """Cluster-correct near-dup grouping: SimHash pairs →
        distributed connected components (min-label propagation with
        pointer doubling) → (id, comp, csize). comp == id marks the
        keeper; the oracle recomputes the closure with a recursive
        CTE over the identical pair list."""
        corpus = _dup_corpus(spark, sf, 100, mutate=True).filter(
            (F.col("doc_id") < 100) | (F.col("doc_id") >= _COPY_OFFSET))
        pairs = dedup.simhash_near_pairs(
            corpus)
        return _longify(dedup.component_clusters(pairs))
    reg["dedup_components"] = dedup_components, f"""
WITH RECURSIVE {_SIMHASH_COMPONENTS_CTE},
sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS csize
          FROM comp GROUP BY comp)
SELECT CAST(c.id AS BIGINT) AS id, c.comp, s.csize
FROM comp c JOIN sizes s USING (comp)
"""

    def canonical_docs(spark, sf):
        """Quality-aware canonical selection (dedup.select_canonical):
        the dedup_components clusters re-keyed to keep the LONGEST
        member (score = text length, min id on ties) instead of the
        min-id keeper — of N mirrors keep the best copy.  Oracle:
        the same recursive-CTE components + a row_number winner per
        cluster."""
        corpus = _dup_corpus(spark, sf, 100, mutate=True).filter(
            (F.col("doc_id") < 100) | (F.col("doc_id") >= _COPY_OFFSET))
        pairs = dedup.simhash_near_pairs(
            corpus)
        clusters = dedup.component_clusters(pairs).select("id", "comp")
        scored = corpus.withColumn("score", F.length("text"))
        return _longify(dedup.select_canonical(scored, clusters,
                                               score_col="score"))
    # canonical selection: the identical component closure, score =
    # text length, winner per comp by (score DESC, id ASC); docs
    # outside every cluster are their own singleton comp
    reg["canonical_docs"] = canonical_docs, f"""
WITH RECURSIVE {_SIMHASH_COMPONENTS_CTE},
member AS (
  SELECT CAST(c.doc_id AS BIGINT) AS id,
         CAST(length(c.text) AS BIGINT) AS score,
         coalesce(k.comp, c.doc_id) AS comp
  FROM corpus c LEFT JOIN comp k ON k.id = c.doc_id),
win AS (
  SELECT comp, id AS keeper_id FROM (
    SELECT comp, id, row_number() OVER (
      PARTITION BY comp ORDER BY score DESC, id ASC) AS rn
    FROM member) WHERE rn = 1)
SELECT m.id, m.comp, m.score, w.keeper_id,
       m.id = w.keeper_id AS is_keeper
FROM member m JOIN win w USING (comp)
"""

    def decontaminate_docs(spark, sf):
        """Train/eval decontamination: every doc sharing any word
        13-gram with the benchmark slice (doc_id % 50 == 0) is
        flagged; docs shorter than 13 tokens are trivially clean."""
        d = _docs(spark, sf)
        bench = d.filter(F.col("doc_id") % 50 == 0).select("text")
        return _longify(dedup.decontaminate(d, bench))

    _words13 = _WORDS.format(c="text")
    reg["decontaminate_docs"] = decontaminate_docs, f"""
WITH t AS (SELECT doc_id AS id, {_sh_expr(_words13, 13)} AS sh
           FROM documents),
b AS (SELECT DISTINCT unnest(sh) AS shingle FROM t WHERE id % 50 = 0),
e AS (SELECT id, unnest(sh) AS shingle FROM t),
h AS (SELECT e.id, CAST(count(DISTINCT e.shingle) AS BIGINT) AS n_hits
      FROM e JOIN b USING (shingle) GROUP BY e.id)
SELECT t.id, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM t LEFT JOIN h ON h.id = t.id
"""

    def decontaminate_bloom_docs(spark, sf):
        """The bench-too-big-to-broadcast variant: a fixed-size
        broadcast Bloom filter prefilters corpus shingles map-side
        (Arrow probe, ~0.8% false positives), exact verify join on the
        survivors only.  Result is EXACT — same oracle as
        decontaminate_docs."""
        d = _docs(spark, sf)
        bench = d.filter(F.col("doc_id") % 50 == 0).select("text")
        return _longify(dedup.decontaminate_bloom(d, bench))
    # the bloom prefilter is exact after its verify join — same oracle
    reg["decontaminate_bloom_docs"] = decontaminate_bloom_docs, reg["decontaminate_docs"][1]

    def sample_mixture_docs(spark, sf):
        """Deterministic per-language mixture sample: en kept at 0.5,
        zh at 0.2, everything else at 0.05 — salted-md5 variate, so
        the selection is reproducible across runs and engines."""
        from ferenda_spark.operators import sampling
        d = _docs(spark, sf).select("doc_id", "lang")
        return _longify(sampling.stratified_sample(
            d, {"en": 0.5, "zh": 0.2}, default_rate=0.05))


    from ferenda_spark.operators.sampling import rate_threshold

    reg["sample_mixture_docs"] = sample_mixture_docs, f"""
SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5('mix-v1:' ||
        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
  < CASE lang WHEN 'en' THEN {rate_threshold(0.5)}
              WHEN 'zh' THEN {rate_threshold(0.2)}
              ELSE {rate_threshold(0.05)} END
"""

    def quota_sample_docs(spark, sf):
        """Per-group document quota (the C4/RefinedWeb per-domain URL
        cap): each source down-sampled to ~10 docs via the salted
        integer-threshold draw — over-cap groups keep rows iff
        u < cap·(2^60 DIV count), all-BIGINT, reproducible."""
        from ferenda_spark.operators import sampling
        d = _docs(spark, sf).select("doc_id", "source")
        return _longify(sampling.quota_sample(
            d, cap=10, group_col="source"))
    reg["quota_sample_docs"] = quota_sample_docs, """
WITH n AS (SELECT source, count(*) AS grp_n FROM documents GROUP BY 1)
SELECT d.doc_id, d.source
FROM documents d JOIN n ON d.source IS NOT DISTINCT FROM n.source
WHERE n.grp_n <= 10
   OR CAST(concat('0x', substr(md5('quota-v1:' ||
        CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      < 10 * (1152921504606846976 // n.grp_n)
"""

    def training_shards_docs(spark, sf):
        """Deterministic training-shard packing: every document's
        shard under the salted-md5 global shuffle order + greedy
        sequential token-budget packing (operators/shards.py) — the
        two-phase bucketed cumsum must equal the oracle's single
        global window exactly."""
        from ferenda_spark.operators.shards import assign_shards
        d = _docs(spark, sf).select("doc_id", "n_chars")
        a = assign_shards(d, budget=50000, weight_col="n_chars")
        return a.select("doc_id", "shuffle_key", "shard")

    # shard packing restated as ONE global window (the semantics the
    # bucketed two-phase implementation must reproduce exactly)
    _SHARD_CTE = """
t AS (
  SELECT doc_id, n_chars AS w,
    CAST(concat('0x', substr(md5('shard-v1:' ||
         CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hkey
  FROM documents),
c AS (
  SELECT doc_id, hkey, w,
    CAST(sum(w) OVER (ORDER BY hkey, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) - w AS prev
  FROM t)
"""
    reg["training_shards_docs"] = training_shards_docs, f"""
WITH {_SHARD_CTE}
SELECT doc_id, hkey AS shuffle_key,
       CAST(prev // 50000 AS BIGINT) AS shard
FROM c
"""

    def training_shard_manifest(spark, sf):
        """Per-shard accounting sidecar over the same assignment."""
        from ferenda_spark.operators.shards import (assign_shards,
                                                    shard_manifest)
        d = _docs(spark, sf).select("doc_id", "n_chars")
        a = assign_shards(d, budget=50000, weight_col="n_chars")
        return shard_manifest(a, "n_chars")
    reg["training_shard_manifest"] = training_shard_manifest, f"""
WITH {_SHARD_CTE}
SELECT CAST(prev // 50000 AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(w) AS BIGINT) AS total_weight,
       min(hkey) AS first_key, max(hkey) AS last_key
FROM c GROUP BY 1
"""

    def pack_contexts_docs(spark, sf):
        """Concat-and-split context packing: every (document,
        context) incidence with its cut plan under a 512-token
        context over the same deterministic corpus order."""
        from ferenda_spark.operators.shards import pack_contexts
        d = _docs(spark, sf).select("doc_id", "n_chars")
        p = pack_contexts(d, context_len=512, weight_col="n_chars")
        return p.select("doc_id", "ctx", "ctx_offset",
                        "slice_start", "slice_len")
    reg["pack_contexts_docs"] = pack_contexts_docs, f"""
WITH {_SHARD_CTE},
e AS (
  SELECT doc_id, prev, w,
         unnest(generate_series(prev // 512, (prev + w - 1) // 512))
           AS ctx
  FROM c WHERE w > 0)
SELECT doc_id, ctx,
  greatest(prev - ctx * 512, 0) AS ctx_offset,
  greatest(ctx * 512 - prev, 0) AS slice_start,
  (least((ctx + 1) * 512, prev + w) - prev)
    - greatest(ctx * 512 - prev, 0) AS slice_len
FROM e
"""

    def latest_fetch_docs(spark, sf):
        """Crawl-snapshot dedup: the corpus plus synthesized refetch
        variants (fragment / trailing-slash urls at later fetch
        times) collapses to one newest fetch per canonical url."""
        from ferenda_spark.operators.webfilter import latest_fetch
        p = _pages(spark, sf).select("url", "warc_ts")
        d_id = F.regexp_extract(F.col("url"), r"(\d+)$", 1).cast("long")
        v1 = (p.filter(d_id % 5 == 0).select(
            F.concat(F.col("url"), F.lit("#top")).alias("url"),
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
            .alias("warc_ts")))
        v2 = (p.filter(d_id % 7 == 0).select(
            F.concat(F.col("url"), F.lit("/")).alias("url"),
            (F.col("warc_ts") + F.expr("INTERVAL 2 DAY"))
            .alias("warc_ts")))
        lf = latest_fetch(p.unionByName(v1).unionByName(v2))
        return lf.select(
            "canonical_url", F.col("url").alias("winner_url"),
            F.col("warc_ts").cast("long").alias("latest_epoch"),
            "n_fetches")
    reg["latest_fetch_docs"] = latest_fetch_docs, f"""
WITH {_F_CTE}
SELECT url AS canonical_url,
  CASE WHEN doc_id % 7 = 0 THEN url || '/'
       WHEN doc_id % 5 = 0 THEN url || '#top'
       ELSE url END AS winner_url,
  1704067200 + doc_id * 137
    + CASE WHEN doc_id % 7 = 0 THEN 172800
           WHEN doc_id % 5 = 0 THEN 86400 ELSE 0 END AS latest_epoch,
  CAST(1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
       AS BIGINT) AS n_fetches
FROM f
"""

    def head_meta_docs(spark, sf):
        """Page-head metadata harvest (structured_data.head_meta):
        title, OpenGraph og:title, meta description, an hreflang
        alternate, and — on two of every three pages — a
        rel=canonical link whose RELATIVE href must resolve against
        the page url.  The oracle restates every harvested row,
        including document-order positions and the ../-resolution
        arithmetic."""
        from ferenda_spark.operators.structured_data import head_meta
        did = F.col("doc_id").cast("string")
        site = F.concat(F.lit("https://news"),
                        (F.col("doc_id") % 5).cast("string"),
                        F.lit(".example"))
        url = F.concat(site, F.lit("/a/"), did)
        leader = (F.col("doc_id") - F.col("doc_id") % 3).cast("string")
        canon_tag = F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(F.lit('<link rel="canonical" href="../art/'),
                     leader, F.lit('">'))).otherwise(F.lit(""))
        html = F.concat(
            F.lit("<html><head><title> Story  "), did,
            F.lit(" </title><meta property=\"og:title\" content=\"OG "),
            did, F.lit('"/><meta name="Description" content="D'),
            (F.col("doc_id") % 11).cast("string"),
            F.lit('"><link rel="alternate" href="/sv/'), did,
            F.lit('" hreflang="sv">'), canon_tag,
            F.lit("</head><body>x</body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        return head_meta(pages)
    reg["head_meta_docs"] = head_meta_docs, """
WITH d AS (
  SELECT doc_id,
    'https://news' || CAST(doc_id % 5 AS VARCHAR) || '.example'
      AS site,
    'https://news' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/'
      || CAST(doc_id AS VARCHAR) AS url,
    CAST(doc_id AS VARCHAR) AS did,
    CAST(doc_id - doc_id % 3 AS VARCHAR) AS leader
  FROM documents)
SELECT url AS src_url, 'title' AS kind, '' AS key,
       'Story ' || did AS value, CAST(NULL AS VARCHAR) AS hreflang,
       0 AS pos
FROM d
UNION ALL
SELECT url, 'meta', 'og:title', 'OG ' || did, NULL, 1 FROM d
UNION ALL
SELECT url, 'meta', 'description',
       'D' || CAST(doc_id % 11 AS VARCHAR), NULL, 2 FROM d
UNION ALL
SELECT url, 'link', 'alternate', site || '/sv/' || did, 'sv', 3
FROM d
UNION ALL
SELECT url, 'link', 'canonical', site || '/art/' || leader, NULL, 4
FROM d WHERE doc_id % 3 <> 0
"""

    def canonical_declared_dedup(spark, sf):
        """Declared-canonical snapshot dedup (webfilter.
        declared_canonical_fetch): every group of three consecutive
        doc_ids fetches three distinct mirror urls that all declare
        ONE rel=canonical target, except doc_id%4==0 pages which
        declare nothing and fall back to their own normalized url —
        the operator must collapse each declaring group to its
        newest fetch and leave the silent pages alone.  Oracle: the
        same grouping + arg_max restated."""
        from ferenda_spark.operators.webfilter import (
            declared_canonical_fetch,
        )
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://m.site/a/"), did)
        leader = (F.col("doc_id") - F.col("doc_id") % 3).cast("string")
        html = F.when(
            F.col("doc_id") % 4 != 0,
            F.concat(F.lit('<html><head><link rel="canonical" '
                           'href="https://site.example/art/'),
                     leader,
                     F.lit('"></head><body>b</body></html>'))
        ).otherwise(F.lit("<html><body>no declaration</body></html>"))
        fetches = _docs(spark, sf).select(
            url.alias("url"),
            F.timestamp_seconds(F.lit(1704067200)
                                + F.col("doc_id") * 7).alias("warc_ts"),
            html.alias("html"))
        out = declared_canonical_fetch(fetches)
        return out.select(
            "canonical_url", F.col("url").alias("winner_url"),
            F.col("warc_ts").cast("long").alias("latest_epoch"),
            "declared", "n_fetches")
    reg["canonical_declared_dedup"] = canonical_declared_dedup, """
WITH d AS (
  SELECT doc_id,
    'https://m.site/a/' || CAST(doc_id AS VARCHAR) AS url,
    1704067200 + doc_id * 7 AS epoch,
    doc_id % 4 <> 0 AS declares,
    doc_id - doc_id % 3 AS leader
  FROM documents),
k AS (
  SELECT *, CASE WHEN declares
    THEN 'https://site.example/art/' || CAST(leader AS VARCHAR)
    ELSE url END AS canon
  FROM d)
SELECT canon AS canonical_url,
       arg_max(url, epoch) AS winner_url,
       max(epoch) AS latest_epoch,
       arg_max(declares, epoch) AS declared,
       count(*) AS n_fetches
FROM k GROUP BY 1
"""

    def bpe_train_docs(spark, sf):
        """Distributed BPE tokenizer training (tokenize.bpe_train):
        four merge rounds over the corpus's distinct-word table —
        ONE corpus pass for word counts, then per round one
        map-side-combinable pair-count groupBy, a deterministic
        argmax (count desc, lexicographic tiebreak) and a
        pure-column greedy merge fold.  The oracle unrolls the same
        four rounds in SQL (window-lead pair counts, ORDER BY
        argmax, delimiter-string replace merges), so argmax ties,
        fold semantics and count arithmetic are all checked."""
        from ferenda_spark.operators.tokenize import (bpe_train,
                                                      merges_df)
        merges = bpe_train(_docs(spark, sf), 4, min_pair_freq=2)
        return merges_df(spark, merges).select(
            "rank", F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"), "freq")

    # BPE training: four unrolled merge rounds.  Each round: symbol
    # pairs via window-lead over the unnested symbol strings, argmax
    # with the (cnt DESC, l, r) total order, then the merge applied
    # as ONE literal replace over the chr(31)-delimited string —
    # provably the same greedy leftmost pass as the engine's fold.
    _bpe_round = """p{k} AS (
  SELECT l, r, sum(wcount) AS cnt FROM (
    SELECT wcount, sym AS l,
           lead(sym) OVER (PARTITION BY word ORDER BY i) AS r
    FROM (SELECT word, wcount,
                 unnest(string_split(trim(s, chr(31)),
                                     chr(31) || chr(31))) AS sym,
                 generate_subscripts(string_split(trim(s, chr(31)),
                     chr(31) || chr(31)), 1) AS i
          FROM w{j})) WHERE r IS NOT NULL GROUP BY 1, 2),
b{k} AS (SELECT l, r, cnt FROM p{k} WHERE cnt >= 2
         ORDER BY cnt DESC, l, r LIMIT 1),
w{k} AS (SELECT word, wcount,
  CASE WHEN b{k}.l IS NULL THEN s ELSE
    replace(s,
            chr(31) || b{k}.l || chr(31) || chr(31) || b{k}.r || chr(31),
            chr(31) || b{k}.l || b{k}.r || chr(31)) END AS s
  FROM w{j} LEFT JOIN b{k} ON TRUE)"""
    _bpe_rounds = ",\n".join(
        _bpe_round.format(k=k, j=k - 1) for k in (1, 2, 3, 4))
    reg["bpe_train_docs"] = bpe_train_docs, f"""
WITH w0 AS (
  SELECT word, count(*) AS wcount,
         chr(31) || array_to_string(regexp_extract_all(word, '.'),
                                    chr(31) || chr(31)) || chr(31) AS s
  FROM (SELECT unnest(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS word FROM documents)
  GROUP BY 1),
{_bpe_rounds}
SELECT 0 AS rank, l AS left_sym, r AS right_sym,
       CAST(cnt AS BIGINT) AS freq FROM b1
UNION ALL SELECT 1, l, r, CAST(cnt AS BIGINT) FROM b2
UNION ALL SELECT 2, l, r, CAST(cnt AS BIGINT) FROM b3
UNION ALL SELECT 3, l, r, CAST(cnt AS BIGINT) FROM b4
"""

    def bpe_encode_docs(spark, sf):
        """BPE encoding under a fixed ranked merge table
        (tokenize.bpe_encode): the broadcast-merges Arrow encoder
        tokenizes every document; output is the per-doc token count
        and an md5 over the space-joined token sequence, so ORDER,
        boundaries and merge application are all pinned.  Oracle:
        the identical merge chain as literal replaces over
        chr(31)-delimited symbol strings per pre-token."""
        from ferenda_spark.operators.tokenize import bpe_encode
        enc = bpe_encode(_docs(spark, sf), _BPE_FIXED_MERGES,
                         id_cols=("doc_id",))
        return enc.select(
            "doc_id", "n_tokens",
            F.md5(F.array_join("tokens", " ")).alias("tokens_md5"))

    _bpe_w = ("chr(31) || array_to_string(regexp_extract_all(w, '.'), "
              "chr(31) || chr(31)) || chr(31)")
    for _l, _r in _BPE_FIXED_MERGES:
        _bpe_w = (f"replace({_bpe_w}, chr(31) || '{_l}' || chr(31) || "
                  f"chr(31) || '{_r}' || chr(31), "
                  f"chr(31) || '{_l}{_r}' || chr(31))")
    reg["bpe_encode_docs"] = bpe_encode_docs, f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text),
      '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS words
  FROM documents),
e AS (
  SELECT doc_id, flatten(list_transform(words, w ->
    string_split(trim({_bpe_w}, chr(31)),
                 chr(31) || chr(31)))) AS toks
  FROM t)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks, ' ')) AS tokens_md5
FROM e
"""

    def main_content_docs(spark, sf):
        """Main-content extraction (content.main_content): chrome-
        laden synthetic pages — head+script, a nav rail, a
        related-links block (≈100% link density), a sub-threshold
        'tiny' block and a footer — must reduce to exactly the two
        prose paragraphs, one of which carries an inline anchor that
        stays UNDER the 1/3 link-density bound.  The oracle restates
        the surviving content string and every audit counter from
        the doc_id arithmetic."""
        from ferenda_spark.operators.content import main_content
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://wild.example/p/"), did)
        html = F.concat(
            F.lit("<html><head><title>Doc "), did,
            F.lit("</title><script>t();</script></head><body>"
                  '<nav><a href="/">Home</a> <a href="/s">Sections'
                  "</a></nav><div><p>Paragraph one of document "),
            did,
            F.lit(" discusses the protocol at considerable length"
                  " for testing.</p><p>tiny</p>"
                  "<p>Second paragraph of document "), did,
            F.lit(' has one <a href="/x">inline reference</a> but'
                  " remains mostly prose.</p></div>"
                  '<div><a href="/r1">Related item one for '), did,
            F.lit('</a> <a href="/r2">Related item two for '), did,
            F.lit("</a></div><footer>Copyright 2024 site "), did,
            F.lit("</footer></body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        return main_content(pages)
    reg["main_content_docs"] = main_content_docs, """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS did FROM documents),
b AS (
  SELECT did,
    'Paragraph one of document ' || did ||
      ' discusses the protocol at considerable length for testing.'
      AS p1,
    'Second paragraph of document ' || did ||
      ' has one inline reference but remains mostly prose.' AS p2,
    'Related item one for ' || did || ' Related item two for '
      || did AS rel
  FROM d)
SELECT 'https://wild.example/p/' || did AS url,
       p1 || chr(10) || p2 AS content,
       2 AS n_kept, 2 AS n_dropped,
       CAST(len(p1) + len(p2) AS BIGINT) AS content_chars,
       CAST(len(p1) + len(p2) + len('tiny') + len(rel) AS BIGINT)
         AS total_chars
FROM b
"""

    def curation_pipeline_v5(spark, sf):
        """The session-8 ingest story end-to-end: a two-snapshot
        wild crawl whose refetch variants (?utm urls, extra chrome
        in the bytes) declare the SAME rel=canonical →
        declared_canonical_fetch collapses them → main_content
        strips nav/related/footer chrome (so the byte-different
        refetch yields the IDENTICAL content) → BPE token counting
        under the fixed merge table → a 170-token floor (only the
        docs carrying the bonus paragraph clear it) → deterministic
        shard packing at a 2000-token budget.  The oracle
        recomposes every arm: winner selection, the surviving
        content string, the replace-chain token count, the floor,
        and the hkey-cumsum shard arithmetic."""
        from ferenda_spark.operators.content import main_content
        from ferenda_spark.operators.shards import assign_shards
        from ferenda_spark.operators.tokenize import bpe_encode
        from ferenda_spark.operators.webfilter import (
            declared_canonical_fetch,
        )
        d = _docs(spark, sf)
        did = F.col("doc_id").cast("string")
        base_url = F.concat(F.lit("https://wild.example/p/"), did)

        def page_html(extra_chrome):
            bonus = F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("<p>Bonus paragraph for document "),
                         did,
                         F.lit(" adds enough extra prose to clear"
                               " the token floor comfortably.</p>"))
            ).otherwise(F.lit(""))
            return F.concat(
                F.lit('<html><head><link rel="canonical" href="'),
                base_url,
                F.lit('"><title>Doc '), did,
                F.lit("</title></head><body><nav>"
                      '<a href="/">Home</a></nav>'
                      "<div><p>Paragraph one of document "), did,
                F.lit(" discusses the protocol at considerable"
                      " length for testing.</p><p>tiny</p>"
                      "<p>Second paragraph of document "), did,
                F.lit(" has one inline reference but remains mostly"
                      " prose.</p>"), bonus,
                F.lit('</div><div><a href="/r1">Related one for '),
                did, F.lit("</a></div>"), extra_chrome,
                F.lit("<footer>Copyright 2024</footer>"
                      "</body></html>"))

        ts0 = F.timestamp_seconds(F.lit(1704067200)
                                  + F.col("doc_id") * 7)
        base = d.select(base_url.alias("url"), ts0.alias("warc_ts"),
                        page_html(F.lit("")).alias("html"))
        variant = (d.filter(F.col("doc_id") % 5 == 0).select(
            F.concat(base_url, F.lit("?utm=1")).alias("url"),
            (ts0 + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            page_html(F.concat(
                F.lit('<div><a href="/promo">Promoted content for '),
                did, F.lit("</a></div>"))).alias("html")))
        winners = declared_canonical_fetch(base.unionByName(variant))
        pages = winners.select(F.col("canonical_url").alias("url"),
                               "html")
        content = main_content(pages)
        enc = bpe_encode(content, _BPE_FIXED_MERGES,
                         text_col="content", id_cols=("url",))
        kept = (enc.select("url",
                           F.col("n_tokens").cast("long").alias("w"))
                .filter(F.col("w") >= 170)
                .localCheckpoint(eager=False))
        a = assign_shards(kept, budget=2000, weight_col="w",
                          key_col="url")
        return a.select("url", "shard",
                        F.col("w").alias("n_tokens"))
    reg["curation_pipeline_v5"] = curation_pipeline_v5, f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS did,
         doc_id % 3 = 0 AS bonus
  FROM documents),
c AS (
  SELECT 'https://wild.example/p/' || did AS url,
    'Paragraph one of document ' || did ||
      ' discusses the protocol at considerable length for testing.'
    || chr(10) ||
    'Second paragraph of document ' || did ||
      ' has one inline reference but remains mostly prose.'
    || CASE WHEN bonus THEN chr(10)
         || 'Bonus paragraph for document ' || did
         || ' adds enough extra prose to clear the token floor'
         || ' comfortably.'
       ELSE '' END AS content
  FROM d),
tok AS (
  SELECT url, CAST(len(flatten(list_transform(
      regexp_extract_all(lower(content),
                         '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
      w -> string_split(trim({_bpe_w}, chr(31)),
                        chr(31) || chr(31))))) AS BIGINT) AS n_tokens
  FROM c),
kept AS (SELECT * FROM tok WHERE n_tokens >= 170),
t AS (SELECT url, n_tokens,
        CAST(concat('0x', substr(md5('shard-v1:' || url), 1, 15))
             AS BIGINT) AS hkey
      FROM kept),
cs AS (SELECT url, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY hkey, url
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - n_tokens AS prev
       FROM t)
SELECT url, CAST(prev // 2000 AS BIGINT) AS shard, n_tokens FROM cs
"""

    def nb_classifier_docs(spark, sf):
        """TRAINED quality classifier end-to-end (classify.
        train_nb_weights → quality_score): Naive Bayes log-odds
        learned distributedly over hashed buckets with English docs
        as the positive class, then the whole corpus scored with
        the trained table.  The oracle replays training AND scoring
        — bucket counts, the floor(1000·lnΔ+0.5) weight arithmetic,
        per-doc sums and the integer keep rule — from scratch in
        SQL."""
        from ferenda_spark.operators.classify import (quality_score,
                                                      train_nb_weights)
        d = _docs(spark, sf)
        labeled = d.select((F.col("lang") == "en").alias("label"),
                           "text")
        w = train_nb_weights(labeled)
        return quality_score(d, weights=w, n_buckets=512)

    _nb_ctes = """tk AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x != '') AS toks
  FROM documents),
ex AS (
  SELECT doc_id, lang = 'en' AS y,
         CAST(concat('0x', substr(md5('qw-v1:' || u.t), 1, 15))
              AS BIGINT) % 512 AS b
  FROM tk, unnest(toks) AS u(t)),
c AS (
  SELECT b, sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN y THEN 0 ELSE 1 END) AS neg
  FROM ex GROUP BY b),
tot AS (SELECT sum(pos) AS pt, sum(neg) AS nt FROM c),
w AS (
  SELECT b, CAST(floor(1000 * (ln(pos + 1) - ln(neg + 1)
             + ln((nt + 512) * 1.0 / (pt + 512))) + 0.5) AS BIGINT)
           AS wt
  FROM c, tot),
sc AS (
  SELECT doc_id, count(*) AS n, sum(wt) AS s
  FROM ex JOIN w USING (b) GROUP BY doc_id),
scored AS (
  SELECT tk.doc_id AS id, tk.lang,
         CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         CAST(coalesce(sc.s, 0) AS BIGINT) AS score_sum_milli
  FROM tk LEFT JOIN sc ON sc.doc_id = tk.doc_id)"""

    reg["nb_classifier_docs"] = nb_classifier_docs, f"""
WITH {_nb_ctes}
SELECT id, n_tokens, score_sum_milli,
       CASE WHEN n_tokens = 0 THEN TRUE
            ELSE score_sum_milli * 1000 >= 0 END AS keep
FROM scored
"""

    def strip_paragraphs_docs(spark, sf):
        """Intra-document repeated-paragraph removal
        (dedup.strip_repeated_paragraphs): pagination-echo texts —
        A/B/A/C/B for every third doc, A/A/A stutter for the next
        class — must collapse to first occurrences in order, with
        exact removal counts.  Oracle: the three text classes and
        their counters restated arm by arm."""
        from ferenda_spark.operators.dedup import (
            strip_repeated_paragraphs,
        )
        did = F.col("doc_id").cast("string")
        a = F.concat(F.lit("Alpha paragraph of doc "), did,
                     F.lit(" with unique content."))
        b = F.concat(F.lit("Beta paragraph shared text for "), did,
                     F.lit("."))
        c = F.concat(F.lit("Gamma closing paragraph "), did,
                     F.lit("."))
        nl = F.lit("\n")
        text = (F.when(F.col("doc_id") % 3 == 0,
                       F.concat(a, nl, b, nl, a, nl, c, nl, b))
                .when(F.col("doc_id") % 3 == 1,
                      F.concat(a, nl, a, nl, a))
                .otherwise(F.concat(a, nl, b, nl, c)))
        synth = _docs(spark, sf).select("doc_id", text.alias("text"))
        return strip_repeated_paragraphs(synth)
    reg["strip_paragraphs_docs"] = strip_paragraphs_docs, """
WITH d AS (
  SELECT doc_id,
    'Alpha paragraph of doc ' || CAST(doc_id AS VARCHAR)
      || ' with unique content.' AS a,
    'Beta paragraph shared text for ' || CAST(doc_id AS VARCHAR)
      || '.' AS b,
    'Gamma closing paragraph ' || CAST(doc_id AS VARCHAR) || '.' AS c
  FROM documents)
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN a || chr(10) || b || chr(10) || c
       WHEN doc_id % 3 = 1 THEN a
       ELSE a || chr(10) || b || chr(10) || c END AS text,
  CASE WHEN doc_id % 3 = 0 THEN 5
       WHEN doc_id % 3 = 1 THEN 3 ELSE 3 END AS n_paras,
  CASE WHEN doc_id % 3 = 0 THEN 2
       WHEN doc_id % 3 = 1 THEN 2 ELSE 0 END AS n_removed
FROM d
"""

    def noindex_filter_docs(spark, sf):
        """Robots-meta opt-out (webfilter.noindex_filter): pages
        declaring noindex (doc_id%4==0) or a mixed-case padded NONE
        via the googlebot variant (doc_id%7==1) must drop; the
        explicit index,follow declarations and undeclared pages
        stay.  Oracle: the arithmetic complement."""
        from ferenda_spark.operators.webfilter import noindex_filter
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://idx.example/p/"), did)
        robots = (F.when(
            F.col("doc_id") % 4 == 0,
            F.lit('<meta name="robots" content="noindex, follow">'))
            .when(F.col("doc_id") % 7 == 1,
                  F.lit('<meta name="GoogleBot" content=" NONE ">'))
            .otherwise(
                F.lit('<meta name="robots" content="index, follow">')))
        html = F.concat(F.lit("<html><head>"), robots,
                        F.lit("</head><body>x</body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        return noindex_filter(pages).select("url")
    reg["noindex_filter_docs"] = noindex_filter_docs, """
SELECT 'https://idx.example/p/' || CAST(doc_id AS VARCHAR) AS url
FROM documents
WHERE NOT (doc_id % 4 = 0 OR doc_id % 7 = 1)
"""

    def langid_trained_docs(spark, sf):
        """Trained language ID (langprofile.py): Cavnar–Trenkle
        char-3-gram rank profiles learned per language from the
        corpus's own lang labels, then every document classified by
        the integer out-of-place metric (top-150 profiles, top-80
        doc grams, penalty 150).  The oracle replays training AND
        classification — gram windows, rank truncation, the
        coalesce-penalty sum and the (dist, lang) argmin — in SQL."""
        from ferenda_spark.operators.langprofile import (
            classify_language, explode_grams, train_lang_profiles)
        # the sf tables are single small parquet files = ONE scan
        # partition; spread the (tiny) doc table before the gram
        # explode so the per-char work runs corpus-parallel (the
        # round-5 sf1 probe's file-layout lesson — measured 7×)
        d = _docs(spark, sf).repartition(
            spark.sparkContext.defaultParallelism)
        # ONE gram explode feeds both stages (the dominant cost)
        g = explode_grams(d, ["doc_id", "lang"]).persist()
        prof = train_lang_profiles(d, grams=g)
        return classify_language(d, prof, grams=g)
    reg["langid_trained_docs"] = langid_trained_docs, f"""
WITH {_LANGID_GRAMS_CTE},
tg AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
prof AS (
  SELECT lang, gram, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY lang
                ORDER BY cnt DESC, gram) AS rank FROM tg)
  WHERE rank <= 150),
{_LANGID_CLASSIFY_SQL}"""

    def langid_classify_docs(spark, sf):
        """Deployment-shaped language ID: classification ONLY,
        against the FIXED profile artifact ``_LANGID_PROFILE`` (the
        shape a real pipeline ships — train once offline, broadcast
        the artifact, classify forever).  This is the bench-honesty
        split of langid_trained_docs (r4 verdict wrong-#2): its
        bench row prices classification, while training exactness
        stays covered by the trained gate.  Oracle: the identical
        literal profile VALUES + the classification SQL alone."""
        from ferenda_spark.operators.langprofile import classify_language
        prof = spark.createDataFrame(
            _LANGID_PROFILE, "lang string, gram string, rank int")
        d = _docs(spark, sf).repartition(
            spark.sparkContext.defaultParallelism)
        return classify_language(d, prof)

    _langid_values = ", ".join(
        f"('{lg}', '{gr}', {rk})" for lg, gr, rk in _LANGID_PROFILE)
    reg["langid_classify_docs"] = langid_classify_docs, f"""
WITH prof(lang, gram, rank) AS (VALUES {_langid_values}),
{_LANGID_GRAMS_CTE},
{_LANGID_CLASSIFY_SQL}"""

    def hash_embed_docs(spark, sf):
        """Model-free document embeddings (similarity.hash_embed):
        signed feature-hashed bag-of-words vectors at dim=32,
        returned as exploded NONZERO components so every integer
        coordinate is value-checked.  Oracle: bucket and sign
        hashes restated per token, summed per (doc, coordinate)."""
        from ferenda_spark.operators.similarity import hash_embed
        emb = hash_embed(_docs(spark, sf))
        return (emb.select("id", F.posexplode("embedding")
                           .alias("j", "v"))
                .filter(F.col("v") != 0))
    reg["hash_embed_docs"] = hash_embed_docs, """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x != '') AS toks
  FROM documents),
ex AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5('he-v1:' || u.t), 1, 15))
         AS BIGINT) % 32 AS j,
    CASE WHEN CAST(concat('0x', substr(md5('he-v1#s:' || u.t), 1, 15))
              AS BIGINT) % 2 = 1 THEN -1 ELSE 1 END AS s
  FROM tk, unnest(toks) AS u(t))
SELECT doc_id AS id, CAST(j AS INT) AS j,
       CAST(sum(s) AS BIGINT) AS v
FROM ex GROUP BY 1, 2 HAVING sum(s) <> 0
"""

    def classifier_eval_docs(spark, sf):
        """Model-selection loop for the trained classifier
        (classify.score_eval): NB weights trained on English-vs-rest
        labels, then a four-threshold sweep reporting confusion
        counts and integer-milli precision/recall in ONE combinable
        pass.  Oracle: the shared NB training/scoring CTEs plus the
        identical sweep arithmetic."""
        from ferenda_spark.operators.classify import (quality_score,
                                                      score_eval,
                                                      train_nb_weights)
        d = _docs(spark, sf)
        labeled = d.select((F.col("lang") == "en").alias("label"),
                           "text")
        w = train_nb_weights(labeled)
        scored = quality_score(d, weights=w, n_buckets=512)
        labels = d.select(F.col("doc_id").alias("id"),
                          (F.col("lang") == "en").alias("label"))
        return score_eval(scored, labels,
                          thresholds=[-1200, -1000, -800, 0])
    reg["classifier_eval_docs"] = classifier_eval_docs, f"""
WITH {_nb_ctes},
e AS (
  SELECT s.*, s.lang = 'en' AS y, t.thr
  FROM scored s, (VALUES (-1200), (-1000), (-800), (0)) t(thr)),
k AS (
  SELECT thr, y,
    CASE WHEN n_tokens = 0 THEN thr <= 0
         ELSE score_sum_milli * 1000 >= CAST(thr AS BIGINT) * n_tokens
    END AS kept
  FROM e),
agg AS (
  SELECT thr AS threshold_milli,
    sum(CASE WHEN kept AND y THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN kept AND NOT y THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN NOT kept AND y THEN 1 ELSE 0 END) AS fn,
    sum(CASE WHEN NOT kept AND NOT y THEN 1 ELSE 0 END) AS tn
  FROM k GROUP BY 1)
SELECT threshold_milli,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
  CASE WHEN tp + fp > 0 THEN CAST(tp * 1000 // (tp + fp) AS BIGINT)
       END AS precision_milli,
  CASE WHEN tp + fn > 0 THEN CAST(tp * 1000 // (tp + fn) AS BIGINT)
       END AS recall_milli
FROM agg
"""

    def kg_metadata_triad(spark, sf):
        """All three embedded-metadata harvesters over ONE page set
        — each page carries a JSON-LD block (Product name + type),
        microdata (an Offer with a price), and RDFa (a sku on the
        same Product subject, whose typeof DUPLICATES the JSON-LD
        rdf:type) — union-deduped into a single graph: the
        Web-Data-Commons story end-to-end, including the
        cross-format duplicate collapsing to one triple.  Oracle:
        the five distinct triples per page restated arm by arm."""
        from ferenda_spark.operators.structured_data import (
            jsonld_triples, microdata_triples, rdfa_triples)
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://shop"),
                       (F.col("doc_id") % 3).cast("string"),
                       F.lit(".example/p/"), did)
        html = F.concat(
            F.lit('<html><head><script type="application/ld+json">'
                  '{"@context": "https://schema.org", "@id": "'),
            url, F.lit('#prod", "@type": "Product", "name": "P'),
            did, F.lit('"}</script></head><body>'
                       '<div itemscope '
                       'itemtype="https://schema.org/Offer" itemid="'),
            url, F.lit('#offer"><span itemprop="price">'),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit('</span></div>'
                  '<div vocab="https://schema.org/" about="'),
            url, F.lit('#prod" typeof="Product">'
                       '<span property="sku">S'), did,
            F.lit("</span></div></body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        cols = ["subj", "pred", "obj", "obj_is_literal"]
        t = (jsonld_triples(pages)
             .unionByName(microdata_triples(pages))
             .unionByName(rdfa_triples(pages)))
        return (t.filter(F.col("error").isNull())
                .select(*cols).distinct())
    reg["kg_metadata_triad"] = kg_metadata_triad, """
WITH d AS (
  SELECT 'https://shop' || CAST(doc_id % 3 AS VARCHAR)
           || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id % 90 + 10 AS VARCHAR) AS price
  FROM documents)
SELECT url || '#prod' AS subj, 'rdf:type' AS pred,
       'schema:Product' AS obj, FALSE AS obj_is_literal FROM d
UNION ALL
SELECT url || '#prod', 'schema:name', 'P' || did, TRUE FROM d
UNION ALL
SELECT url || '#offer', 'rdf:type', 'schema:Offer', FALSE FROM d
UNION ALL
SELECT url || '#offer', 'schema:price', price, TRUE FROM d
UNION ALL
SELECT url || '#prod', 'schema:sku', 'S' || did, TRUE FROM d
"""

    def threshold_calibration_docs(spark, sf):
        """Keep-rate threshold calibration (classify.
        threshold_for_keep_rate): the largest integer threshold
        keeping ≥30% of NB-scored docs, picked via the exact
        integer floor-mean order.  Oracle: the identical k-th
        largest selection (ORDER BY DESC OFFSET) plus the keep
        count under that threshold."""
        from ferenda_spark.operators.classify import (
            quality_score, threshold_for_keep_rate, train_nb_weights)
        d = _docs(spark, sf)
        labeled = d.select((F.col("lang") == "en").alias("label"),
                           "text")
        w = train_nb_weights(labeled)
        scored = quality_score(d, weights=w, n_buckets=512)
        r = threshold_for_keep_rate(scored, rate_milli=300)
        return spark.createDataFrame(
            [(r["threshold_milli"], r["kept"], r["n"],
              r["n_empty"])],
            "threshold_milli long, kept long, n long, n_empty long")
    reg["threshold_calibration_docs"] = threshold_calibration_docs, f"""
WITH {_nb_ctes},
m AS (
  -- exact FLOOR division mirroring classify.threshold_for_keep_rate
  -- (DuckDB integer // truncates toward zero, floor != trunc for
  -- the negative score sums NB log-odds produce)
  SELECT (score_sum_milli * 1000
          - ((score_sum_milli * 1000 % n_tokens + n_tokens)
             % n_tokens)) // n_tokens AS m
  FROM scored WHERE n_tokens > 0),
p AS (SELECT count(*) AS n FROM m),
kk AS (SELECT CAST((300 * n + 999) // 1000 AS BIGINT) AS k, n FROM p),
thr AS (
  SELECT m AS t FROM m, kk ORDER BY m DESC
  LIMIT 1 OFFSET (SELECT k - 1 FROM kk))
SELECT CAST(thr.t AS BIGINT) AS threshold_milli,
       (SELECT count(*) FROM m WHERE m.m >= thr.t) AS kept,
       CAST(kk.n AS BIGINT) AS n,
       CAST((SELECT count(*) FROM scored WHERE n_tokens = 0)
            AS BIGINT) AS n_empty
FROM thr, kk
"""

    def meta_refresh_docs(spark, sf):
        """Client-side redirects (webfilter.meta_refresh_edges →
        crawl.resolve_redirects): every 4k+1 page refreshes to its
        canonical /art/ url (absolute-path target), every 4k+2 page
        refreshes RELATIVELY to the 4k+1 page — a two-hop chain the
        pointer-doubling resolver must follow — 4k+3 pages declare a
        url-less self-reload (no edge, per spec) and 4k pages none.
        Oracle: both chain classes in closed form."""
        from ferenda_spark.operators.crawl import resolve_redirects
        from ferenda_spark.operators.webfilter import (
            meta_refresh_edges,
        )
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://w.example/p/"), did)
        refresh = (F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit('<meta http-equiv="refresh" '
                           'content="0; url=/art/'), did,
                     F.lit('">')))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit('<meta http-equiv="refresh" '
                                 "content=\"5;URL='"),
                           (F.col("doc_id") - 1).cast("string"),
                           F.lit("'\">")))
            .when(F.col("doc_id") % 4 == 3,
                  F.lit('<meta http-equiv="refresh" content="30">'))
            .otherwise(F.lit("")))
        html = F.concat(F.lit("<html><head>"), refresh,
                        F.lit("</head><body>x</body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        edges = meta_refresh_edges(pages)
        return resolve_redirects(edges.select("src", "dst"))
    reg["meta_refresh_docs"] = meta_refresh_docs, """
WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS did
           FROM documents)
SELECT 'https://w.example/p/' || did AS src,
       'https://w.example/art/' || did AS final_url,
       CAST(1 AS BIGINT) AS hops, TRUE AS resolved
FROM d WHERE doc_id % 4 = 1
UNION ALL
SELECT 'https://w.example/p/' || did,
       'https://w.example/art/' || CAST(doc_id - 1 AS VARCHAR),
       CAST(2 AS BIGINT), TRUE
FROM d WHERE doc_id % 4 = 2
"""

    def anchor_alias_linking(spark, sf):
        """Web-anchor entity linking (anchors.anchor_profile →
        linker.link_labels): the crowd-sourced alias dictionary —
        each target's majority anchor text across the link graph
        (a minority variant text on every fifth page must LOSE the
        argmax) becomes the label that free-text mentions link
        against; unmatchable mentions (every seventh doc) stay
        null through the lossless length-band fuzzy phase.
        Oracle: majority aliases and the link outcome in closed
        form."""
        from ferenda_spark.operators.anchors import (anchor_pairs,
                                                     anchor_profile,
                                                     resolve_hrefs)
        from ferenda_spark.operators.linker import link_labels
        did = F.col("doc_id").cast("string")
        k = (F.col("doc_id") % 29).cast("string")
        src = F.concat(F.lit("https://hub.example/p/"), did)
        text = F.when(F.col("doc_id") % 5 == 0,
                      F.concat(F.lit("T-"), k, F.lit(" alt")))  \
            .otherwise(F.concat(F.lit("Topic phrase "), k))
        html = F.concat(F.lit('<html><body><a href="/res/topic/'),
                        k, F.lit('">'), text,
                        F.lit("</a></body></html>"))
        pages = _docs(spark, sf).select(
            src.alias("url"),
            F.encode(html, "UTF-8").alias("html"))
        prof = anchor_profile(resolve_hrefs(anchor_pairs(pages)))
        ents = prof.select(F.col("href").alias("uri"),
                           F.col("top_anchor").alias("label"))
        mentions = _docs(spark, sf).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit("zzqx"), did))
            .otherwise(F.concat(F.lit("Topic phrase "), k))
            .alias("label"))
        return link_labels(mentions, ents).select(
            "doc_id", "label", "entity_uri")
    reg["anchor_alias_linking"] = anchor_alias_linking, """
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS did,
         CAST(doc_id % 29 AS VARCHAR) AS k
  FROM documents)
SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN 'zzqx' || did
       ELSE 'Topic phrase ' || k END AS label,
  CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS VARCHAR)
       ELSE 'https://hub.example/res/topic/' || k END AS entity_uri
FROM d
"""

    def text_neardup_hash(spark, sf):
        """Model-free semantic near-dup on raw TEXT
        (similarity.hash_embed + int_cosine_test): each document is
        paired with a variant — two appended tokens (near-dup must
        hold), a completely different sentence (must not), or an
        exact copy — and the 0.95-cosine verdict is decided in
        EXACT integer arithmetic (dot²·10⁶ ≥ t²·|a|²·|b|², no sqrt,
        no floats), so even boundary verdicts agree with the
        oracle bit-for-bit."""
        from ferenda_spark.operators.similarity import (
            hash_embed, int_cosine_test)
        d = _docs(spark, sf)
        did = F.col("doc_id").cast("string")
        btext = (F.when(F.col("doc_id") % 3 == 0,
                        F.concat(F.col("text"), F.lit(" zzz yyy")))
                 .when(F.col("doc_id") % 3 == 1,
                       F.concat(F.lit("quite different wording "
                                      "entirely unrelated to "
                                      "source "), did))
                 .otherwise(F.col("text")))
        ea = hash_embed(d).withColumnRenamed("embedding", "va")
        eb = hash_embed(d.select("doc_id", btext.alias("text"))) \
            .withColumnRenamed("embedding", "vb")
        j = ea.join(eb, "id")
        va, vb = F.col("va"), F.col("vb")
        idot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                           F.lit(0).cast("long"), lambda a, x: a + x)
        nsq = lambda v: F.aggregate(  # noqa: E731
            F.transform(v, lambda x: x * x),
            F.lit(0).cast("long"), lambda a, x: a + x)
        return j.select(
            F.col("id").alias("doc_id"), idot.alias("dot"),
            nsq(va).alias("na"), nsq(vb).alias("nb"),
            int_cosine_test(va, vb, 950).alias("is_near"))
    reg["text_neardup_hash"] = text_neardup_hash, """
WITH d AS (
  SELECT doc_id, text,
    CASE WHEN doc_id % 3 = 0 THEN text || ' zzz yyy'
         WHEN doc_id % 3 = 1
           THEN 'quite different wording entirely unrelated to '
                || 'source ' || CAST(doc_id AS VARCHAR)
         ELSE text END AS btext
  FROM documents),
ta AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5('he-v1:' || u.t), 1, 15))
         AS BIGINT) % 32 AS j,
    sum(CASE WHEN CAST(concat('0x',
            substr(md5('he-v1#s:' || u.t), 1, 15)) AS BIGINT) % 2 = 1
        THEN -1 ELSE 1 END) AS v
  FROM d, unnest(list_filter(
      regexp_split_to_array(trim(lower(text)), '\\s+'),
      x -> x != '')) AS u(t)
  GROUP BY 1, 2),
tb AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5('he-v1:' || u.t), 1, 15))
         AS BIGINT) % 32 AS j,
    sum(CASE WHEN CAST(concat('0x',
            substr(md5('he-v1#s:' || u.t), 1, 15)) AS BIGINT) % 2 = 1
        THEN -1 ELSE 1 END) AS v
  FROM d, unnest(list_filter(
      regexp_split_to_array(trim(lower(btext)), '\\s+'),
      x -> x != '')) AS u(t)
  GROUP BY 1, 2),
na AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS na
       FROM ta GROUP BY 1),
nb AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS nb
       FROM tb GROUP BY 1),
dt AS (SELECT a.doc_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
       FROM ta a JOIN tb b ON a.doc_id = b.doc_id AND a.j = b.j
       GROUP BY 1)
SELECT d.doc_id, coalesce(dt.dot, 0) AS dot, na.na, nb.nb,
       (coalesce(dt.dot, 0) >= 0
        AND coalesce(dt.dot, 0) * coalesce(dt.dot, 0) * 1000000
            >= 950 * 950 * na.na * nb.nb
        AND na.na > 0 AND nb.nb > 0) AS is_near
FROM d
JOIN na ON na.doc_id = d.doc_id
JOIN nb ON nb.doc_id = d.doc_id
LEFT JOIN dt ON dt.doc_id = d.doc_id
"""

    def hreflang_clusters_docs(spark, sf):
        """Multilingual document families (webfilter.
        hreflang_clusters): en/sv/de triples with deliberately
        ASYMMETRIC declarations — the en page lists all variants,
        the sv page lists only en (and never itself, so its own
        hreflang stays NULL), the de page lists de+en — must
        cluster transitively under one min-url label, including
        the last partial family whose de PAGE does not exist but
        whose de url is still a referenced node.  Oracle: the
        family rows in closed form."""
        from ferenda_spark.operators.webfilter import hreflang_clusters
        r = F.col("doc_id") % 3
        L = (F.col("doc_id") - r).cast("string")
        lang = (F.when(r == 0, "en").when(r == 1, "sv")
                .otherwise("de"))
        url = F.concat(F.lit("https://x.example/"), lang,
                       F.lit("/"), L)
        html = F.concat(
            F.lit("<html><head>"),
            F.when(r == 0, F.concat(
                F.lit('<link rel="alternate" hreflang="en" '
                      'href="https://x.example/en/'), L,
                F.lit('"><link rel="alternate" hreflang="sv" '
                      'href="/sv/'), L,
                F.lit('"><link rel="alternate" hreflang="de" '
                      'href="/de/'), L, F.lit('">')))
            .when(r == 1, F.concat(
                F.lit('<link rel="alternate" hreflang="en" '
                      'href="/en/'), L, F.lit('">')))
            .otherwise(F.concat(
                F.lit('<link rel="alternate" hreflang="de" '
                      'href="https://x.example/de/'), L,
                F.lit('"><link rel="alternate" hreflang="en" '
                      'href="/en/'), L, F.lit('">'))),
            F.lit("</head><body>x</body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        return hreflang_clusters(pages)
    reg["hreflang_clusters_docs"] = hreflang_clusters_docs, """
WITH fam AS (
  SELECT DISTINCT CAST(doc_id - doc_id % 3 AS VARCHAR) AS L,
         doc_id - doc_id % 3 AS ln
  FROM documents),
mx AS (SELECT max(doc_id) AS m FROM documents)
SELECT 'https://x.example/en/' || L AS url,
       'https://x.example/de/' || L AS cluster,
       'en' AS hreflang
FROM fam
UNION ALL
SELECT 'https://x.example/sv/' || L,
       'https://x.example/de/' || L, CAST(NULL AS VARCHAR)
FROM fam
UNION ALL
SELECT 'https://x.example/de/' || L,
       'https://x.example/de/' || L,
       CASE WHEN ln + 2 <= mx.m THEN 'de' END
FROM fam, mx
"""

    def curation_pipeline_v4(spark, sf):
        """The ingest-to-export story in one query: multi-snapshot
        crawl (refetch variants at later times, same content) →
        newest-fetch-per-canonical-url dedup → Arrow extract →
        document-quality floor (length ≥ 420) → deterministic
        training-shard packing → per-shard manifest.  Every stage is
        an independently-gated operator; the oracle recomposes the
        identical chain in SQL."""
        from ferenda_spark.operators.shards import (assign_shards,
                                                    shard_manifest)
        from ferenda_spark.operators.webfilter import latest_fetch
        p = _pages(spark, sf).select("url", "warc_ts", "html", "lang")
        d_id = F.regexp_extract(F.col("url"), r"(\d+)$", 1).cast("long")
        v1 = (p.filter(d_id % 5 == 0).withColumn(
            "url", F.concat(F.col("url"), F.lit("#top"))).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")))
        v2 = (p.filter(d_id % 7 == 0).withColumn(
            "url", F.concat(F.col("url"), F.lit("/"))).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 DAY")))
        fetched = latest_fetch(p.unionByName(v1).unionByName(v2))
        # canonical identity for the rest of the chain (the winner's
        # raw url may carry a fragment/slash variant)
        pages = fetched.select(F.col("canonical_url").alias("url"),
                               "html", "lang")
        ext = extract(pages, doc_url_regex=DOC_PAGE_URL_RE)
        kept = (ext.filter(F.col("is_doc"))
                .select("url", F.length("text").cast("long").alias("w"))
                .filter(F.col("w") >= 420)
                # lazy localCheckpoint: shard packing scans its input
                # twice (bucket totals + windowed cumsum) — the tiny
                # (url, w) projection materializes ONCE, at
                # assign_shards' bucket-totals collect (which runs at
                # DataFrame-construction time by design), so the
                # Arrow extract and the dedup window never re-run
                .localCheckpoint(eager=False))
        a = assign_shards(kept, budget=50000, weight_col="w",
                          key_col="url")
        return (shard_manifest(a, "w")
                .select("shard", "n_docs", "total_weight"))
    reg["curation_pipeline_v4"] = curation_pipeline_v4, f"""
WITH {_F_CTE},
kept AS (
  SELECT url, CAST(len({_EXPECTED_TEXT}) AS BIGINT) AS w
  FROM f WHERE len({_EXPECTED_TEXT}) >= 420),
t AS (
  SELECT url, w,
    CAST(concat('0x', substr(md5('shard-v1:' || url), 1, 15))
         AS BIGINT) AS hkey
  FROM kept),
c AS (
  SELECT url, hkey, w,
    CAST(sum(w) OVER (ORDER BY hkey, url
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) - w AS prev
  FROM t)
SELECT CAST(prev // 50000 AS BIGINT) AS shard,
       count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS total_weight
FROM c GROUP BY 1
"""

    def redact_pii_docs(spark, sf):
        """PII scrub over a corpus with deterministically injected
        identifiers (emails on doc_id%7, IPv4 on %11, 9-digit runs on
        %13): per-type counts + the redacted text, both engines
        running the identical RE2-safe patterns."""
        d = _docs(spark, sf).select("doc_id", "text")
        did = F.col("doc_id").cast("string")
        injected = d.select("doc_id", F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"), did,
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" from 10.0.0."),
                            (F.col("doc_id") % 256).cast("string"))
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat(F.lit(" ref 9"),
                            F.lpad(did, 8, "0"))).otherwise(F.lit("")),
        ).alias("text"))
        return _longify(textstats.redact_pii(injected))

    from ferenda_spark.operators.textstats import PII_PATTERNS
    _pp = dict(PII_PATTERNS)
    _pii_e, _pii_i, _pii_n = _pp["email"], _pp["ipv4"], _pp["longnum"]
    reg["redact_pii_docs"] = redact_pii_docs, f"""
WITH inj AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
         CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.0.' ||
         CAST(doc_id % 256 AS VARCHAR) ELSE '' END ||
    CASE WHEN doc_id % 13 = 0 THEN ' ref 9' ||
         lpad(CAST(doc_id AS VARCHAR), 8, '0') ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_pii_e}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{_pii_i}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{_pii_n}')) AS BIGINT) AS n_longnum,
  regexp_replace(regexp_replace(regexp_replace(text,
      '{_pii_e}', '<EMAIL>', 'g'),
      '{_pii_i}', '<IPV4>', 'g'),
      '{_pii_n}', '<LONGNUM>', 'g') AS clean_text
FROM inj
"""

    def strip_boilerplate_docs(spark, sf):
        """Line-level boilerplate removal over a corpus with
        deterministically injected repeated sentences: units seen in
        >10 distinct docs (the two injected banners) are dropped,
        per-doc unique trailing notes and the body survive."""
        d = _docs(spark, sf).select("doc_id", "text")
        did = F.col("doc_id")
        inj = d.select("doc_id", F.concat(
            F.col("text"),
            F.when(did % 2 == 0,
                   F.lit(". Subscribe to our newsletter today")
                   ).otherwise(F.lit("")),
            F.when(did % 3 == 0,
                   F.lit(". All rights reserved worldwide")
                   ).otherwise(F.lit("")),
            F.when(did % 5 == 0,
                   F.concat(F.lit(". unique trailing note "),
                            did.cast("string"))).otherwise(F.lit("")),
        ).alias("text"))
        return _longify(dedup.strip_boilerplate(inj))
    reg["strip_boilerplate_docs"] = strip_boilerplate_docs, """
WITH inj AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 2 = 0
         THEN '. Subscribe to our newsletter today' ELSE '' END ||
    CASE WHEN doc_id % 3 = 0
         THEN '. All rights reserved worldwide' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN '. unique trailing note ' ||
         CAST(doc_id AS VARCHAR) ELSE '' END AS text
  FROM documents),
u AS (SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             unnest(parts) AS unit
      FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM inj)),
hot AS (SELECT lower(trim(unit)) AS nunit FROM u GROUP BY 1
        HAVING count(DISTINCT doc_id) > 10),
kept AS (SELECT * FROM u
         WHERE lower(trim(unit)) NOT IN (SELECT nunit FROM hot)),
agg AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
SELECT t.doc_id AS id, coalesce(a.clean_text, '') AS clean_text,
       CAST(t.n_units AS BIGINT) AS n_units,
       CAST(t.n_units - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""

    def dedup_keepfirst_docs(spark, sf):
        """Exact duplicate-unit removal, keep-first (Lee et al.-style
        substring dedup at sentence granularity) over a corpus with
        deterministically injected duplicates: a license quote
        prepended to every 4th doc and one of three shared appendix
        sentences appended to every 7th — each duplicated unit must
        survive only at its smallest (doc_id, pos) occurrence."""
        d = _docs(spark, sf).select("doc_id", "text")
        did = F.col("doc_id")
        inj = d.select("doc_id", F.concat(
            F.when(did % 4 == 0,
                   F.lit("Quoted license text applies here. ")
                   ).otherwise(F.lit("")),
            F.col("text"),
            F.when(did % 7 == 0,
                   F.concat(F.lit(". shared appendix "),
                            (did % 3).cast("string"))).otherwise(F.lit("")),
        ).alias("text"))
        return _longify(dedup.dedup_units_keepfirst(inj))
    # keep-first duplicate-unit removal: the winner of each normalized
    # unit is its smallest (doc_id, pos) occurrence
    reg["dedup_keepfirst_docs"] = dedup_keepfirst_docs, """
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0
         THEN 'Quoted license text applies here. ' ELSE '' END || text ||
    CASE WHEN doc_id % 7 = 0 THEN '. shared appendix ' ||
         CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS text
  FROM documents),
u AS (SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             unnest(parts) AS unit
      FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM inj)),
kept AS (SELECT doc_id, pos, unit FROM u
         QUALIFY row_number() OVER (PARTITION BY lower(trim(unit))
                                    ORDER BY doc_id, pos) = 1),
agg AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
SELECT t.doc_id AS id, coalesce(a.clean_text, '') AS clean_text,
       CAST(t.n_units AS BIGINT) AS n_units,
       CAST(t.n_units - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""

    _SPAN_PASSAGE = ("this license text is shared verbatim across many "
                     "documents and must be flagged as a duplicated span "
                     "by the window pass")

    def dedup_token_spans_docs(spark, sf):
        """Token-window exact-substring duplicate detection (Lee et
        al. ExactSubstr, windowed-hash variant) over a corpus with a
        21-token passage injected into every 6th doc: the injected
        span's windows must be flagged everywhere except the globally
        first occurrence, at any alignment."""
        d = _docs(spark, sf).select("doc_id", "text")
        inj = d.select("doc_id", F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit(" " + _SPAN_PASSAGE)).otherwise(F.lit("")),
        ).alias("text"))
        return _longify(dedup.duplicate_token_spans(inj))
    # token-window substring dedup: windows are md5 of 20 joined
    # lowercased tokens; winner = smallest (doc_id, pos); duplicate
    # token count = DISTINCT positions under non-winner windows
    reg["dedup_token_spans_docs"] = dedup_token_spans_docs, """
WITH inj AS (
  SELECT doc_id, lower(text) ||
    CASE WHEN doc_id % 6 = 0
         THEN ' this license text is shared verbatim across many' ||
              ' documents and must be flagged as a duplicated span' ||
              ' by the window pass'
         ELSE '' END AS text
  FROM documents),
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x != '') AS toks
  FROM inj),
sized AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base),
occ AS (
  SELECT doc_id, g.i AS pos,
         CAST(concat('0x', substr(
             md5(array_to_string(list_slice(toks, g.i, g.i + 19), ' ')),
             1, 15)) AS BIGINT) AS whash
  FROM sized, unnest(generate_series(1, n_tokens - 19)) AS g(i)),
marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY whash) AS n_occ,
         row_number() OVER (PARTITION BY whash
                            ORDER BY doc_id, pos) AS rn
  FROM occ),
dups AS (SELECT doc_id, pos FROM marked WHERE n_occ > 1 AND rn > 1),
duptok AS (
  SELECT doc_id, count(DISTINCT g.t) AS n_dup_tokens
  FROM dups, unnest(generate_series(pos, pos + 19)) AS g(t)
  GROUP BY doc_id),
nw AS (SELECT doc_id, count(*) AS n_windows FROM occ GROUP BY doc_id),
nd AS (SELECT doc_id, count(*) AS n_dup_windows FROM dups GROUP BY doc_id)
SELECT s.doc_id AS id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(nw.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(nd.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(dt.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens
FROM sized s
LEFT JOIN nw ON nw.doc_id = s.doc_id
LEFT JOIN nd ON nd.doc_id = s.doc_id
LEFT JOIN duptok dt ON dt.doc_id = s.doc_id
"""

    def quality_classifier_docs(spark, sf):
        """Model-based quality filtering (fastText-architecture
        hashed-feature linear scorer, operators/classify.py): one
        codegen projection over the token array, zero shuffle; the
        deterministic hash-derived weights stand in for trained
        parameters so the oracle can value-compare the full plan."""
        from ferenda_spark.operators.classify import quality_score
        return _longify(quality_score(
            _docs(spark, sf).select("doc_id", "text")))
    reg["quality_classifier_docs"] = quality_classifier_docs, """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x != '') AS toks
  FROM documents)
SELECT doc_id AS id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_aggregate(list_transform(toks,
            t -> CAST(concat('0x', substr(md5('qw-v1:' || t), 1, 15))
                      AS BIGINT) % 2001 - 1000), 'sum'), 0) AS BIGINT)
           AS score_sum_milli,
       CAST(coalesce(list_aggregate(list_transform(toks,
            t -> CAST(concat('0x', substr(md5('qw-v1:' || t), 1, 15))
                      AS BIGINT) % 2001 - 1000), 'sum'), 0) AS BIGINT)
           * 1000 >= 0 AS keep
FROM tk
"""

    def lm_perplexity_docs(spark, sf):
        """CCNet-style LM quality split (operators/lmscore.py): fit an
        add-one bigram LM on the trusted slice (lang='en', the
        reference-corpus analog), score every document's Σ ln P, and
        ntile into head/middle/tail buckets — the standard perplexity
        filter between language-ID and dedup.  The bucket rank comes
        from the two-phase global_rank (no single-partition window);
        the LM joins broadcast."""
        from ferenda_spark.operators.lmscore import (fit_bigram_lm,
                                                     perplexity_buckets,
                                                     score_perplexity)
        docs = _docs(spark, sf).select("doc_id", "text", "lang")
        lm = fit_bigram_lm(docs.filter(F.col("lang") == "en"))
        scored = score_perplexity(docs, lm)
        out = perplexity_buckets(scored)
        lm["bigram"].unpersist()
        return _longify(out)
    # hashed-feature linear quality scorer: per-token weight =
    # md5('qw-v1:'||token) folded to [0, 2^60) then mapped into
    # [-1000, 1000]; keep ⇔ sum·1000 ≥ 0·n (threshold 0)
    # bigram-LM perplexity: the model arithmetic restated from
    # scratch — add-one smoothing over the training vocab, unseen
    # context scores 1/V; ntile(3) mirrors perplexity_buckets' exact
    # equal-frequency closed form
    reg["lm_perplexity_docs"] = lm_perplexity_docs, """
WITH train_toks AS MATERIALIZED (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents WHERE lang = 'en'),
vocab AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(t) AS w FROM train_toks)),
train_bg AS MATERIALIZED (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c12
  FROM train_toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
  GROUP BY 1, 2),
ctx AS MATERIALIZED (SELECT w1, sum(c12) AS c1 FROM train_bg GROUP BY 1),
doc_toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents),
doc_bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM doc_toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g),
scored AS (
  SELECT d.doc_id, count(*) AS n_bigrams,
         sum(CASE WHEN b.c12 IS NULL THEN 1 ELSE 0 END) AS n_oov,
         CAST(floor(sum(ln(
             (COALESCE(b.c12, 0) + 1)::DOUBLE
             / (COALESCE(c.c1, 0) + (SELECT v FROM vocab)))) * 1000)
           AS BIGINT) AS logprob_milli
  FROM doc_bg d
  LEFT JOIN train_bg b ON d.w1 = b.w1 AND d.w2 = b.w2
  LEFT JOIN ctx c ON d.w1 = c.w1
  GROUP BY 1),
filled AS (
  SELECT dd.doc_id,
         CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov,
         CAST(COALESCE(s.logprob_milli, 0) AS BIGINT) AS logprob_milli
  FROM documents dd LEFT JOIN scored s ON dd.doc_id = s.doc_id)
SELECT doc_id, n_bigrams, n_oov, logprob_milli,
       CAST(ntile(3) OVER (
         ORDER BY CASE WHEN n_bigrams > 0
                       THEN CAST(floor(logprob_milli / n_bigrams)
                                 AS BIGINT)
                       ELSE -1000000000 END DESC, doc_id) AS BIGINT)
         AS bucket
FROM filled
"""

    def anchor_text_docs(spark, sf):
        """Anchor-text enrichment (operators/anchors.py): pages with
        deterministic doc_id-derived hyperlinks go through the REAL
        HTML anchor parser (Arrow mapInPandas), root-relative hrefs
        resolve against the source origin, and the per-target profile
        (inlink counts + crowd-sourced top anchor) aggregates with a
        keyed — never global — window.  The oracle restates the link
        structure arithmetically, so a value match proves the whole
        parse→resolve→aggregate chain."""
        from ferenda_spark.operators.anchors import (anchor_pairs,
                                                     anchor_profile,
                                                     resolve_hrefs)
        d = F.col("doc_id")
        html = F.format_string(
            '<html><body><p>See <a href="https://ex.org/doc/%d">'
            'ref %d</a> and <a href="/rel/%d"><b>see</b>\n also %d'
            '</a>.<a name="s%d">sec</a></p></body></html>',
            d % 37, d % 5, d % 11, d % 3, d)
        pages = _docs(spark, sf).select(
            F.format_string("https://src.example/%d", d).alias("url"),
            F.encode(html, "UTF-8").alias("html"))
        pairs = resolve_hrefs(anchor_pairs(pages))
        return _longify(anchor_profile(pairs))
    # anchor profile: the synthesized link structure restated
    # arithmetically — two links per doc, the named anchor ignored,
    # "<b>see</b>\n also N" whitespace-normalized to "see also N",
    # "/rel/K" origin-resolved
    reg["anchor_text_docs"] = anchor_text_docs, """
WITH p AS (
  SELECT 'https://src.example/' || doc_id AS src,
         'https://ex.org/doc/' || (doc_id % 37) AS h1,
         'ref ' || (doc_id % 5) AS a1,
         'https://src.example/rel/' || (doc_id % 11) AS h2,
         'see also ' || (doc_id % 3) AS a2
  FROM documents),
pairs AS (
  SELECT src, h1 AS href, a1 AS anchor FROM p
  UNION ALL
  SELECT src, h2 AS href, a2 AS anchor FROM p),
by_anchor AS (
  SELECT href, anchor, count(*) AS n FROM pairs GROUP BY 1, 2),
top AS (
  SELECT href, anchor AS top_anchor, n AS top_anchor_n FROM (
    SELECT href, anchor, n,
           row_number() OVER (PARTITION BY href
                              ORDER BY n DESC, anchor) AS rn
    FROM by_anchor) WHERE rn = 1),
tot AS (
  SELECT href, count(*) AS n_links, count(DISTINCT src) AS n_sources
  FROM pairs GROUP BY 1)
SELECT t.href, t.n_links, t.n_sources, x.top_anchor, x.top_anchor_n
FROM tot t JOIN top x ON t.href = x.href
"""

    def domain_stats_docs(spark, sf):
        """URL/domain-level curation (operators/webfilter.py): host +
        eTLD+1 extraction (incl. a multi-label public suffix) over
        URLs synthesized from doc_id, aggregated into the per-domain
        reputation table; the oracle reconstructs the expected domain
        arithmetically, independent of the extraction code."""
        from ferenda_spark.operators.webfilter import domain_stats
        did = F.col("doc_id")
        tld = (F.when(did % 3 == 0, "com")
               .when(did % 3 == 1, "org").otherwise("co.uk"))
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat(F.lit("https://"),
                     F.when(did % 5 == 0, "sub.").otherwise(""),
                     F.lit("site"), (did % 20).cast("string"),
                     F.lit("."), tld,
                     F.lit("/p/"), did.cast("string")).alias("url"))
        return _longify(domain_stats(docs))
    # domain stats: the expected registered domain is reconstructed
    # from the same doc_id arithmetic that built the URL — an
    # extraction-independent statement of the eTLD+1 rule
    reg["domain_stats_docs"] = domain_stats_docs, """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'sub.' ELSE '' END ||
         'site' || CAST(doc_id % 20 AS VARCHAR) || '.' ||
         (['com', 'org', 'co.uk'])[CAST(doc_id % 3 AS INT) + 1] AS host,
         'site' || CAST(doc_id % 20 AS VARCHAR) || '.' ||
         (['com', 'org', 'co.uk'])[CAST(doc_id % 3 AS INT) + 1] AS domain
  FROM documents)
SELECT domain, count(*) AS n_docs,
       count(DISTINCT host) AS n_hosts
FROM d GROUP BY domain
"""

    def _template_urls(spark, sf):
        """(doc_id, url): one url per doc in four shapes — a product
        page, a dated post slug, a hex profile id and a search query
        (the fixture of url_templates_docs and template_budget_docs)."""
        did = F.col("doc_id")
        host = F.concat(F.lit("site"), (did % 10).cast("string"),
                        F.lit(".com"))
        url = (F.when(did % 4 == 0,
                      F.concat(F.lit("https://"), host,
                               F.lit("/product/"), did.cast("string")))
               .when(did % 4 == 1,
                     F.concat(F.lit("https://"), host, F.lit("/"),
                              (did % 5 + 2019).cast("string"),
                              F.lit("/"), (did % 12 + 1).cast("string"),
                              F.lit("/post-"), did.cast("string")))
               .when(did % 4 == 2,
                     F.concat(F.lit("https://"), host, F.lit("/u/"),
                              F.lpad(F.lower(F.hex(did)), 8, "0"),
                              F.lit("/Profile")))
               .otherwise(
                   F.concat(F.lit("https://"), host,
                            F.lit("/search?q=term"), did.cast("string"),
                            F.lit("&page="), (did % 7).cast("string"))))
        return _docs(spark, sf).select("doc_id", url.alias("url"))

    def url_templates_docs(spark, sf):
        """URL-template mining (operators/webfilter.py::url_templates
        over functions/web.py::url_template_col): urls synthesized
        from doc_id in four shapes — /product/<id>, a dated
        /<year>/<month>/post-<id> slug, a /u/<hex8>/Profile page, and
        a /search?q=…&page=… query — collapse to their templates
        ({d}/{x}/{a} segment classes, sorted query NAMES only); the
        oracle reconstructs every expected template arithmetically
        from doc_id, independent of the classifier code (incl. the
        hex-that-happens-to-be-all-digits edge: such segments are
        {d}, not {x})."""
        from ferenda_spark.operators.webfilter import url_templates
        return _longify(url_templates(_template_urls(spark, sf)))
    reg["url_templates_docs"] = url_templates_docs, f"""
WITH {_TEMPLATE_URLS_CTE}
SELECT template, count(*) AS n_urls, min(url) AS sample_url
FROM u GROUP BY template
"""

    def template_budget_docs(spark, sf):
        """Composed crawl-budget enforcement: url_templates'
        classifier keys each url by its TEMPLATE, then quota_sample
        caps every template at ~12 urls with the deterministic
        salted-threshold draw — the whole trap-pruning chain a
        frontier runs (a calendar trap's template is down-sampled to
        the budget; rare templates pass untouched).  The oracle
        recomposes both stages independently: templates rebuilt
        arithmetically from doc_id, the quota threshold restated in
        BIGINT."""
        from ferenda_spark.functions.web import url_template_col
        from ferenda_spark.operators import sampling
        docs = _template_urls(spark, sf).withColumn(
            "template", url_template_col(F.col("url")))
        kept = sampling.quota_sample(docs, cap=12, group_col="template")
        return _longify(kept.select("doc_id", "template"))
    # both composition stages restated independently: the template
    # arithmetic above + quota_sample's BIGINT threshold draw
    reg["template_budget_docs"] = template_budget_docs, f"""
WITH {_TEMPLATE_URLS_CTE},
n AS (SELECT template, count(*) AS grp_n FROM u GROUP BY 1)
SELECT u.doc_id, u.template
FROM u JOIN n ON u.template = n.template
WHERE n.grp_n <= 12
   OR CAST(concat('0x', substr(md5('quota-v1:' ||
        CAST(u.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      < 12 * (1152921504606846976 // n.grp_n)
"""

    def robots_filter_docs(spark, sf):
        """RFC 9309 robots admission (operators/robots.py): ten
        synthetic hosts, even hosts carry a robots.txt (hosts 0,4,8
        with an exact `ferendabot` group that overrides `*`
        EXCLUSIVELY, hosts 2,6 with only the `*` group: /private/
        disallow, /private/pub/ allow override, /*.tmp$ wildcard+
        anchor), odd hosts have no robots row (spec: absence means
        allow).  Urls take one of four path classes per doc_id.  The
        oracle re-derives every (allowed, prec) decision purely
        arithmetically from doc_id — group selection, longest-match
        precedence and the missing-row default all have to agree."""
        from ferenda_spark.operators.robots import (parse_robots,
                                                    robots_decisions)
        star = ("User-agent: *\nDisallow: /private/\n"
                "Allow: /private/pub/\nDisallow: /*.tmp$\n")
        robots = spark.createDataFrame(
            [("site%d.com" % h,
              star + ("User-agent: ferendabot\nDisallow: /doc/\n"
                      if h % 4 == 0 else ""))
             for h in range(0, 10, 2)],
            "domain string, robots_txt string")
        did = F.col("doc_id")
        path = (F.when(did % 4 == 0, F.concat(F.lit("/private/p"),
                                              did.cast("string")))
                .when(did % 4 == 1, F.concat(F.lit("/private/pub/p"),
                                             did.cast("string")))
                .when(did % 4 == 2, F.concat(F.lit("/p"),
                                             did.cast("string"),
                                             F.lit(".tmp")))
                .otherwise(F.concat(F.lit("/doc/p"),
                                    did.cast("string"))))
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat(F.lit("https://site"), (did % 10).cast("string"),
                     F.lit(".com"), path).alias("url"))
        rules = parse_robots(robots, agent="ferendabot")
        return _longify(
            robots_decisions(docs, rules)
            .select("doc_id", "robots_allowed", "robots_prec"))
    # robots decisions, re-derived arithmetically: host h = doc_id%10,
    # path class pc = doc_id%4.  Odd h: no robots row -> allowed/NULL.
    # h%4==0: the exact ferendabot group (Disallow /doc/, prec 5)
    # governs EXCLUSIVELY -> only pc=3 denied.  h%4==2: the * group ->
    # pc=0 denied by /private/ (prec 9), pc=1 allowed by the longer
    # /private/pub/ (prec 13), pc=2 denied by /*.tmp$ (prec 7), pc=3
    # unmatched -> allowed/NULL.
    reg["robots_filter_docs"] = robots_filter_docs, """
WITH u AS (
  SELECT doc_id, doc_id % 10 AS h, doc_id % 4 AS pc FROM documents)
SELECT doc_id,
  CASE WHEN h % 2 = 1 THEN TRUE
       WHEN h % 4 = 0 THEN pc <> 3
       ELSE pc = 1 OR pc = 3 END AS robots_allowed,
  CASE WHEN h % 2 = 1 THEN NULL
       WHEN h % 4 = 0 THEN CASE WHEN pc = 3 THEN 5 END
       ELSE CASE pc WHEN 0 THEN 9 WHEN 1 THEN 13 WHEN 2 THEN 7 END
  END::BIGINT AS robots_prec
FROM u
"""

    def sitemap_discovery(spark, sf):
        """Sitemap frontier discovery (operators/sitemaps.py): per-host
        urlset XML is assembled IN Spark from doc_id arithmetic (loc
        always; lastmod always; changefreq only when doc_id%5==0;
        priority 0.{doc_id%11} only when doc_id%3==0 — the %11==10 case
        pins the two-digit-fraction parse), then parsed back by the
        distributed Arrow reader.  The oracle restates every entry row
        arithmetically — loc-through-priority must round-trip."""
        from ferenda_spark.operators.sitemaps import parse_sitemaps
        did = F.col("doc_id")
        entry = F.concat(
            F.lit("<url><loc>https://site"), (did % 7).cast("string"),
            F.lit(".com/p"), did.cast("string"), F.lit("</loc>"),
            F.lit("<lastmod>2024-01-"),
            F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
            F.when(did % 5 == 0,
                   F.lit("<changefreq>daily</changefreq>"))
            .otherwise(F.lit("")),
            F.when(did % 3 == 0,
                   F.concat(F.lit("<priority>0."),
                            (did % 11).cast("string"),
                            F.lit("</priority>"))).otherwise(F.lit("")),
            F.lit("</url>"))
        maps = (_docs(spark, sf)
                .select((F.col("doc_id") % 7).alias("h"), entry.alias("e"))
                .groupBy("h")
                .agg(F.concat(
                    F.lit('<urlset xmlns="http://www.sitemaps.org/'
                          'schemas/sitemap/0.9">'),
                    F.concat_ws("", F.collect_list("e")),
                    F.lit("</urlset>")).alias("xml"))
                .select(F.concat(F.lit("https://site"),
                                 F.col("h").cast("string"),
                                 F.lit(".com/sitemap.xml")).alias("url"),
                        "xml"))
        return _longify(
            parse_sitemaps(maps)
            .select("loc", "lastmod", "changefreq", "priority_milli"))
    # every sitemap entry restated arithmetically: loc/lastmod always,
    # changefreq only when doc_id%5==0, priority only when doc_id%3==0
    # (0.k -> k*100 except k=10 -> "0.10" = 100), spec default 500
    reg["sitemap_discovery"] = sitemap_discovery, """
SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
         || CAST(doc_id AS VARCHAR) AS loc,
       '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         AS lastmod,
       CASE WHEN doc_id % 5 = 0 THEN 'daily' END AS changefreq,
       CASE WHEN doc_id % 3 = 0 THEN
         CASE WHEN doc_id % 11 = 10 THEN 100
              ELSE (doc_id % 11) * 100 END
       ELSE 500 END::BIGINT AS priority_milli
FROM documents
"""

    def fetch_schedule_docs(spark, sf):
        """Politeness scheduling (crawl.py::schedule_fetches composed
        with robots.py crawl-delay parsing): 50 synthetic hosts, even
        hosts publish `Crawl-delay: h%7` (h%7==0 pins the zero-delay
        case), odd hosts have no robots row (default 1 req/s); each
        host's queue is url-ordered.  The oracle restates the per-host
        row_number and the slot arithmetic."""
        from ferenda_spark.operators.crawl import schedule_fetches
        from ferenda_spark.operators.robots import parse_robots
        robots = spark.createDataFrame(
            [("site%d.com" % h,
              "User-agent: *\nCrawl-delay: %d\n" % (h % 7))
             for h in range(0, 50, 2)],
            "domain string, robots_txt string")
        did = F.col("doc_id")
        frontier = _docs(spark, sf).select(
            "doc_id",
            F.concat(F.lit("https://site"), (did % 50).cast("string"),
                     F.lit(".com/p"), did.cast("string")).alias("url"))
        out = schedule_fetches(frontier, parse_robots(robots))
        return _longify(out.select("doc_id", "host", "fetch_seq",
                                   "not_before_millis"))
    # per-host url-ordered queue; even hosts delay (h%7) seconds from
    # their robots record, odd hosts the 1 req/s default
    reg["fetch_schedule_docs"] = fetch_schedule_docs, """
WITH u AS (
  SELECT doc_id, doc_id % 50 AS h,
         'https://site' || CAST(doc_id % 50 AS VARCHAR) || '.com/p'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
s AS (
  SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY url)
           AS fetch_seq
  FROM u)
SELECT doc_id, 'site' || CAST(h AS VARCHAR) || '.com' AS host,
       fetch_seq,
       (fetch_seq - 1)
         * (CASE WHEN h % 2 = 0 THEN (h % 7) * 1000 ELSE 1000 END)
         AS not_before_millis
FROM s
"""

    def jsonld_extract_docs(spark, sf):
        """schema.org JSON-LD harvest (structured_data.py): pages with
        an ld+json block synthesized from doc_id arithmetic (typed
        node, integer literal, two-element array, @id-less nested
        Person) are fed through the Arrow extractor; the oracle
        restates all eight triples per page — CURIE expansion, literal
        datatyping, array fan-out and the deterministic skolem
        fragment of the nested node must all agree."""
        from ferenda_spark.operators.structured_data import (
            jsonld_triples,
        )
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://site"),
                       (F.col("doc_id") % 7).cast("string"),
                       F.lit(".com/p"), did)
        block = F.concat(
            F.lit('{"@context":"https://schema.org","@id":"'), url,
            F.lit('","@type":"Article","headline":"Doc '), did,
            F.lit('","wordCount":'),
            (F.col("doc_id") % 997).cast("string"),
            F.lit(',"keywords":["k'),
            (F.col("doc_id") % 7).cast("string"), F.lit('","k'),
            ((F.col("doc_id") + 1) % 7).cast("string"),
            F.lit('"],"author":{"@type":"Person","name":"Author '),
            (F.col("doc_id") % 50).cast("string"), F.lit('"}}'))
        pages = _docs(spark, sf).select(
            url.alias("url"),
            F.concat(F.lit('<html><head>'
                           '<script type="application/ld+json">'),
                     block,
                     F.lit("</script></head><body></body></html>"))
            .alias("html"))
        return (jsonld_triples(pages)
                .filter(F.col("error").isNull())
                .select("subj", "pred", "obj", "obj_is_literal",
                        "obj_datatype", "obj_lang"))
    # the eight JSON-LD triples per page, restated arm by arm
    reg["jsonld_extract_docs"] = jsonld_extract_docs, """
WITH u AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents)
SELECT subj, pred, obj, obj_is_literal, obj_datatype, obj_lang FROM (
  SELECT url AS subj, 'rdf:type' AS pred, 'schema:Article' AS obj,
         FALSE AS obj_is_literal, NULL::VARCHAR AS obj_datatype,
         NULL::VARCHAR AS obj_lang FROM u
  UNION ALL
  SELECT url, 'schema:headline', 'Doc ' || CAST(doc_id AS VARCHAR),
         TRUE, NULL, NULL FROM u
  UNION ALL
  SELECT url, 'schema:wordCount', CAST(doc_id % 997 AS VARCHAR),
         TRUE, 'xsd:integer', NULL FROM u
  UNION ALL
  SELECT url, 'schema:keywords', 'k' || CAST(doc_id % 7 AS VARCHAR),
         TRUE, NULL, NULL FROM u
  UNION ALL
  SELECT url, 'schema:keywords',
         'k' || CAST((doc_id + 1) % 7 AS VARCHAR), TRUE, NULL, NULL
  FROM u
  UNION ALL
  SELECT url, 'schema:author', url || '#jsonld/0/author', FALSE,
         NULL, NULL FROM u
  UNION ALL
  SELECT url || '#jsonld/0/author', 'rdf:type', 'schema:Person',
         FALSE, NULL, NULL FROM u
  UNION ALL
  SELECT url || '#jsonld/0/author', 'schema:name',
         'Author ' || CAST(doc_id % 50 AS VARCHAR), TRUE, NULL, NULL
  FROM u)
"""

    def microdata_extract_docs(spark, sf):
        """HTML microdata harvest (structured_data.py
        microdata_triples): the attribute-markup leg of the Web Data
        Commons triad.  Pages carry an itemscope Product (itemid
        subject, text / meta@content / a@href property kinds) with a
        nested @id-less Offer whose subject is the deterministic
        pre-order skolem ``#md/1``; the oracle restates all seven
        triples per page arm by arm."""
        from ferenda_spark.operators.structured_data import (
            microdata_triples,
        )
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://site"),
                       (F.col("doc_id") % 7).cast("string"),
                       F.lit(".com/p"), did)
        html = F.concat(
            F.lit('<html><body><div itemscope '
                  'itemtype="https://schema.org/Product" itemid="'),
            url, F.lit('#prod"><span itemprop="name">Product '), did,
            F.lit('</span><meta itemprop="sku" content="SKU-'),
            (F.col("doc_id") % 997).cast("string"),
            F.lit('"><a itemprop="url" href="https://site'),
            (F.col("doc_id") % 7).cast("string"), F.lit(".com/buy/"),
            did, F.lit('">buy</a><div itemprop="offers" itemscope '
                       'itemtype="https://schema.org/Offer">'
                       '<span itemprop="price">'),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("</span></div></div></body></html>"))
        pages = _docs(spark, sf).select(url.alias("url"),
                                        html.alias("html"))
        return (microdata_triples(pages)
                .filter(F.col("error").isNull())
                .select("subj", "pred", "obj", "obj_is_literal",
                        "obj_datatype", "obj_lang"))
    # the seven microdata triples restated arm by arm; the nested
    # Offer's subject is the pre-order skolem ordinal 1 (the Product
    # is item 0 even though its itemid overrides the subject)
    reg["microdata_extract_docs"] = microdata_extract_docs, """
WITH u AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents)
SELECT subj, pred, obj, obj_is_literal, obj_datatype, obj_lang FROM (
  SELECT url || '#prod' AS subj, 'rdf:type' AS pred,
         'schema:Product' AS obj, FALSE AS obj_is_literal,
         NULL::VARCHAR AS obj_datatype, NULL::VARCHAR AS obj_lang
  FROM u
  UNION ALL
  SELECT url || '#prod', 'schema:name',
         'Product ' || CAST(doc_id AS VARCHAR), TRUE, NULL, NULL
  FROM u
  UNION ALL
  SELECT url || '#prod', 'schema:sku',
         'SKU-' || CAST(doc_id % 997 AS VARCHAR), TRUE, NULL, NULL
  FROM u
  UNION ALL
  SELECT url || '#prod', 'schema:url',
         'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/buy/'
           || CAST(doc_id AS VARCHAR), FALSE, NULL, NULL FROM u
  UNION ALL
  SELECT url || '#md/1', 'rdf:type', 'schema:Offer', FALSE, NULL,
         NULL FROM u
  UNION ALL
  SELECT url || '#prod', 'schema:offers', url || '#md/1', FALSE,
         NULL, NULL FROM u
  UNION ALL
  SELECT url || '#md/1', 'schema:price',
         CAST(doc_id % 100 AS VARCHAR), TRUE, NULL, NULL FROM u)
"""

    def kg_scc(spark, sf):
        """Strongly connected components (rank.py scc): FW/BW
        min-label coloring over a deterministic 210-node webgraph —
        21 ten-page link rings (the cycle structure components()
        cannot see), one-way bridges between consecutive rings (a DAG
        condensation), and five back chords that each merge two rings
        into one 20-node SCC.  Oracle: recursive-CTE transitive
        closure, comp = min over mutually-reachable ids."""
        from ferenda_spark.operators.rank import scc
        return scc(_scc_graph(spark, sf))
    # SCC restated from first principles: reachability closure via
    # recursive CTE, comp(v) = min id u with v->*u and u->*v (the
    # node itself included via the rings' (a,a) closure rows and the
    # coalesce for cycle-free nodes)
    reg["kg_scc"] = kg_scc, f"""
WITH {_SCC_COMP_CTE}
SELECT id, comp FROM comp
"""

    def _scc_graph(spark, sf):
        """The deterministic 210-node ring/bridge/chord webgraph the
        SCC-family gates share (see kg_scc docstring)."""
        v = F.col("v")
        d = (_docs(spark, sf)
             .select((F.col("doc_id") % 210).alias("v")).distinct())
        ring = d.select(v.alias("src"),
                        (v - v % 10 + (v + 1) % 10).alias("dst"))
        bridge = (d.filter((v % 10 == 0) & (v >= 10))
                  .select(v.alias("src"), (v - 10).alias("dst")))
        chord = (d.filter((v % 40 == 0) & (v <= 199))
                 .select(v.alias("src"), (v + 10).alias("dst")))
        return ring.unionByName(bridge).unionByName(chord)

    def kg_condensation(spark, sf):
        """Condensation DAG + dependency layering (rank.py
        condensation/topo_levels composed over scc): the 210-node
        ring/bridge/chord webgraph collapses to a 16-component chain
        (five chord-merged 20-node SCCs + eleven single rings);
        bridges orient ring k → ring k-1, so the ring-20 component is
        the unique level-0 source and the merged rings-0/1 component
        the level-15 sink.  Output (comp, level, n_members) — the
        processing order incremental regeneration would schedule.
        Oracle: the kg_scc mutual-reachability CTE, comp-projected
        distinct edges, longest-path levels via recursive CTE."""
        from ferenda_spark.operators.rank import (condensation, scc,
                                                  topo_levels)
        edges = _scc_graph(spark, sf).localCheckpoint(eager=True)
        comps = scc(edges)
        dag = condensation(edges, comps)
        lv = topo_levels(dag.select(F.col("csrc").alias("src"),
                                    F.col("cdst").alias("dst")))
        members = (comps.groupBy("comp")
                   .agg(F.count(F.lit(1)).alias("n_members")))
        return (members
                .join(lv.withColumnRenamed("node", "comp"), "comp",
                      "left")
                .select("comp",
                        F.coalesce("level", F.lit(0).cast("long"))
                        .alias("level"),
                        "n_members"))
    # condensation layering from first principles: the kg_scc mutual-
    # reachability comp labeling, comp-projected distinct DAG edges,
    # longest-path level by enumerating all path lengths from the
    # in-degree-0 sources (recursive CTE) and taking the max per comp
    reg["kg_condensation"] = kg_condensation, f"""
WITH {_SCC_COMP_CTE},
cedges AS MATERIALIZED (
  SELECT DISTINCT cs.comp AS csrc, cd.comp AS cdst
  FROM e JOIN comp cs ON cs.id = e.src
         JOIN comp cd ON cd.id = e.dst
  WHERE cs.comp != cd.comp),
lp AS (
  WITH RECURSIVE p(c, l) AS (
    SELECT csrc, CAST(0 AS BIGINT) FROM cedges
    WHERE csrc NOT IN (SELECT cdst FROM cedges)
    UNION
    SELECT e2.cdst, p.l + 1 FROM p JOIN cedges e2 ON e2.csrc = p.c)
  SELECT c, max(l) AS level FROM p GROUP BY c)
SELECT m.comp, coalesce(lp.level, 0) AS level, m.n_members
FROM (SELECT comp, count(*) AS n_members FROM comp GROUP BY comp) m
LEFT JOIN lp ON lp.c = m.comp
"""

    def kg_landmark_dist(spark, sf):
        """Landmark BFS distances (rank.py landmark_distances): exact
        hop distance from every node to landmarks {0, 7} over a
        60-node doubling graph (v → v+1 mod 60 and v → 2v mod 60 —
        log-diameter, the expander shape real webgraphs have); all
        landmarks advance in ONE iterated frontier join.  Oracle:
        recursive-CTE path enumeration bounded at depth 15, min per
        (node, landmark)."""
        from ferenda_spark.operators.rank import landmark_distances
        v = F.col("v")
        d = (_docs(spark, sf)
             .select((F.col("doc_id") % 60).alias("v")).distinct())
        edges = (d.select(v.alias("src"), ((v + 1) % 60).alias("dst"))
                 .unionByName(
                     d.select(v.alias("src"), ((v * 2) % 60).alias("dst"))))
        lms = spark.createDataFrame([(0,), (7,)], "node long")
        out = landmark_distances(edges, lms, max_depth=15)
        return out.select(F.col("node").cast("long").alias("node"),
                          F.col("landmark").cast("long").alias("landmark"),
                          "dist")
    # landmark shortest-path distances from first principles: every
    # (node, landmark, dist) path of depth <= 15 enumerated by a
    # recursive CTE walking edges BACKWARD from the landmarks, then
    # min(dist) per pair — matches BFS first-discovery distances
    reg["kg_landmark_dist"] = kg_landmark_dist, f"""
WITH {_LANDMARK_DIST_CTE}
SELECT node, landmark, dist FROM walk
"""

    def kg_harmonic_landmarks(spark, sf):
        """Landmark-sampled harmonic centrality (rank.py
        harmonic_centrality) over the same 60-node doubling graph
        and {0, 7} landmark set as kg_landmark_dist — one combinable
        groupBy over the distance rows, all-integer micro units.
        Oracle: the recursive-CTE distances plus the identical
        DIV arithmetic."""
        from ferenda_spark.operators.rank import harmonic_centrality
        v = F.col("v")
        d = (_docs(spark, sf)
             .select((F.col("doc_id") % 60).alias("v")).distinct())
        edges = (d.select(v.alias("src"), ((v + 1) % 60).alias("dst"))
                 .unionByName(
                     d.select(v.alias("src"),
                              ((v * 2) % 60).alias("dst"))))
        lms = spark.createDataFrame([(0,), (7,)], "node long")
        out = harmonic_centrality(edges, lms)
        return out.select(F.col("node").cast("long").alias("node"),
                          "k_reached", "inv_dist_sum_micro",
                          "harmonic_micro")
    reg["kg_harmonic_landmarks"] = kg_harmonic_landmarks, f"""
WITH {_LANDMARK_DIST_CTE}
SELECT node, count(*) AS k_reached,
       CAST(sum(1000000 // dist) AS BIGINT) AS inv_dist_sum_micro,
       CAST(sum(1000000 // dist) * 59 // 2 AS BIGINT)
         AS harmonic_micro
FROM walk WHERE dist > 0 GROUP BY node
"""

    def kg_assortativity(spark, sf):
        """Degree assortativity (rank.py degree_assortativity) of the
        citation graph: Pearson correlation of endpoint degrees over
        distinct undirected edges — exact BIGINT sums, one double
        expression, so the oracle reproduces r bit-for-bit.  Webgraphs
        run disassortative; a positive r flags link-farm structure."""
        from ferenda_spark.operators.rank import degree_assortativity
        e = _kg_edges(spark, sf)
        cites = (e.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")))
        return degree_assortativity(cites)
    # assortativity from first principles: distinct undirected edges,
    # integer degree sums, the identical final double expression
    reg["kg_assortativity"] = kg_assortativity, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
cites AS (
  SELECT subj AS src, obj AS dst FROM golden
  WHERE pred = 'dcterms:references'
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM cites WHERE src <> dst),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY n),
j AS (
  SELECT da.d AS da, db.d AS db
  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
s AS (
  SELECT CAST(2 * count(*) AS BIGINT) AS m2,
         CAST(sum(2 * da * db) AS BIGINT) AS sxy,
         CAST(sum(da + db) AS BIGINT) AS sx,
         CAST(sum(da * da + db * db) AS BIGINT) AS sx2
  FROM j)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges, sxy, sx, sx AS sy,
       sx2, sx2 AS sy2,
       round((CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
             / (CAST(m2 AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx),
             6) AS r
FROM s
"""

    def kg_class_links(spark, sf):
        """Class-link matrix (voidstats.class_links): per (subject
        class, predicate, object class) triple/distinct counts over
        the KG — the VoID-linkset schema summary; multi-typed
        entities count under min(class) (deterministic single class),
        untyped endpoints under NULL so the matrix partitions the
        non-type triples exactly."""
        from ferenda_spark.operators.voidstats import class_links
        return _longify(class_links(_kg_edges(spark, sf)))
    # class-link matrix from first principles over the same golden
    # triples: one deterministic class per typed entity (min), NULL
    # for untyped, grouped counts over the non-type triples
    reg["kg_class_links"] = kg_class_links, f"""
WITH {_F_CTE}, {_TRIPLES_CTE},
types AS (
  SELECT subj AS n, min(obj) AS cls FROM golden
  WHERE pred = 'rdf:type' GROUP BY subj),
rest AS (SELECT * FROM golden WHERE pred <> 'rdf:type')
SELECT ts.cls AS subj_class, r.pred, tob.cls AS obj_class,
       count(*) AS n_triples,
       count(DISTINCT r.subj) AS n_subjects,
       count(DISTINCT r.obj) AS n_objects
FROM rest r
LEFT JOIN types ts ON ts.n = r.subj
LEFT JOIN types tob ON tob.n = r.obj
GROUP BY 1, 2, 3
"""

    def zorder_layout_docs(spark, sf):
        """Z-order layout key (operators/layout.py): the Morton
        interleave of two derived dimensions as one codegen BIGINT —
        the multi-dim file-pruning sort key for the Iceberg graph
        tables.  Oracle: the identical shift/mask spread chain in
        DuckDB (both engines are signed-64 with the same &,|,<<)."""
        from ferenda_spark.operators.layout import zorder_key2
        did = F.col("doc_id")
        return _docs(spark, sf).select(
            "doc_id",
            zorder_key2(did % 1024, (did * 37) % 1024).alias("zkey"))


    # the identical Morton spread chain (layout.py::_MASKS2), applied
    # to both dimensions; clamps are no-ops here (dims < 2^31)
    def _spread2_sql(col: str) -> str:
        c = col
        for sh, m in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                      (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                      (1, 0x5555555555555555)):
            c = f"(({c} | ({c} << {sh})) & {m})"
        return c

    _prof_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    _prof_union = "\nUNION ALL\n".join(f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       round(count({c}) / greatest(count(*), 1), 6) AS completeness,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents""" for c in _prof_cols)

    _checks_rows = ", ".join(
        f"('{cid}', '{col}', '{kind}', {thr})"
        for cid, col, kind, thr in DOC_CHECKS)

    reg["zorder_layout_docs"] = zorder_layout_docs, f"""
WITH d AS (SELECT doc_id, doc_id % 1024 AS x,
                  (doc_id * 37) % 1024 AS y FROM documents)
SELECT doc_id,
       ({_spread2_sql('x')} | ({_spread2_sql('y')} << 1)) AS zkey
FROM d
"""

    def kg_fused_metadata(spark, sf):
        """Structured+unstructured fusion: schema.org blocks whose
        pages declare ``"sameAs": {"@id": <stable doc uri>}`` (the
        standard web-markup idiom for canonical identity) are
        harvested by structured_data.py, then infer.py's sameAs
        canonicalization rewrites every page-url-keyed triple onto
        the stable uri — web metadata lands on the SAME nodes the
        text pipeline mints, with identity links consumed rather
        than left for query-time UNIONs.  The canonical spelling is
        the cluster min (id.example.org < site*.com throughout)."""
        from ferenda_spark.operators.infer import sameas_canonicalize
        from ferenda_spark.operators.structured_data import (
            jsonld_triples,
        )
        did = F.col("doc_id").cast("string")
        url = F.concat(F.lit("https://site"),
                       (F.col("doc_id") % 7).cast("string"),
                       F.lit(".com/p"), did)
        canon = F.concat(F.lit("https://id.example.org/doc/"), did)
        block = F.concat(
            F.lit('{"@context":"https://schema.org","@id":"'), url,
            F.lit('","@type":"Article","headline":"Doc '), did,
            F.lit('","sameAs":{"@id":"'), canon, F.lit('"}}'))
        pages = _docs(spark, sf).select(
            url.alias("url"),
            F.concat(F.lit('<script type="application/ld+json">'),
                     block, F.lit("</script>")).alias("html"))
        t = (jsonld_triples(pages).filter(F.col("error").isNull())
             .select("subj", "pred", "obj"))
        return sameas_canonicalize(t, sameas_pred="schema:sameAs")
    # after canonicalization both harvested triples sit on the stable
    # uri (the cluster min); the sameAs links themselves are dropped
    reg["kg_fused_metadata"] = kg_fused_metadata, """
WITH u AS (
  SELECT doc_id,
         'https://id.example.org/doc/' || CAST(doc_id AS VARCHAR)
           AS canon
  FROM documents)
SELECT canon AS subj, 'rdf:type' AS pred, 'schema:Article' AS obj
FROM u
UNION ALL
SELECT canon, 'schema:headline', 'Doc ' || CAST(doc_id AS VARCHAR)
FROM u
"""

    def _cdx_lines(spark, sf, capture: int):
        """One synthetic CDXJ line per doc for capture 0 or 1."""
        did = F.col("doc_id")
        ds = did.cast("string")
        if capture == 0:
            ts, status = F.concat(F.lit("2023"), F.lpad(ds, 10, "0")), \
                F.lit("200")
            fname, off, ln = "w0.warc.gz", did * 10, 5
        else:
            ts = F.concat(F.lit("2024"), F.lpad(ds, 10, "0"))
            status = F.when(did % 3 == 0, "500").otherwise("200")
            fname, off, ln = "w1.warc.gz", did * 20, 7
        return _docs(spark, sf).select(F.concat(
            F.lit("com,site"), (did % 7).cast("string"), F.lit(")/p"),
            ds, F.lit(" "), ts,
            F.lit(' {"url": "https://site'), (did % 7).cast("string"),
            F.lit(".com/p"), ds, F.lit('", "status": "'), status,
            F.lit('", "mime": "text/html", "filename": "' + fname
                  + '", "offset": "'), off.cast("string"),
            F.lit('", "length": "%d"}' % ln)).alias("line"))

    def cdx_latest_capture(spark, sf):
        """CDXJ index parse + newest-OK-capture dedup (sources/
        cdx.py): two synthetic crawls per url — the 2024 capture wins
        except where its status is 500 (every third doc), which falls
        back to the 2023 capture.  Oracle restates the winner
        arithmetically."""
        from ferenda_spark.sources.cdx import latest_capture, parse_cdxj
        lines = (_cdx_lines(spark, sf, 0)
                 .unionByName(_cdx_lines(spark, sf, 1)))
        return latest_capture(parse_cdxj(lines)).select(
            "surt", "ts", "url", "filename", "offset", "length")
    # the 2024 capture wins unless its status is 500 (doc_id%3==0),
    # then the 2023 one; restated per column
    reg["cdx_latest_capture"] = cdx_latest_capture, """
SELECT 'com,site' || CAST(doc_id % 7 AS VARCHAR) || ')/p'
         || CAST(doc_id AS VARCHAR) AS surt,
       CAST((CASE WHEN doc_id % 3 = 0 THEN '2023' ELSE '2024' END
             || lpad(CAST(doc_id AS VARCHAR), 10, '0')) AS BIGINT)
         AS ts,
       'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 0 THEN 'w0.warc.gz'
            ELSE 'w1.warc.gz' END AS filename,
       CASE WHEN doc_id % 3 = 0 THEN doc_id * 10
            ELSE doc_id * 20 END AS offset,
       CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 7 END::BIGINT AS length
FROM documents
"""

    def cdx_fetch_plan(spark, sf):
        """Byte-range read planning over the parsed index: per WARC
        file, records 80 bytes apart (gap 30 ≤ 32: merge) in runs of
        four, then a 1000-byte jump (new segment) — the full
        lines → parse → coalesced-ranges chain.  Oracle restates the
        segment arithmetic."""
        from ferenda_spark.sources.cdx import fetch_plan, parse_cdxj
        did = F.col("doc_id")
        r = F.expr("doc_id div 5")
        offset = r * 80 + F.expr("(doc_id div 5) div 4") * 1000
        lines = _docs(spark, sf).select(F.concat(
            F.lit("com,site)/p"), did.cast("string"), F.lit(" 2024"),
            F.lpad(did.cast("string"), 10, "0"),
            F.lit(' {"url": "https://site.com/p'), did.cast("string"),
            F.lit('", "status": "200", "filename": "w'),
            (did % 5).cast("string"),
            F.lit('.warc.gz", "offset": "'), offset.cast("string"),
            F.lit('", "length": "50"}')).alias("line"))
        return fetch_plan(parse_cdxj(lines))
    # runs of four 80-byte-spaced records merge (gap 30 <= 32), the
    # 1000-byte jump starts the next segment
    reg["cdx_fetch_plan"] = cdx_fetch_plan, """
WITH g AS (
  SELECT DISTINCT doc_id % 5 AS f, (doc_id // 5) // 4 AS grp
  FROM documents)
SELECT 'w' || CAST(f AS VARCHAR) || '.warc.gz' AS filename,
       grp + 1 AS seg,
       grp * 1320 AS range_start,
       grp * 1320 + 290 AS range_end,
       4::BIGINT AS n_records
FROM g
"""

    def redirect_resolution(spark, sf):
        """HTTP redirect-chain resolution (crawl.py
        resolve_redirects): synthetic chains r(did) -> r(did-1)
        ending at multiples of 5 (1-4 hops) plus one deliberate
        2-cycle c1 <-> c2; pointer doubling (4 rounds = 16 hops)
        resolves every chain and reports the cycle loudly as
        resolved=false.  Oracle = hop-bounded recursive CTE with the
        identical min(dst) capture collapse."""
        from ferenda_spark.operators.crawl import resolve_redirects
        did = F.col("doc_id")
        r = F.lit("https://m.example.org/r")
        chain = (_docs(spark, sf).filter(did % 5 != 0)
                 .select(F.concat(r, did.cast("string")).alias("src"),
                         F.concat(r, (did - 1).cast("string"))
                         .alias("dst")))
        c = F.lit("https://m.example.org/c")
        cyc = (_docs(spark, sf).filter(did.isin(1, 2))
               .select(F.concat(c, did.cast("string")).alias("src"),
                       F.concat(c, (F.lit(3) - did).cast("string"))
                       .alias("dst")))
        return _longify(resolve_redirects(chain.unionByName(cyc)))
    # redirect chains restated as a hop-bounded recursive CTE: the
    # pointer-doubled operator follows exactly min(chain, 2^4) hops,
    # so the oracle walks to hops < 16 and takes the deepest row
    reg["redirect_resolution"] = redirect_resolution, """
WITH RECURSIVE e AS (
  SELECT 'https://m.example.org/r' || CAST(doc_id AS VARCHAR) AS src,
         'https://m.example.org/r' || CAST(doc_id - 1 AS VARCHAR)
           AS dst
  FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT 'https://m.example.org/c' || CAST(doc_id AS VARCHAR),
         'https://m.example.org/c' || CAST(3 - doc_id AS VARCHAR)
  FROM documents WHERE doc_id IN (1, 2)),
m AS (SELECT src, min(dst) AS dst FROM e GROUP BY src),
walk AS (
  SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM m
  UNION ALL
  SELECT w.src, m.dst, w.hops + 1
  FROM walk w JOIN m ON w.cur = m.src WHERE w.hops < 16),
fin AS (
  SELECT src, arg_max(cur, hops) AS final_url, max(hops) AS hops
  FROM walk GROUP BY src)
SELECT f.src, f.final_url, f.hops, (d.src IS NULL) AS resolved
FROM fin f
LEFT JOIN (SELECT DISTINCT src FROM m) d ON f.final_url = d.src
"""

    def kg_host_graph(spark, sf):
        """Host-level webgraph projection (crawl.py host_graph): two
        synthetic cross-site links per doc over a 7-host universe,
        intra-host links dropped, weights = link count + distinct
        source pages.  Oracle restates the host arithmetic and the
        GROUP BY."""
        from ferenda_spark.operators.crawl import host_graph
        did = F.col("doc_id")
        src = F.concat(F.lit("https://site"), (did % 7).cast("string"),
                       F.lit(".com/p"), did.cast("string"))
        e1 = _docs(spark, sf).select(
            src.alias("src"),
            F.concat(F.lit("https://site"), (did % 5).cast("string"),
                     F.lit(".com/x"), did.cast("string")).alias("dst"))
        e2 = _docs(spark, sf).select(
            src.alias("src"),
            F.concat(F.lit("https://site"),
                     ((did + 3) % 7).cast("string"),
                     F.lit(".com/y"),
                     F.expr("doc_id div 2").cast("string"))
            .alias("dst"))
        return host_graph(e1.unionByName(e2))
    # the host projection restated arithmetically (the host of
    # https://siteK.com/... is siteK.com by construction)
    reg["kg_host_graph"] = kg_host_graph, """
WITH l AS (
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS src_host,
         'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS dst_host,
         'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
           || CAST(doc_id AS VARCHAR) AS src
  FROM documents
  UNION ALL
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com',
         'site' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.com',
         'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p'
           || CAST(doc_id AS VARCHAR)
  FROM documents)
SELECT src_host, dst_host, count(*) AS n_links,
       CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages
FROM l WHERE src_host <> dst_host
GROUP BY src_host, dst_host
"""

    def kg_host_rank(spark, sf):
        """Domain-authority ranking: the host-graph projection
        (crawl.py host_graph) composed with integer PageRank
        (rank.py pagerank) — the Common-Crawl-style host-rank signal
        a web curation pipeline uses for seed prioritization and
        quota weighting.  A wider 97/89-host universe than the
        kg_host_graph gate so the rank vector has real structure;
        the oracle re-derives the distinct host edges and unrolls
        the same three BIGINT iterations."""
        from ferenda_spark.operators.crawl import host_graph
        from ferenda_spark.operators.rank import pagerank
        did = F.col("doc_id")
        src = F.concat(F.lit("https://site"), (did % 97).cast("string"),
                       F.lit(".com/p"), did.cast("string"))
        e1 = _docs(spark, sf).select(
            src.alias("src"),
            F.concat(F.lit("https://site"), (did % 89).cast("string"),
                     F.lit(".com/x"), did.cast("string")).alias("dst"))
        e2 = _docs(spark, sf).select(
            src.alias("src"),
            F.concat(F.lit("https://site"),
                     ((did + 31) % 97).cast("string"),
                     F.lit(".com/y"), did.cast("string")).alias("dst"))
        hg = host_graph(e1.unionByName(e2))
        pr = pagerank(hg.select(F.col("src_host").alias("src"),
                                F.col("dst_host").alias("dst")),
                      iters=3).withColumnRenamed("node", "host")
        return analytics.ranked_topk(
            pr, [("rank_micro", True), ("host", False)], 20)
    # host_graph → pagerank composition: distinct host edges, then
    # the same three unrolled BIGINT iterations as kg_pagerank
    reg["kg_host_rank"] = kg_host_rank, f"""
WITH hl AS (
  SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS src_host,
         'site' || CAST(doc_id % 89 AS VARCHAR) || '.com' AS dst_host
  FROM documents
  UNION ALL
  SELECT 'site' || CAST(doc_id % 97 AS VARCHAR) || '.com',
         'site' || CAST((doc_id + 31) % 97 AS VARCHAR) || '.com'
  FROM documents),
cites AS MATERIALIZED (
  SELECT DISTINCT src_host AS src, dst_host AS dst FROM hl
  WHERE src_host <> dst_host),
{_PAGERANK_CTE}
SELECT host, rank_micro, CAST(rn AS INT) AS rank FROM (
  SELECT node AS host, CAST(r // 1000000 AS BIGINT) AS rank_micro,
         row_number() OVER (ORDER BY r // 1000000 DESC, node) AS rn
  FROM it3)
WHERE rn <= 20
"""

    def _churn_snapshots(spark, sf):
        """(prev, curr) crawl snapshots of (url, content_hash) over one
        url space: 1-in-7 urls new, 1-in-11 gone, 1-in-5 survivors
        rehashed (crawl_churn_docs, revisit_schedule_docs)."""
        d = _docs(spark, sf)
        did = F.col("doc_id")
        url = F.concat(F.lit("https://site"), (did % 13).cast("string"),
                       F.lit(".com/d"), did.cast("string"))
        old_text = F.when(did % 5 == 0,
                          F.concat(F.col("text"), F.lit(":v1"))) \
                    .otherwise(F.col("text"))
        prev = d.filter(did % 7 != 3).select(
            url.alias("url"),
            F.md5(F.encode(old_text, "UTF-8")).alias("content_hash"))
        curr = d.filter(did % 11 != 4).select(
            url.alias("url"),
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("content_hash"))
        return prev, curr

    def crawl_churn_docs(spark, sf):
        """Crawl-over-crawl change detection (crawl.py snapshot_churn
        → host_churn): two synthetic snapshots of the same url space
        — 1-in-7 urls new, 1-in-11 gone, 1-in-5 of the survivors
        rehashed (modified) — classified per url by ONE full-outer
        hash join, then profiled per host with integer per-mille
        churn for recrawl budgeting.  Oracle restates the join and
        every conditional count."""
        from ferenda_spark.operators.crawl import (host_churn,
                                                   snapshot_churn)
        return host_churn(snapshot_churn(*_churn_snapshots(spark, sf)))
    # the full-outer hash join and every conditional count restated;
    # churn_permille is the same BIGINT floor division
    reg["crawl_churn_docs"] = crawl_churn_docs, f"""
WITH {_CHURN_CTE},
g AS (
  SELECT host,
         CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_gone,
         CAST(sum(CASE WHEN status = 'modified' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_modified,
         CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_unchanged
  FROM j GROUP BY host)
SELECT host, n_new, n_gone, n_modified, n_unchanged,
       CAST(1000 * (n_new + n_gone + n_modified)
            // (n_new + n_gone + n_modified + n_unchanged)
            AS BIGINT) AS churn_permille
FROM g
"""

    def revisit_schedule_docs(spark, sf):
        """Recrawl scheduling (crawl.py revisit_schedule over the
        crawl_churn_docs fixture): per host the Cho & Garcia-Molina
        bias-corrected change-rate estimate λ̂ = -ln((n-X+.5)/(n+.5))/Δ
        over surviving pages (Δ = 7 days between the snapshots) and
        the 1/λ̂ revisit interval clamped to [1h, 30d] — churning
        hosts earn short intervals.  Exact-integer counts, one double
        expression, oracle bit-identical."""
        from ferenda_spark.operators.crawl import (host_churn,
                                                   revisit_schedule,
                                                   snapshot_churn)
        prof = host_churn(snapshot_churn(*_churn_snapshots(spark, sf)))
        return revisit_schedule(prof, interval_s=7 * 86400)
    # Cho & Garcia-Molina revisit intervals over the same churn
    # arithmetic: λ̂ and 1/λ̂ as ONE double expression over the exact
    # integer counts (Δ = 604800 s, clamp [3600, 2592000])
    reg["revisit_schedule_docs"] = revisit_schedule_docs, f"""
WITH {_CHURN_CTE},
g AS (
  SELECT host,
         CAST(sum(CASE WHEN status = 'modified' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN status IN ('modified', 'unchanged')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n
  FROM j GROUP BY host),
lam AS (
  SELECT host, n AS n_pages,
         -ln((CAST(n AS DOUBLE) - CAST(x AS DOUBLE) + 0.5)
             / (CAST(n AS DOUBLE) + 0.5)) / 604800.0 AS l
  FROM g WHERE n > 0)
SELECT host, n_pages,
       CAST(floor(l * 1000000) AS BIGINT) AS lambda_micro,
       CAST(floor(greatest(least(
         CASE WHEN l > 0 THEN 1.0 / l ELSE 2592000.0 END,
         2592000.0), 3600.0)) AS BIGINT) AS revisit_s
FROM lam
"""

    def script_mix_docs(spark, sf):
        """Unicode script profile (textstats.script_mix): per doc_id
        class a Cyrillic / CJK / Greek suffix is injected (class 0
        mixes Latin WITH Cyrillic — the homograph-spoofing shape);
        counts per script family, dominant script by fixed-order
        strict-max, and the latin_cyrillic_mix flag.  Oracle: the
        identical ranges (imported from the operator) via
        regexp_extract_all + the same CASE cascade."""
        from ferenda_spark.operators.textstats import script_mix
        did = F.col("doc_id")
        t = F.concat(
            F.col("text"),
            F.when(did % 4 == 0, " раураl сайт")
            .when(did % 4 == 1, " 漢字テスト文書")
            .when(did % 4 == 2, " ελληνικά γράμματα")
            .otherwise(""))
        docs = _docs(spark, sf).select("doc_id", t.alias("text"))
        return script_mix(docs)

    # script-mix counts with the operator's OWN ranges (imported, so
    # both engines run the literally identical character classes) and
    # the same fixed-order strict-max dominant cascade
    from ferenda_spark.operators.textstats import SCRIPT_RANGES
    _scr_counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '[{rng}]')) AS BIGINT)"
        f" AS n_{name}" for name, rng in SCRIPT_RANGES)
    _dom = "'none'"
    _best = "CAST(0 AS BIGINT)"
    for _name, _ in SCRIPT_RANGES:
        _dom = (f"CASE WHEN n_{_name} > {_best} THEN '{_name}' "
                f"ELSE {_dom} END")
        _best = (f"CASE WHEN n_{_name} > {_best} THEN n_{_name} "
                 f"ELSE {_best} END")
    reg["script_mix_docs"] = script_mix_docs, f"""
WITH t AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 4 = 0 THEN ' раураl сайт'
           WHEN doc_id % 4 = 1 THEN ' 漢字テスト文書'
           WHEN doc_id % 4 = 2 THEN ' ελληνικά γράμματα'
           ELSE '' END AS text
  FROM documents),
c AS (
  SELECT doc_id,
       {_scr_counts}
  FROM t)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
       n_hangul,
       {_dom} AS dominant_script,
       n_latin > 0 AND n_cyrillic > 0 AS latin_cyrillic_mix
FROM c
"""

    def sim_pq_topk(spark, sf):
        """Product-quantization ANN (similarity.pq_topk, the Jégou
        ADC construction): 64-dim embeddings → 8 sub-space codes
        (codebooks = sub-slices of the 16 lowest-id vectors, the IVF
        seed convention), queries scored via per-query distance
        tables over the codes only — the compressed-domain search
        that turns 10^12×64 floats into 8-byte codes.  Exact int64
        milli-quantized metric throughout, so the oracle replays
        every code assignment, table cell and rank."""
        from ferenda_spark.operators.similarity import pq_topk
        embs = load_table(spark, sf, "embeddings")
        queries = (embs.filter(F.col("vec_id") < 10)
                   .select(F.col("vec_id").alias("query_id"),
                           "embedding"))
        return _longify(pq_topk(embs, queries, dim=64))
    # PQ/ADC replayed exactly: milli-floored components, per-subspace
    # argmin codes (ties -> lower code), per-query distance tables,
    # summed lookup, rank by (adist, item)
    reg["sim_pq_topk"] = sim_pq_topk, """
WITH it AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                                  AS BIGINT)) AS q
  FROM embeddings),
cent AS (
  SELECT q AS cv,
         row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM it WHERE vec_id IN (
    SELECT vec_id FROM it ORDER BY vec_id LIMIT 16)),
subdist AS (
  SELECT i.vec_id AS item_id, g.s, c.code,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           [(i.q[g.s * 8 + x] - c.cv[g.s * 8 + x])
            * (i.q[g.s * 8 + x] - c.cv[g.s * 8 + x])
            for x in generate_series(1, 8)]), (a, b) -> a + b) AS dd
  FROM it i
  CROSS JOIN cent c
  CROSS JOIN (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS s) g),
codes AS (
  SELECT item_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY item_id, s
                                 ORDER BY dd, code) AS rn
    FROM subdist) WHERE rn = 1),
qtab AS (SELECT item_id AS query_id, s, code, dd AS dv
         FROM subdist WHERE item_id < 10),
scored AS (
  SELECT q.query_id, c.item_id, CAST(sum(q.dv) AS BIGINT) AS adist
  FROM codes c JOIN qtab q ON q.s = c.s AND q.code = c.code
  WHERE c.item_id <> q.query_id
  GROUP BY 1, 2)
SELECT query_id, item_id, adist, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, item_id) AS rank
  FROM scored) WHERE rank <= 5
"""

    def graph_random_walks(spark, sf):
        """Graph-embedding walk corpus (rank.py random_walks): one
        deterministic 3-step walk per node over the halving graph
        n(did) -> n(did div 2) / n(did div 3) (did > 0; n0 is the
        sink).  The oracle re-derives every hop: argmin of the
        salted-md5 variate h('walk-v1':walk_id:t:v) over the
        neighbors, the exact skip-gram input a re-run or another
        engine must reproduce."""
        from ferenda_spark.operators.rank import random_walks
        did = F.col("doc_id")
        docs = _docs(spark, sf).filter(did > 0)
        n = lambda c: F.concat(F.lit("n"), c.cast("string"))
        adj = (docs.select(n(did).alias("src"),
                           n(F.expr("doc_id div 2")).alias("dst"))
               .unionByName(
                   docs.select(n(did).alias("src"),
                               n(F.expr("doc_id div 3")).alias("dst"))))
        return _longify(random_walks(adj))


    # every hop re-derived: argmin over out-neighbors of the salted
    # md5 variate, total order (h, v) restated as min over
    # lpad(h,19,'0') || v (h < 2^60 < 10^19, so zero-padded string
    # order equals numeric order; the suffix is the struct tiebreak)
    _WALK_PICK = ("min(lpad(CAST(CAST(concat('0x', substr(md5("
                  "'walk-v1:' || {w} || ':{t}:' || a.dst), 1, 15)) "
                  "AS BIGINT) AS VARCHAR), 19, '0') || a.dst)")
    reg["graph_random_walks"] = graph_random_walks, f"""
WITH adj AS (
  SELECT 'n' || CAST(doc_id AS VARCHAR) AS src,
         'n' || CAST(doc_id // 2 AS VARCHAR) AS dst
  FROM documents WHERE doc_id > 0
  UNION
  SELECT 'n' || CAST(doc_id AS VARCHAR),
         'n' || CAST(doc_id // 3 AS VARCHAR)
  FROM documents WHERE doc_id > 0),
nodes AS (SELECT src AS node FROM adj UNION SELECT dst FROM adj),
s0 AS (SELECT node || '#0' AS walk_id, node FROM nodes),
s1 AS (
  SELECT s0.walk_id,
         substr({_WALK_PICK.format(w="s0.walk_id", t=1)}, 20) AS node
  FROM s0 JOIN adj a ON s0.node = a.src GROUP BY s0.walk_id),
s2 AS (
  SELECT s1.walk_id,
         substr({_WALK_PICK.format(w="s1.walk_id", t=2)}, 20) AS node
  FROM s1 JOIN adj a ON s1.node = a.src GROUP BY s1.walk_id),
s3 AS (
  SELECT s2.walk_id,
         substr({_WALK_PICK.format(w="s2.walk_id", t=3)}, 20) AS node
  FROM s2 JOIN adj a ON s2.node = a.src GROUP BY s2.walk_id)
SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM s0
UNION ALL SELECT walk_id, 1, node FROM s1
UNION ALL SELECT walk_id, 2, node FROM s2
UNION ALL SELECT walk_id, 3, node FROM s3
"""

    def curation_pipeline_docs(spark, sf):
        """The round-3 curation toolkit composed end-to-end, the way
        a mixing job actually runs it: strip corpus-frequency
        boilerplate → redact PII → drop exact duplicates of the
        cleaned text (min-id keeper) → deterministic per-language
        mixture sample. Every stage is an existing gated operator;
        the oracle recomposes the identical chain in SQL."""
        from ferenda_spark.operators import sampling
        d = _docs(spark, sf).select("doc_id", "lang", "text")
        did = F.col("doc_id")
        inj = d.select("doc_id", "lang", F.concat(
            F.col("text"),
            F.when(did % 2 == 0,
                   F.lit(". Subscribe to our newsletter today")
                   ).otherwise(F.lit("")),
            F.when(did % 7 == 0,
                   F.concat(F.lit(". contact user"), did.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
        ).alias("text"))
        stripped = dedup.strip_boilerplate(inj).select(
            F.col("id").alias("doc_id"), F.col("clean_text"))
        redacted = textstats.redact_pii(
            stripped, text_col="clean_text").select(
            "doc_id", F.col("clean_text").alias("final_text"))
        keepers = dedup.exact_dedup(
            redacted, text_col="final_text", id_col="doc_id").select(
            F.col("keeper_id").alias("doc_id"), "text_md5")
        sampled = sampling.stratified_sample(
            keepers.join(d.select("doc_id", "lang"), "doc_id"),
            {"en": 0.8}, default_rate=0.5)
        return _longify(sampled.select("doc_id", "lang", "text_md5"))
    reg["curation_pipeline_docs"] = curation_pipeline_docs, f"""
WITH inj AS (
  SELECT doc_id, lang, text ||
    CASE WHEN doc_id % 2 = 0
         THEN '. Subscribe to our newsletter today' ELSE '' END ||
    CASE WHEN doc_id % 7 = 0 THEN '. contact user' ||
         CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END AS text
  FROM documents),
u AS (SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             unnest(parts) AS unit
      FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM inj)),
hot AS (SELECT lower(trim(unit)) AS nunit FROM u GROUP BY 1
        HAVING count(DISTINCT doc_id) > 10),
kept AS (SELECT * FROM u
         WHERE lower(trim(unit)) NOT IN (SELECT nunit FROM hot)),
agg AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id),
cleaned AS (
  SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text
  FROM (SELECT DISTINCT doc_id FROM u) t
  LEFT JOIN agg a ON a.doc_id = t.doc_id),
red AS (
  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(clean_text,
      '{_pii_e}', '<EMAIL>', 'g'),
      '{_pii_i}', '<IPV4>', 'g'),
      '{_pii_n}', '<LONGNUM>', 'g') AS final_text
  FROM cleaned),
keepers AS (SELECT md5(final_text) AS text_md5, min(doc_id) AS doc_id
            FROM red GROUP BY 1)
SELECT k.doc_id, d.lang, k.text_md5
FROM keepers k JOIN documents d ON d.doc_id = k.doc_id
WHERE CAST(concat('0x', substr(md5('mix-v1:' ||
        CAST(k.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
  < CASE d.lang WHEN 'en' THEN {rate_threshold(0.8)}
                ELSE {rate_threshold(0.5)} END
"""

    def curation_pipeline_v3(spark, sf):
        """The round-3-late toolkit composed end-to-end: URL/domain
        blocklist filter → hashed-feature quality classifier →
        keep-first duplicate-unit removal → exact-dedup keeper. Every
        stage is an existing driver-gated operator; the oracle
        recomposes the identical chain in SQL."""
        from ferenda_spark.operators.classify import quality_score
        from ferenda_spark.operators.webfilter import domain_filter
        d = _docs(spark, sf).select("doc_id", "lang", "text")
        did = F.col("doc_id")
        tld = (F.when(did % 3 == 0, "com")
               .when(did % 3 == 1, "org").otherwise("co.uk"))
        withurl = d.withColumn("url", F.concat(
            F.lit("https://"),
            F.when(did % 5 == 0, "sub.").otherwise(""),
            F.lit("site"), (did % 20).cast("string"), F.lit("."), tld,
            F.lit("/p/"), did.cast("string")))
        vetted = domain_filter(
            withurl, blocklist=[f"site{k}.co.uk" for k in range(20)])
        quality = quality_score(vetted).filter(F.col("keep")) \
            .select(F.col("id").alias("doc_id"))
        good = vetted.join(quality, "doc_id", "left_semi")
        uniq = dedup.dedup_units_keepfirst(good).select(
            F.col("id").alias("doc_id"), "clean_text")
        keepers = dedup.exact_dedup(
            uniq, text_col="clean_text", id_col="doc_id").select(
            F.col("keeper_id").alias("doc_id"), "text_md5")
        return _longify(
            keepers.join(d.select("doc_id", "lang"), "doc_id")
            .select("doc_id", "lang", "text_md5"))
    # v3 chain: the domain blocklist kills doc_id % 3 == 2 (the co.uk
    # third), the classifier keeps mean-weight ≥ 0 docs, keep-first
    # unit dedup runs on the survivors, exact keeper per clean text
    reg["curation_pipeline_v3"] = curation_pipeline_v3, """
WITH vetted AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 != 2),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x != '') AS toks
  FROM vetted),
good AS (
  SELECT v.doc_id, v.text FROM vetted v JOIN tk ON tk.doc_id = v.doc_id
  WHERE coalesce(list_aggregate(list_transform(tk.toks,
        t -> CAST(concat('0x', substr(md5('qw-v1:' || t), 1, 15))
                  AS BIGINT) % 2001 - 1000), 'sum'), 0) * 1000 >= 0),
u AS (SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             unnest(parts) AS unit
      FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM good)),
kept AS (SELECT doc_id, pos, unit FROM u
         QUALIFY row_number() OVER (PARTITION BY lower(trim(unit))
                                    ORDER BY doc_id, pos) = 1),
agg AS (SELECT doc_id, string_agg(unit, '. ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id),
cleaned AS (
  SELECT g.doc_id, coalesce(a.clean_text, '') AS clean_text
  FROM good g LEFT JOIN agg a ON a.doc_id = g.doc_id),
keepers AS (SELECT md5(clean_text) AS text_md5, min(doc_id) AS doc_id
            FROM cleaned GROUP BY 1)
SELECT k.doc_id, d.lang, k.text_md5
FROM keepers k JOIN documents d ON d.doc_id = k.doc_id
"""

    def toc_documents(spark, sf):
        d = _docs(spark, sf)
        toc = analytics.toc_pages(d.select("lang", "source"),
                                  "lang", "source")
        return _longify(toc.select(
            "lang", F.array_join("titles", ",").alias("titles_csv"), "n"))
    reg["toc_documents"] = toc_documents, """
SELECT lang, string_agg(source, ',' ORDER BY source) AS titles_csv,
       count(*) AS n
FROM documents GROUP BY lang
"""

    def mint_documents(spark, sf):
        from ferenda_spark.functions.minting import UriTemplate, mint
        d = _docs(spark, sf).select(
            "doc_id", "source",
            F.when(F.col("doc_id") % 2 == 0,
                   F.col("doc_id")).alias("even_id"))
        templates = [
            UriTemplate(priority=1, uri_template="res/even/{even_id}",
                        bindings=["even_id"]),
            UriTemplate(priority=2, uri_template="res/src/{source}",
                        bindings=["source"], slug=["source"]),
        ]
        return mint(d, templates, BASE).select("doc_id", "uri")
    reg["mint_documents"] = mint_documents, """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0
            THEN 'https://example.org/res/even/' || CAST(doc_id AS VARCHAR)
            ELSE 'https://example.org/res/src/' ||
                 regexp_replace(replace(lower(source), ' ', '-'),
                                '[^a-z0-9/#_-]', '', 'g')
       END AS uri
FROM documents
"""

    def patch_documents(spark, sf):
        """G10: per-document unified-diff patches (reference
        patch_if_needed) — applied patch upcases line 2; a bogus-
        context patch must flag 'conflict' and keep the text."""
        from ferenda_spark.operators import patch as patch_op
        d = _docs(spark, sf)
        words = F.split(F.col("text"), " ")
        l1 = F.array_join(F.slice(words, 1, 10), " ")
        l2 = F.array_join(F.slice(words, 11, 10), " ")
        l3 = F.array_join(F.slice(words, 21, 1000000), " ")
        base = d.select("doc_id",
                        F.concat_ws("\n", l1, l2, l3).alias("text"),
                        l1.alias("_l1"), l2.alias("_l2"), l3.alias("_l3"))
        good = base.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("@@ -1,3 +1,3 @@ normalize line2"),
                F.concat(F.lit(" "), F.col("_l1")),
                F.concat(F.lit("-"), F.col("_l2")),
                F.concat(F.lit("+"), F.upper(F.col("_l2"))),
                F.concat(F.lit(" "), F.col("_l3"))).alias("patch"))
        bad = base.filter(F.col("doc_id") % 5 == 3).select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("@@ -1,2 +1,2 @@ bogus"),
                F.lit(" THIS CONTEXT DOES NOT EXIST"),
                F.lit("-NOR THIS"),
                F.lit("+REPLACEMENT")).alias("patch"))
        out = patch_op.apply_patches(base.select("doc_id", "text"),
                                     good.unionByName(bad))
        return out.select("doc_id", "patched_text",
                          "patch_status", "patch_desc")
    reg["patch_documents"] = patch_documents, """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
l AS (SELECT doc_id,
        coalesce(array_to_string(ws[1:10], ' '), '') AS l1,
        coalesce(array_to_string(ws[11:20], ' '), '') AS l2,
        coalesce(array_to_string(ws[21:], ' '), '') AS l3
      FROM w)
SELECT doc_id,
  CASE WHEN doc_id % 5 = 0
       THEN l1 || chr(10) || upper(l2) || chr(10) || l3
       ELSE l1 || chr(10) || l2 || chr(10) || l3 END AS patched_text,
  CASE WHEN doc_id % 5 = 0 THEN 'applied'
       WHEN doc_id % 5 = 3 THEN 'conflict' END AS patch_status,
  CASE WHEN doc_id % 5 = 0 THEN 'normalize line2'
       WHEN doc_id % 5 = 3 THEN 'bogus' END AS patch_desc
FROM l
"""

    def sim_topk_cosine(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return _longify(similarity.cosine_topk(emb, qs))
    reg["sim_topk_cosine"] = sim_topk_cosine, f"""
WITH it AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
qs AS (SELECT vec_id AS query_id, v AS qv FROM it WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id AS item_id, {_cos_sql('v', 'qv')} AS cos_sim
  FROM it, qs WHERE vec_id <> query_id)
SELECT query_id, item_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, item_id) AS rank
  FROM scored) WHERE rank <= 5
"""

    def sim_lsh_topk(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return _longify(similarity.lsh_topk(emb, qs, dim=64))
    reg["sim_lsh_topk"] = sim_lsh_topk, f"""
WITH it AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
itb AS ({_banded_cte('it', 'vec_id')}),
qs AS (SELECT id AS query_id, v AS qv, band, bucket
       FROM itb WHERE id < 10),
scored AS (
  SELECT DISTINCT query_id, i.id AS item_id,
         {_cos_sql('i.v', 'qv')} AS cos_sim
  FROM itb i JOIN qs ON i.band = qs.band AND i.bucket = qs.bucket
  WHERE i.id <> qs.query_id)
SELECT query_id, item_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, item_id) AS rank
  FROM scored) WHERE rank <= 5
"""

    def sim_ivf_topk(spark, sf):
        """IVF-list ANN: 8 seed-sampled centroid lists, nprobe=2."""
        emb = load_table(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return _longify(similarity.ivf_topk(
            emb, qs, dim=64))

    # IVF: centroids = 8 lowest-id vectors; exact int64 L2 on
    # milli-quantized components, ties -> lower cid (mirrors the
    # stable argsort in similarity.ivf_assign_udf)
    _ivf_d = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
              "[(CAST(floor(i.v[x+1]*1000) AS BIGINT)"
              " - CAST(floor(c.cv[x+1]*1000) AS BIGINT))"
              " * (CAST(floor(i.v[x+1]*1000) AS BIGINT)"
              " - CAST(floor(c.cv[x+1]*1000) AS BIGINT)) "
              "for x in generate_series(0, 63)]), (a, b) -> a + b)")
    reg["sim_ivf_topk"] = sim_ivf_topk, f"""
WITH it AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM it WHERE vec_id < 8),
dist AS (SELECT i.vec_id, i.v, c.cid, {_ivf_d} AS d
         FROM it i CROSS JOIN cent c),
ranked AS (SELECT vec_id, v, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
           FROM dist),
il AS (SELECT vec_id AS item_id, v AS iv, cid AS list_id
       FROM ranked WHERE rn = 1),
ql AS (SELECT vec_id AS query_id, v AS qv, cid AS list_id
       FROM ranked WHERE rn <= 2 AND vec_id < 10),
scored AS (
  SELECT query_id, item_id, {_cos_sql('iv', 'qv')} AS cos_sim
  FROM il JOIN ql USING (list_id)
  WHERE item_id <> query_id)
SELECT query_id, item_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, item_id) AS rank
  FROM scored) WHERE rank <= 5
"""

    def sim_label_centroids(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        return _longify(similarity.label_centroids(emb, dim=64))
    reg["sim_label_centroids"] = sim_label_centroids, """
SELECT CAST(label AS BIGINT) AS label, g.i AS dim_idx,
       round(avg(embedding[g.i + 1]), 6) AS centroid_component,
       count(*) AS n_vectors
FROM embeddings,
     (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS i) g
GROUP BY label, g.i
"""

    def sim_embedding_neardup(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        return _longify(similarity.embedding_near_dup_pairs(
            emb, dim=64, threshold=0.4))
    reg["sim_embedding_neardup"] = sim_embedding_neardup, f"""
WITH it AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
itb AS ({_banded_cte('it', 'vec_id')}),
{_LSH_PAIRS_CTE}
SELECT DISTINCT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
"""

    def sim_semantic_dedup(spark, sf):
        """SemDeDup: one survivor per connected component of the
        cos ≥ 0.4 near-dup pair graph (banded-LSH blocked)."""
        emb = load_table(spark, sf, "embeddings")
        return _longify(similarity.semantic_dedup(
            emb, dim=64))
    reg["sim_semantic_dedup"] = sim_semantic_dedup, _semdedup_sql(
        "true", _banded_cte("it", "vec_id"))

    def sim_semantic_dedup_auto(spark, sf):
        """SemDeDup under corpus-auto-sized LSH (round 5): the same
        epsilon-grouping, with planes_per_band="auto" deriving
        (bands, planes) from one corpus count via lsh_params_for.
        The corpus is PINNED to vec_id < 200 so the derived grid —
        (22 bands, 5 planes) at threshold 0.4 — is a static shape
        the oracle restates exactly; bigger corpora exercise the
        sizing in BENCH.md's sf1 probe, exactness lives here."""
        emb = (load_table(spark, sf, "embeddings")
               .filter(F.col("vec_id") < 200))
        return _longify(similarity.semantic_dedup(
            emb, dim=64, planes_per_band="auto"))

    # the same SemDeDup chain over the pinned corpus, at the derived
    # (22 bands, 5 planes) grid
    reg["sim_semantic_dedup_auto"] = sim_semantic_dedup_auto, _semdedup_sql(
        "vec_id < 200", " UNION ALL ".join(
            f"SELECT vec_id AS id, v, {b} AS band, "
            f"{_band_bucket_sql('v', b, 5)} AS bucket FROM it"
            for b in range(22)))

    def text_metrics(spark, sf):
        """A7 + curation feature vector: token stats, quality,
        language ID, fingerprints, and Gopher-style repetition
        signals in ONE row-local projection (one scan, zero
        shuffles) — the per-document feature row a training-data
        curation job computes."""
        return _longify(textstats.text_metrics(_docs(spark, sf)))

    sub_re = r"([0-9]+|[^\sA-Za-z0-9]+)"
    sub_repl = r" \1 "
    sub_expr = f"regexp_replace(text, '{sub_re}', '{sub_repl}', 'g')"
    sw_words = _WORDS.format(c=sub_expr)

    reg["text_metrics"] = text_metrics, f"""
WITH t AS (SELECT doc_id, text, {words_c} AS w,
           {sw_words} AS sw
           FROM documents),
ts AS (SELECT doc_id,
       len(w) AS n_tokens,
       len(sw) AS n_subtokens,
       length(text) AS n_chars_measured,
       len(list_distinct(w)) AS n_distinct_tokens,
       round(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(w, x -> CAST(length(x) AS BIGINT))),
                 (a, b) -> a + b)
             / greatest(len(w), 1), 4) AS mean_token_len
       FROM t),
{_quality_ctes('documents')},
qsel AS (SELECT doc_id,
       round(n_stop / greatest(n, 1), 4) AS stopword_ratio,
       round(n_dist / greatest(n, 1), 4) AS lexical_diversity,
       {_QUALITY_EXPR} AS quality
       FROM m),
{_langid_ctes('documents')},
lsel AS (SELECT doc_id, {pred_case} AS pred_lang,
         {hits_case} AS marker_hits FROM k),
fpt AS (SELECT doc_id, text,
  list_transform({words_c},
      x -> CAST(ascii(substr(x, 1, 1)) * 100 + length(x) AS BIGINT)) AS vals
  FROM documents),
fp AS (SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
                   (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp,
       md5(text) AS text_md5
       FROM fpt),
rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
uni AS (SELECT doc_id, tk, count(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS tk FROM rw) GROUP BY 1, 2),
unis AS (SELECT doc_id, max(c) AS mc, sum(c) AS n, count(*) AS nd
         FROM uni GROUP BY 1),
bg AS (SELECT doc_id,
              [ws[i] || ' ' || ws[i+1]
               for i in generate_series(1, len(ws) - 1)] AS bgs
       FROM rw),
bgc AS (SELECT doc_id, b, count(*) AS c
        FROM (SELECT doc_id, unnest(bgs) AS b FROM bg) GROUP BY 1, 2),
bgt AS (SELECT doc_id, max(c) AS mbc, sum(c) AS nb FROM bgc GROUP BY 1),
rep AS (SELECT u.doc_id,
        round(u.mc / u.n, 6) AS top_unigram_frac,
        coalesce(round(b.mbc / b.nb, 6), 0.0) AS top_bigram_frac,
        round(u.nd / u.n, 6) AS distinct_frac
        FROM unis u LEFT JOIN bgt b USING (doc_id))
SELECT ts.doc_id, n_tokens, n_subtokens, n_chars_measured,
       n_distinct_tokens, mean_token_len, stopword_ratio,
       lexical_diversity, quality, pred_lang, marker_hits,
       rolling_fp, text_md5, top_unigram_frac, top_bigram_frac,
       distinct_frac
FROM ts
JOIN qsel USING (doc_id) JOIN lsel USING (doc_id)
JOIN fp USING (doc_id) JOIN rep USING (doc_id)
"""

    def gopher_rules_docs(spark, sf):
        """The Gopher rule-based quality filter (word-count band,
        mean word length, symbol/bullet/ellipsis ratios, alphabetic
        fraction, required stopwords) — one codegen projection, zero
        shuffles; every band replayed verbatim in the oracle."""
        return _longify(textstats.gopher_rules(_docs(spark, sf)))

    _lw_words = _WORDS.format(c="lower(text)")
    reg["gopher_rules_docs"] = gopher_rules_docs, f"""
WITH t AS (SELECT doc_id AS id, text, {words_c} AS w, {_lw_words} AS lw,
           list_filter(string_split(text, chr(10)),
                       l -> trim(l) <> '') AS ln
           FROM documents),
m AS (SELECT id,
  CAST(len(w) AS BIGINT) AS n_words,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(w, x -> CAST(length(x) AS BIGINT))),
      (a, b) -> a + b) / greatest(len(w), 1) AS mean_len,
  (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '…'))
   + len(regexp_extract_all(text, '\\.\\.\\.')))
  / greatest(len(w), 1) AS sym_ratio,
  len(list_filter(ln, l -> substring(ltrim(l), 1, 1) = '•'
      OR substring(ltrim(l), 1, 1) = '-'
      OR substring(ltrim(l), 1, 1) = '*'))
  / greatest(len(ln), 1) AS bullet_frac,
  len(list_filter(ln, l -> ends_with(rtrim(l), '…')
      OR ends_with(rtrim(l), '...')))
  / greatest(len(ln), 1) AS ellipsis_frac,
  len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
  / greatest(len(w), 1) AS alpha_frac,
  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                       s -> list_contains(lw, s))) AS BIGINT) AS n_req_stop
  FROM t)
SELECT id, n_words,
  round(mean_len, 4) AS mean_word_len,
  round(sym_ratio, 4) AS symbol_word_ratio,
  round(bullet_frac, 4) AS bullet_line_frac,
  round(ellipsis_frac, 4) AS ellipsis_line_frac,
  round(alpha_frac, 4) AS alpha_word_frac,
  n_req_stop AS n_req_stopwords,
  n_words >= 50 AND n_words <= 100000 AS rule_n_words,
  mean_len >= 3.0 AND mean_len <= 10.0 AS rule_mean_len,
  sym_ratio <= 0.1 AS rule_symbols,
  bullet_frac <= 0.9 AS rule_bullets,
  ellipsis_frac <= 0.3 AS rule_ellipsis,
  alpha_frac >= 0.8 AS rule_alpha,
  n_req_stop >= 2 AS rule_stopwords,
  (n_words >= 50 AND n_words <= 100000)
    AND (mean_len >= 3.0 AND mean_len <= 10.0)
    AND sym_ratio <= 0.1 AND bullet_frac <= 0.9
    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
    AND n_req_stop >= 2 AS keep
FROM m
"""

    def profile_documents(spark, sf):
        """Deequ-style per-column profile of the ingest table in one
        aggregation pass: row/null/distinct counts, completeness,
        min/max per column."""
        from ferenda_spark.operators import profile as prof
        return prof.profile(
            _docs(spark, sf),
            ["doc_id", "text", "lang", "source", "n_chars"])
    reg["profile_documents"] = profile_documents, _prof_union

    def quantiles_documents(spark, sf):
        """Exact interpolated percentiles (percentile_cont semantics)
        per numeric column, one aggregation pass."""
        from ferenda_spark.operators import profile as prof
        return prof.numeric_quantiles(
            _docs(spark, sf))
    reg["quantiles_documents"] = quantiles_documents, "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS "column", CAST({p} AS DOUBLE) AS p,
round(quantile_cont(CAST({c} AS DOUBLE), {p}), 6) AS value
FROM documents"""
        for c in ("doc_id", "n_chars") for p in (0.25, 0.5, 0.95))

    def check_documents(spark, sf):
        """Declarative constraint checks over one profile pass:
        uniqueness of the id, completeness of every column, value
        bounds, language diversity — pass/fail per constraint, never
        a throw."""
        from ferenda_spark.operators import profile as prof
        return prof.check(_docs(spark, sf), DOC_CHECKS)
    reg["check_documents"] = check_documents, f"""
WITH p AS ({_prof_union}),
c AS (SELECT check_id, "column", kind,
             CAST(threshold AS DOUBLE) AS threshold
      FROM (VALUES {_checks_rows})
      AS c(check_id, "column", kind, threshold))
SELECT c.check_id, c."column", c.kind, c.threshold,
  round(CASE c.kind
    WHEN 'complete' THEN p.completeness
    WHEN 'unique' THEN CAST(p.n_distinct AS DOUBLE)
    WHEN 'distinct_at_least' THEN CAST(p.n_distinct AS DOUBLE)
    WHEN 'min_at_least' THEN TRY_CAST(p.min_value AS DOUBLE)
    WHEN 'max_at_most' THEN TRY_CAST(p.max_value AS DOUBLE)
  END, 6) AS actual,
  coalesce(CASE c.kind
    WHEN 'complete' THEN p.completeness >= c.threshold
    WHEN 'unique' THEN p.n_distinct = (p.n_rows - p.n_null)
                       AND p.n_null = 0
    WHEN 'distinct_at_least' THEN p.n_distinct >= c.threshold
    WHEN 'min_at_least' THEN TRY_CAST(p.min_value AS DOUBLE)
                             >= c.threshold
    WHEN 'max_at_most' THEN TRY_CAST(p.max_value AS DOUBLE)
                            <= c.threshold
  END, FALSE) AS passed
FROM c JOIN p ON p."column" = c."column"
"""

    def _boxes(spark, sf):
        """Deterministic synthetic PDF-textbox table (the decode step
        is a declared codec stub — operators/boxes.py docstring);
        mirrored by _BOXES_SQL in the oracles."""
        d = _docs(spark, sf).select("doc_id")
        b = d.select("doc_id", F.explode(
            F.sequence(F.lit(0), F.lit(19))).alias("i"))
        i = F.col("i")
        left = (F.when(i % 5 == 4, 320 + i)
                .when(i % 7 == 0, 60 + i)
                .otherwise(F.lit(100)))
        top = F.when(i == 0, F.lit(10)).otherwise(80 + (i * 37) % 600)
        size = (F.when(i % 10 == 1, 16)
                .when((i % 10 == 2) & (F.col("doc_id") % 2 == 0), 12)
                .when(i % 15 == 3, 5)
                .otherwise(F.lit(10)))
        fam = (F.when(i % 10 == 1, F.lit("Serif-Bold"))
               .when((i % 10 == 2) & (F.col("doc_id") % 2 == 0),
                     F.lit("Serif-Italic"))
               .otherwise(F.lit("Serif")))
        return b.select(
            "doc_id", (i % 4).alias("page_no"),
            F.lit(600).alias("page_width"),
            F.lit(800).alias("page_height"),
            left.alias("left"), (left + 380).alias("right"),
            top.alias("top"), (top + 12).alias("bottom"),
            fam.alias("font_family"), size.alias("font_size"),
            F.when(i == 0, 2).otherwise(40 + (i * 13) % 40)
            .alias("n_chars"))

    def pdf_margin_metrics(spark, sf):
        """A9: char-weighted margin modes + significance-threshold
        header/footer zones over the textbox table."""
        from ferenda_spark.operators import boxes as boxes_op
        return _longify(boxes_op.margin_metrics(_boxes(spark, sf)))

    _BOXES_SQL = """
b AS (
  SELECT doc_id, i,
         CASE WHEN i % 5 = 4 THEN 320 + i
              WHEN i % 7 = 0 THEN 60 + i
              ELSE 100 END AS lft,
         CASE WHEN i % 5 = 4 THEN 320 + i
              WHEN i % 7 = 0 THEN 60 + i
              ELSE 100 END + 380 AS rgt,
         CASE WHEN i = 0 THEN 10 ELSE 80 + (i * 37) % 600 END AS tp,
         CASE WHEN i = 0 THEN 10 ELSE 80 + (i * 37) % 600 END + 12 AS bt,
         CASE WHEN i % 10 = 1 THEN 'Serif-Bold'
              WHEN i % 10 = 2 AND doc_id % 2 = 0 THEN 'Serif-Italic'
              ELSE 'Serif' END AS fam,
         CASE WHEN i % 10 = 1 THEN 16
              WHEN i % 10 = 2 AND doc_id % 2 = 0 THEN 12
              WHEN i % 15 = 3 THEN 5
              ELSE 10 END AS sz,
         CASE WHEN i = 0 THEN 2 ELSE 40 + (i * 13) % 40 END AS nc
  FROM (SELECT doc_id, unnest(generate_series(0, 19)) AS i
        FROM documents))
"""

    reg["pdf_margin_metrics"] = pdf_margin_metrics, f"""
WITH {_BOXES_SQL},
lm AS (SELECT doc_id, lft AS leftmargin FROM (
  SELECT doc_id, lft,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sum(nc) DESC, lft ASC) AS rn
  FROM b WHERE lft < 300 GROUP BY doc_id, lft) WHERE rn = 1),
rm AS (SELECT doc_id, rgt AS rightmargin FROM (
  SELECT doc_id, rgt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sum(nc) DESC, rgt DESC) AS rn
  FROM b WHERE rgt > 300 GROUP BY doc_id, rgt) WHERE rn = 1),
tz AS (SELECT doc_id, min(tp) - 1 AS topmargin FROM (
  SELECT doc_id, tp,
         sum(sum(nc)) OVER (PARTITION BY doc_id ORDER BY tp ASC) AS cum,
         0.002 * sum(sum(nc)) OVER (PARTITION BY doc_id) AS thr
  FROM b GROUP BY doc_id, tp) WHERE cum > thr GROUP BY doc_id),
bz AS (SELECT doc_id, max(bt) + 1 AS bottommargin FROM (
  SELECT doc_id, bt,
         sum(sum(nc)) OVER (PARTITION BY doc_id ORDER BY bt DESC) AS cum,
         0.002 * sum(sum(nc)) OVER (PARTITION BY doc_id) AS thr
  FROM b GROUP BY doc_id, bt) WHERE cum > thr GROUP BY doc_id)
SELECT d.doc_id,
       CAST(leftmargin AS BIGINT) AS leftmargin,
       CAST(rightmargin AS BIGINT) AS rightmargin,
       CAST(topmargin AS BIGINT) AS topmargin,
       CAST(bottommargin AS BIGINT) AS bottommargin,
       CAST(600 AS BIGINT) AS pagewidth,
       CAST(800 AS BIGINT) AS pageheight
FROM (SELECT DISTINCT doc_id FROM b) d
LEFT JOIN lm USING (doc_id) LEFT JOIN rm USING (doc_id)
LEFT JOIN tz USING (doc_id) LEFT JOIN bz USING (doc_id)
"""

    def pdf_style_metrics(spark, sf):
        """A8: style hierarchy (default/h1..h3/footnoteref) by
        char-weighted font usage."""
        from ferenda_spark.operators import boxes as boxes_op
        return _longify(boxes_op.style_metrics(_boxes(spark, sf)))
    reg["pdf_style_metrics"] = pdf_style_metrics, f"""
WITH {_BOXES_SQL},
st AS (SELECT doc_id, fam, sz, sum(nc) AS w,
              CASE WHEN fam LIKE '%Bold%' THEN 2
                   WHEN fam LIKE '%Italic%' THEN 1
                   ELSE 0 END AS wt
       FROM b GROUP BY 1, 2, 3),
tot AS (SELECT doc_id, sum(w) AS tot FROM st GROUP BY 1),
dflt AS (SELECT doc_id, fam, sz, wt FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY w DESC, sz ASC, fam ASC) AS rn
  FROM st) WHERE rn = 1),
j AS (SELECT s.doc_id, s.fam, s.sz, s.w, s.wt,
             d.fam AS dfam, d.sz AS dsz, d.wt AS dwt, t.tot
      FROM st s JOIN dflt d USING (doc_id) JOIN tot t USING (doc_id)),
heads AS (SELECT doc_id, 'h' || rn AS level, fam, sz FROM (
  SELECT doc_id, fam, sz,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sz DESC, wt DESC, w DESC, fam ASC)
             AS rn
  FROM j WHERE w > 0.005 * tot
          AND (sz > dsz OR (sz = dsz AND wt > dwt))) WHERE rn <= 3),
fn AS (SELECT doc_id, 'footnoteref' AS level, fam, sz FROM (
  SELECT doc_id, fam, sz,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sz ASC, wt ASC, fam ASC) AS rn
  FROM j WHERE w > 0.005 * tot AND fam = dfam AND sz <= dsz / 2)
  WHERE rn = 1)
SELECT doc_id, level, font_family, CAST(font_size AS BIGINT) AS font_size
FROM (
  SELECT doc_id, 'default' AS level, fam AS font_family, sz AS font_size
  FROM dflt
  UNION ALL SELECT doc_id, level, fam, sz FROM heads
  UNION ALL SELECT doc_id, level, fam, sz FROM fn)
"""

    def fragments_udtf(spark, sf):
        """§2.11 UDTF surface: LATERAL word-chunk expansion."""
        from ferenda_spark.functions import tablefns
        tablefns.register(spark)
        _docs(spark, sf).createOrReplaceTempView("docs_udtf_in")
        return _longify(spark.sql(
            "SELECT doc_id, f.frag_no, f.fragment "
            "FROM docs_udtf_in, LATERAL chunk_words(text, 10) AS f"))
    reg["fragments_udtf"] = fragments_udtf, """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (SELECT doc_id,
             [array_to_string(ws[i*10+1 : i*10+10], ' ')
              for i in generate_series(0, CAST(ceil(len(ws)/10.0) AS INT) - 1)]
                 AS chunks
      FROM w)
SELECT doc_id,
       CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS frag_no,
       unnest(chunks) AS fragment
FROM c
"""

    def url_canonical_dedup(spark, sf):
        """Canonical-URL dedup: five messy variants per page (case,
        default port, trailing slash, param order, fragment) must
        collapse to ONE canonical key; the oracle states the expected
        canonical form independently."""
        from ferenda_spark.functions.web import canonical_url_col
        d = _docs(spark, sf)
        k = (F.col("doc_id") % 100).cast("string")
        m = F.floor(F.col("doc_id") / 100) % 5
        messy = (
            F.when(m == 0, F.concat(
                F.lit("http://example.com/p/"), k, F.lit("?a=1&b=2")))
            .when(m == 1, F.concat(
                F.lit("HTTP://EXAMPLE.COM/p/"), k, F.lit("?a=1&b=2")))
            .when(m == 2, F.concat(
                F.lit("http://example.com:80/p/"), k, F.lit("?a=1&b=2")))
            .when(m == 3, F.concat(
                F.lit("http://example.com/p/"), k, F.lit("/?b=2&a=1")))
            .otherwise(F.concat(
                F.lit("http://example.com/p/"), k,
                F.lit("?a=1&b=2#sec-3"))))
        return _longify(
            d.select(canonical_url_col(messy).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_variants")))
    reg["url_canonical_dedup"] = url_canonical_dedup, """
SELECT 'http://example.com/p/' || (doc_id % 100) || '?a=1&b=2'
           AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants
FROM documents GROUP BY 1
"""

    def media_meta(spark, sf):
        media = multimodal.attach_media(_docs(spark, sf))
        return _longify(multimodal.media_metadata(media))
    reg["media_meta"] = media_meta, """
WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n,
                  md5(text) AS content_md5 FROM documents),
k AS (SELECT *, (['image', 'audio', 'video'])[CAST(n % 3 AS INT) + 1] AS kind
      FROM m)
SELECT media_id, CAST(n AS BIGINT) AS n_bytes, content_md5, kind,
       CASE WHEN kind IN ('image', 'video')
            THEN CAST(n % 640 + 16 AS BIGINT) END AS width,
       CASE WHEN kind IN ('image', 'video')
            THEN CAST(n % 480 + 16 AS BIGINT) END AS height,
       CASE WHEN kind IN ('audio', 'video')
            THEN CAST(n * 7 % 100000 AS BIGINT) END AS duration_ms
FROM k
"""

    def streaming_hourly_events(spark, sf):
        e = load_table(spark, sf, "events")
        return _longify(
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").cast("string").alias("hour"),
                    "event_type", "n", "total_value"))
    reg["streaming_hourly_events"] = streaming_hourly_events, """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""

    def salted_join_suppliers(spark, sf):
        li = load_table(spark, sf, "lineitem").select(
            F.col("l_suppkey").alias("s_suppkey"), "l_quantity")
        s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
        joined = analytics.salted_join(li, s, "s_suppkey")
        return _longify(
            joined.groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("total_qty")))
    reg["salted_join_suppliers"] = salted_join_suppliers, """
SELECT s_name, count(*) AS n, round(sum(l_quantity), 2) AS total_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""

    def first_success_events(spark, sf):
        # J6 composite coalesce: per user, the first (lowest event_id)
        # event that "succeeded" (value > 1), sources tried in order
        e = load_table(spark, sf, "events")
        return _longify(analytics.first_success(
            e.select("user_id", "event_id", "event_type", "value"),
            key="user_id", priority_col="event_id").withColumn(
                "value", F.round("value", 2)))
    reg["first_success_events"] = first_success_events, """
SELECT user_id, event_id, event_type, round(value, 2) AS value
FROM (SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id) AS rn
      FROM events) WHERE rn = 1
"""

    def entity_link_fuzzy(spark, sf):
        """J1 fuzzy phase, value-gated: the PUBLISHERS fixture
        *declares* which variants must link (close, ratio ≥ 0.8) and
        which must NOT (far) — the oracle is that declaration, so the
        difflib cutoff semantics are checked against data designed
        for it, not re-derived."""
        from ferenda_spark.fixtures.pages import PUBLISHERS
        rows = []
        for canonical, close, far in PUBLISHERS:
            rows.append((canonical,))
            rows += [(v,) for v in close] + [(v,) for v in far]
        mentions = spark.createDataFrame(rows, "label string")
        ents = entities_df(spark).filter(F.col("kind") == "publisher")
        return link_labels(mentions, ents).select("label", "entity_uri")

    # entity_link_fuzzy: the oracle is the PUBLISHERS declaration
    # itself (close variants link to the canonical uri, far variants
    # must come back null) — not a difflib re-derivation.
    vals = []
    for canonical, close, far in PUBLISHERS:
        uri = publisher_uri(canonical)
        vals.append((canonical, uri))
        vals += [(v, uri) for v in close]
        vals += [(v, None) for v in far]
    rows_sql = ", ".join(
        "('{}', {})".format(
            label.replace("'", "''"),
            "'" + uri + "'" if uri else "CAST(NULL AS VARCHAR)")
        for label, uri in vals)
    reg["entity_link_fuzzy"] = entity_link_fuzzy, (
        f"SELECT * FROM (VALUES {rows_sql}) AS t(label, entity_uri)")

    return reg
