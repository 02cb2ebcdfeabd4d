"""Triple construction: every triple of a page in one map-only pass.

This is the one place that encodes the triple rules: header → document
triples (metadata helpers), section → fragment triples, the citation
grammar (grammar/citations.py) and its stateful short-form fold, and
the publisher link resolved during extract:

    scan → mapInPandas extract (publisher linking folded in)
         → one wide Column expression building every per-document
           triple array → concat → filter   (page_triples: one row
                                             per page)
         → explode → project                (fused_triples)

Zero shuffles, zero caches, zero joins — the whole job is two codegen
stages, so throughput scales with cores until input bandwidth. The
``kg_edges`` gate query checks the output against an ANSI-SQL oracle,
and tests/test_triples.py against golden triple sets.
``pipeline.build_triples`` returns fused_triples; ``run_pipeline``
persists the per-page frame and derives its edge, node and provenance
appends from it.

Per-page state is projected before any lambda reads it: the alias map
is its own ``aliases`` column, and the section and token lambdas read
that column. Spark does not eliminate common subexpressions inside
``transform``/``aggregate``, so an expression written into a lambda
body runs again for every element — the inlined alias map ran its
regexes and its O(n²) dedup once per section and once per token.

The triple array itself names only columns and constants, so
``triple_array`` builds it once per JVM and every later call reuses
the same Column: building it costs thousands of py4j round trips.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import BASE, MONTHS
from ferenda_spark.grammar.citations import (
    ALIASES,
    alias_map,
    cite_objs,
    stateful_reference_structs,
)
from ferenda_spark.operators.metadata import _CATEGORY_TYPE_ITEMS, _triple

_EMPTY = "array<struct<subj:string,pred:string,obj:string," \
         "obj_is_literal:boolean,obj_datatype:string,obj_lang:string>>"


def _when_arr(cond: Column, arr: Column) -> Column:
    return F.when(cond, arr).otherwise(F.array().cast(_EMPTY))


def _cite_structs(subj: Column, text: Column, aliases: Column) -> Column:
    """One ``dcterms:references`` triple per citation target that the
    grammar registry (grammar/citations.py) finds in ``text``, so a
    new citation class lands here by construction."""
    return F.transform(
        cite_objs(text, aliases),
        lambda obj: F.struct(
            subj.alias("subj"),
            F.lit("dcterms:references").alias("pred"),
            obj.alias("obj"),
            F.lit(False).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang")))


def _build_triple_array() -> Column:
    month_map = F.create_map(
        *[x for m, i in zip(MONTHS, range(1, 13))
          for x in (F.lit(m), F.lit(f"{i:02d}"))])
    cat_type = F.create_map(
        *[x for k, v in _CATEGORY_TYPE_ITEMS for x in (F.lit(k), F.lit(v))])

    uri = F.col("url")
    header = F.col("header")
    category = header["Category"]
    date = header["Date"]
    issued = F.concat(
        F.regexp_extract(date, r" (\d{4})$", 1), F.lit("-"),
        month_map[F.regexp_extract(date, r"^(\w+) ", 1)])
    subject_uri = F.concat(
        F.lit(BASE + "res/category/"),
        F.replace(F.lower(category), F.lit(" "), F.lit("-")))

    doc_arr = F.array(
        _triple(uri, "rdf:type",
                F.coalesce(cat_type[category], F.lit("bibo:Report"))),
        _triple(uri, "dcterms:title", F.col("title"),
                literal=True, lang=F.col("lang")),
        _triple(uri, "dcterms:identifier",
                F.concat(F.lit("RFC "), header["Request for Comments"]),
                literal=True),
        _triple(uri, "dcterms:issued", issued, literal=True,
                datatype="xsd:gYearMonth"),
        _triple(uri, "dcterms:subject", subject_uri),
    )
    pub_arr = _when_arr(
        F.col("publisher_uri").isNotNull(),
        F.array(_triple(uri, "dcterms:publisher", F.col("publisher_uri"))))

    def rel_arr(key: str, pred: str) -> Column:
        vals = header[key]
        return _when_arr(
            vals.isNotNull(),
            F.transform(
                F.split(vals, ", "),
                lambda num: _triple(uri, pred,
                                    F.concat(F.lit(BASE + "res/rfc/"),
                                             num))))

    # per-section fragment triples: URI {url}#S{ordinal}, parent
    # {url}#S{prefix} for nested ordinals, else the document
    # (reference elements.py:622-623 compute_uri, :654-657 isPartOf)
    def sec_structs(sec: Column) -> Column:
        frag = F.concat(uri, F.lit("#S"), sec["ordinal"])
        parent = F.when(
            sec["ordinal"].contains("."),
            F.concat(uri, F.lit("#S"),
                     F.regexp_replace(sec["ordinal"], r"\.\d+$", "")),
        ).otherwise(uri)
        return F.array(
            _triple(frag, "rdf:type", F.lit("bibo:DocumentPart")),
            _triple(frag, "bibo:chapter", sec["ordinal"], literal=True),
            _triple(frag, "dcterms:isPartOf", parent),
            _triple(frag, "dcterms:title", sec["heading"],
                    literal=True, lang=F.col("lang")),
        )

    aliases = F.col(ALIASES)

    sec_arr = F.flatten(F.transform(F.col("sections"), sec_structs))
    sec_cites = F.flatten(F.transform(
        F.col("sections"),
        lambda sec: _cite_structs(
            F.concat(uri, F.lit("#S"), sec["ordinal"]),
            sec["text"], aliases)))
    pre_cites = _cite_structs(uri, F.col("preamble"), aliases)
    # stateful short-form refs ("Section N of that document"):
    # the currentlaw-analog fold stays inside the same map-only stage
    state_cites = F.transform(
        stateful_reference_structs(uri, F.col("preamble"),
                                   F.col("sections"), aliases),
        lambda r: _triple(r["frag"], "dcterms:references", r["obj"]))

    return F.concat(doc_arr, pub_arr,
                    rel_arr("Updates", "rfc:updates"),
                    rel_arr("Obsoletes", "rfc:obsoletes"),
                    sec_arr, sec_cites, pre_cites, state_cites)


#: (SparkContext._jvm it was built through, triple_array Column)
_TRIPLE_ARRAY: tuple[object, Column | None] = (None, None)


def triple_array() -> Column:
    """Every triple of one extracted page, as one array<struct> Column
    over the extract columns plus ``aliases``.

    Built once per JVM and cached: the Column references no DataFrame,
    so it stays valid across calls and sessions while the gateway
    lives; a new gateway (a different ``SparkContext._jvm``) rebuilds
    it."""
    global _TRIPLE_ARRAY
    jvm = SparkContext._jvm
    if _TRIPLE_ARRAY[0] is not jvm or _TRIPLE_ARRAY[1] is None:
        _TRIPLE_ARRAY = (jvm, _build_triple_array())
    return _TRIPLE_ARRAY[1]


def _with_doc_aliases(ext: DataFrame) -> DataFrame:
    """``ext`` with the alias map projected, for document pages only."""
    return ext.withColumn(ALIASES, F.when(F.col("is_doc"),
                                          alias_map(F.col("text"))))


def _page_triple_array() -> Column:
    """triple_array() of a document page without null-subject, null-
    or empty-object entries; an empty array for any other page."""
    return _when_arr(F.col("is_doc"), F.filter(
        triple_array(),
        lambda t: t["subj"].isNotNull() & t["obj"].isNotNull()
        & (t["obj"] != "")))


def page_triples(ext: DataFrame) -> DataFrame:
    """Extracted pages (with publisher_uri) → one row per page:
    ``url``, ``input_hash`` when ``ext`` carries it, and ``triples``,
    the page's triple array. A non-document page keeps its row with an
    empty array, so per-page counts (provenance ``rows_out``) read
    straight off this frame."""
    keep = [c for c in ("url", "input_hash") if c in ext.columns]
    return _with_doc_aliases(ext).select(
        *keep, _page_triple_array().alias("triples"))


def fused_triples(ext: DataFrame) -> DataFrame:
    """Extracted docs (with publisher_uri) → the full triple set: the
    explode of page_triples' array.

    It explodes the array expression, not a projected ``triples``
    column: for an exploded column Catalyst infers a ``size > 0``
    filter and pushes it below the projection, which would build
    every page's triple array twice."""
    return (_with_doc_aliases(ext)
            .select(F.explode(_page_triple_array()).alias("t"))
            .select("t.*"))
