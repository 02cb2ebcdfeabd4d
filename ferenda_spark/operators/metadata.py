"""Document-metadata triple helpers: the typed triple struct, the
category → rdf:type table, and the required-predicate check.

operators/fused.py builds every triple from these. It restates the
reference's ``parse_metadata_from_soup`` + RFC header extraction
(ferenda/documentrepository.py:1277-1317,
ferenda/sources/tech/rfc.py:550-644):
``Updates:``/``Obsoletes:`` comma lists become one edge per target
(rfc.py:593-603), ``Month Year`` dates become ``xsd:gYearMonth``
literals (rfc.py:628-640) and category labels mint subject URIs. The
required-predicate invariant (rdf:type present per subject,
documentrepository.py:311-318) is enforceable as a DataFrame check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CATEGORY_TYPE_ITEMS = [
    ("Standards Track", "bibo:Standard"),
    ("Best Current Practice", "bibo:Standard"),
    ("Informational", "bibo:Report"),
    ("Experimental", "bibo:Report"),
    ("Historic", "bibo:Report"),
]


def _triple(subj, pred: str, obj, literal: bool = False,
            datatype=None, lang=None):
    return F.struct(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(literal).alias("obj_is_literal"),
        (F.lit(datatype) if isinstance(datatype, (str, type(None))) else datatype
         ).cast("string").alias("obj_datatype"),
        (F.lit(lang) if isinstance(lang, (str, type(None))) else lang
         ).cast("string").alias("obj_lang"),
    )


def assert_required_predicates(triples: DataFrame) -> DataFrame:
    """Subjects missing rdf:type (required-predicate validation,
    reference documentrepository.py:311-318 / decorators.py:231-236).
    Empty result = valid."""
    subjects = triples.select("subj").distinct()
    typed = (triples.filter(F.col("pred") == "rdf:type")
             .select("subj").distinct())
    return subjects.join(typed, "subj", "left_anti")
