"""RDF serialization: a distributed N-Triples writer/reader.

N-Triples is the reference's bulk interchange format — its
triplestore dumps and loads graphs as ``format="nt"`` throughout
(``triplestore.py:127`` get_serialized, ``:1855`` add_serialized_file
on relate-all, ``:1868`` get_serialized_file dumps, and
``documentrepository.py:1948`` writes distilled dumps with
``g.serialize(format="nt")``).  The format is strictly line-based,
which makes it the rare RDF syntax that is PERFECT for Spark: one
row per triple, serialization and parsing are pure column
expressions (whole-stage codegen, zero Python in the hot path), a
100 TB dump splits on line boundaries, and text-source compression
(.gz per file) composes for free.

Escape contract (both directions): ``\\`` ``\"`` ``\n`` ``\r``
``\t`` — the escapes the writer emits.  The parser flags any OTHER
backslash escape (``\\uXXXX`` etc.) as an error row instead of
silently passing a wrong string through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the store vocabulary's namespaces (the reference's shipped-vocab
# set) — what the export/load tools expand and contract against
STD_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "dcterms": "http://purl.org/dc/terms/",
    "bibo": "http://purl.org/ontology/bibo/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "prov": "http://www.w3.org/ns/prov#",
}

# ---------------------------------------------------------------- CURIEs

def expand_curies(c: Column, prefixes: dict[str, str]) -> Column:
    """CURIE → IRI through a prefix map (longest prefix wins); values
    that match no prefix pass through unchanged."""
    out = c
    for pfx, iri in sorted(prefixes.items(), key=lambda kv: -len(kv[0])):
        out = F.when(c.startswith(pfx + ":"),
                     F.concat(F.lit(iri),
                              F.substring(c, len(pfx) + 2, 2**30))
                     ).otherwise(out)
    return out


def contract_iris(c: Column, prefixes: dict[str, str]) -> Column:
    """IRI → CURIE, the inverse of :func:`expand_curies` (longest
    namespace wins); unmatched IRIs pass through unchanged.

    The when-chain is built shortest-namespace-FIRST: each iteration
    wraps the previous expression, so the last (longest) namespace
    becomes the outermost, first-evaluated branch — iterating
    longest-first would invert the precedence and a namespace that
    prefixes another (e.g. a --base-iri above dcterms) would swallow
    its sub-namespaces' terms."""
    out = c
    for pfx, iri in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
        out = F.when(c.startswith(iri),
                     F.concat(F.lit(pfx + ":"),
                              F.substring(c, len(iri) + 1, 2**30))
                     ).otherwise(out)
    return out


# ------------------------------------------------------------ N-Triples

# literal escapes the writer emits and the parser accepts; \x00 is the
# unescape sentinel (control chars are not legal unescaped in
# N-Triples, so it cannot occur in valid input)
_ESCAPES = [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
            ("\r", "\\r"), ("\t", "\\t")]
_SENTINEL = "\x00"


def _escape_lit(c: Column) -> Column:
    for raw, esc in _ESCAPES:
        c = F.replace(c, F.lit(raw), F.lit(esc))
    return c


def _unescape_lit(c: Column) -> Column:
    c = F.replace(c, F.lit("\\\\"), F.lit(_SENTINEL))
    for raw, esc in _ESCAPES[1:]:
        c = F.replace(c, F.lit(esc), F.lit(raw))
    return F.replace(c, F.lit(_SENTINEL), F.lit("\\"))


_RESOURCE_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s\"]+$"


def format_ntriples(triples: DataFrame,
                    prefixes: dict[str, str] | None = None) -> DataFrame:
    """One N-Triples ``line`` per input triple.

    Input columns: ``subj``, ``pred``, ``obj``, plus (optionally)
    ``obj_is_literal`` / ``obj_lang`` / ``obj_datatype`` — the
    pipeline's triple shape (operators/graph.py:513).  Without
    ``obj_is_literal`` the writer falls back to a documented
    heuristic: a whitespace-free ``scheme:rest`` object is a
    resource, anything else a literal.  ``prefixes`` expands CURIE
    terms to IRIs first (the store convention is CURIEs; N-Triples
    requires absolute IRIs).  ``_:`` subjects/objects stay blank
    nodes.  Pure column expressions end-to-end.
    """
    cols = set(triples.columns)
    subj, pred = F.col("subj"), F.col("pred")
    obj = obj_res = F.col("obj")
    if prefixes:
        subj = expand_curies(subj, prefixes)
        pred = expand_curies(pred, prefixes)
        # only RESOURCE objects expand — a literal that happens to
        # start with "dcterms:" must stay verbatim
        obj_res = expand_curies(obj_res, prefixes)
    if "obj_is_literal" in cols:
        is_lit = F.coalesce(F.col("obj_is_literal"), F.lit(True))
    else:
        # blank nodes fail the scheme:rest test but are resources
        is_lit = ~(F.col("obj").rlike(_RESOURCE_RE)
                   | F.col("obj").startswith("_:"))
    lang = F.col("obj_lang") if "obj_lang" in cols else F.lit(None)
    dtype = F.col("obj_datatype") if "obj_datatype" in cols \
        else F.lit(None)
    if prefixes:
        dtype = expand_curies(dtype, prefixes)

    def term(c: Column) -> Column:
        return F.when(c.startswith("_:"), c) \
            .otherwise(F.concat(F.lit("<"), c, F.lit(">")))

    lit_term = F.concat(
        F.lit('"'), _escape_lit(obj), F.lit('"'),
        F.when(lang.isNotNull(), F.concat(F.lit("@"), lang))
        .when(dtype.isNotNull(),
              F.concat(F.lit("^^<"), dtype, F.lit(">")))
        .otherwise(F.lit("")))
    obj_term = F.when(is_lit, lit_term).otherwise(term(obj_res))
    return triples.select(
        F.concat(term(subj), F.lit(" "), term(pred), F.lit(" "),
                 obj_term, F.lit(" .")).alias("line"))


# blank-node labels per the N-Triples grammar (letters, digits,
# underscore, '-', interior '.'; must not END with '.' — the
# statement terminator needs to stay unambiguous)
_NT_BNODE = r"_:[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?"
_NT_S = rf"(<[^>]*>|{_NT_BNODE})"
_NT_P = r"(<[^>]*>)"
_NT_O = (rf"(<[^>]*>|{_NT_BNODE}|"
         r'"((?:[^"\\]|\\.)*)"'
         r"(?:@([A-Za-z][A-Za-z0-9-]*))?(?:\^\^<([^>]*)>)?)")
_NT_LINE = rf"^[ \t]*{_NT_S}[ \t]+{_NT_P}[ \t]+{_NT_O}[ \t]*\.[ \t\r]*$"


def parse_ntriples(lines: DataFrame,
                   prefixes: dict[str, str] | None = None) -> DataFrame:
    """Distributed N-Triples parser: one anchored regex classifies
    each line (column-side; no Python).  Comment / blank lines are
    dropped per spec; anything else that does not parse — including a
    literal carrying an escape outside the writer's contract — comes
    back as an ``error`` row with the offending line, never a task
    failure (the WARC reader's error-row discipline).  ``prefixes``
    contracts parsed IRIs back to the store's CURIE vocabulary.

    Output: (subj, pred, obj, obj_is_literal, obj_lang, obj_datatype,
    error).  A quad line is an error row, per the N-Triples grammar.
    """
    c = F.col("line")
    pattern = _NT_LINE
    g = [F.regexp_extract(c, pattern, i) for i in range(7)]
    parsed = (lines
              .filter(~c.rlike(r"^[ \t]*(#|$)"))
              .withColumn("_m", c.rlike(pattern))
              .withColumn("_s", g[1]).withColumn("_p", g[2])
              .withColumn("_o", g[3]).withColumn("_lit", g[4])
              .withColumn("_lang", g[5]).withColumn("_dt", g[6]))
    is_res = F.col("_o").startswith("<") | F.col("_o").startswith("_:")
    raw_lit = F.when(~is_res, F.col("_lit"))
    # escapes outside the contract (e.g. \uXXXX) survive the \\ fold
    # as a lone backslash — flag, don't mangle
    bad_escape = raw_lit.isNotNull() & F.replace(
        raw_lit, F.lit("\\\\"), F.lit(_SENTINEL)).rlike(
            r"\\[^\"nrt]|\\$")

    def strip_iri(col: Column) -> Column:
        out = F.regexp_replace(col, r"^<|>$", "")
        return contract_iris(out, prefixes) if prefixes else out

    obj = F.when(is_res, strip_iri(F.col("_o"))) \
        .otherwise(_unescape_lit(raw_lit))
    err = F.when(~F.col("_m"),
                 F.concat(F.lit("unparseable line: "), c)) \
        .when(bad_escape,
              F.concat(F.lit("unsupported escape: "), c))
    out_cols = [
        F.when(err.isNull(), strip_iri(F.col("_s"))).alias("subj"),
        F.when(err.isNull(), strip_iri(F.col("_p"))).alias("pred"),
        F.when(err.isNull(), obj).alias("obj"),
        F.when(err.isNull(), ~is_res).alias("obj_is_literal"),
        F.when(err.isNull() & (F.col("_lang") != ""),
               F.col("_lang")).alias("obj_lang"),
        F.when(err.isNull() & (F.col("_dt") != ""),
               strip_iri(F.col("_dt"))).alias("obj_datatype"),
    ]
    return parsed.select(*out_cols, err.alias("error"))


def write_ntriples(triples: DataFrame, path: str,
                   prefixes: dict[str, str] | None = None,
                   compression: str | None = None) -> None:
    """Dump a triple table as N-Triples text files — the
    ``get_serialized_file(..., format="nt")`` analog; ``.gz`` via
    ``compression="gzip"`` composes with the splittable-per-file
    text source on read."""
    w = format_ntriples(triples, prefixes).write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_ntriples(spark: SparkSession, path: str,
                  prefixes: dict[str, str] | None = None) -> DataFrame:
    """Load an N-Triples dump (possibly thousands of files / .gz
    members) as a parsed triple table with per-line error capture."""
    return parse_ntriples(
        spark.read.text(path).withColumnRenamed("value", "line"),
        prefixes)
