"""Cross-document reference resolution — the reference's
relate_dependencies phase (J2) and annotation inversion (J3 inbound
half), the pipeline's genuinely skewed join.

The reference probes every repo's ``basefile_from_uri`` per URIRef
object and appends to per-target dependency files
(/root/reference/ferenda/documentrepository.py:2015-2077,
basefile_from_uri:719-743). Here it is one equi-join after URI
normalization: extract the basefile id from the cited URI (F5), join
against the page table's basefile. **This is the head-entity skew
point** (zipf-cited pages): the default path relies on AQE skew-join
splitting; ``salt`` switches to explicit salting (hot side replicated)
for clusters without AQE or with extreme heads.

Annotation inversion (`inbound_references`) mirrors the reference's
CONSTRUCT query res/sparql/annotations.rq:4-19: every resolved
``?s dcterms:references ?part`` edge is inverted into
``?part dcterms:isReferencedBy ?s``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# only the document series resolve to pages — companion series (bcp,
# std, iso, eu, ecj, draft) are external identities, like the
# reference's per-repo basefile_from_uri scoping (each repo claims
# only its own URI space, documentrepository.py:719-743)
BASEFILE_RE = r"/res/(?:rfc|doc)/(\d+)"


def basefile_from_uri(col) -> "F.Column":
    """F5 (documentrepository.py:719-743): uri → repo-local id, with
    ``#fragment`` stripped; empty string when not a document uri."""
    return F.regexp_extract(F.regexp_replace(col, r"#.*$", ""),
                            BASEFILE_RE, 1)


def resolve_citations(edges: DataFrame, pages_uris: DataFrame,
                      salt: int = 0) -> DataFrame:
    """Citation edges × page table → (subj, obj, target_url|null).

    ``pages_uris`` needs one ``url`` column (one row per known page).
    Output keeps dangling citations with null target_url (the
    reference logs and skips those, add_dependency:2055-2077).

    Join key is the basefile id — far fewer distinct values than urls,
    and zipf-hot for head entities. Default: plain equi-join (AQE
    skew handling). ``salt > 0``: replicate the page side salt× and
    scatter the big side deterministically — same result (tested),
    bounded per-task skew.
    """
    cites = (edges.filter(F.col("pred") == "dcterms:references")
             .select("subj", "obj",
                     basefile_from_uri(F.col("obj")).alias("basefile")))
    targets = (pages_uris
               .select(F.col("url").alias("target_url"),
                       basefile_from_uri(F.col("url")).alias("basefile"))
               .filter(F.col("basefile") != "")
               .dropDuplicates(["basefile"]))
    if salt > 0:
        cites = cites.withColumn(
            "_salt", F.pmod(F.hash("subj", "obj"), F.lit(salt)))
        targets = targets.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        out = cites.join(targets, ["basefile", "_salt"], "left")
        return out.drop("_salt", "basefile")
    return cites.join(targets, "basefile", "left").drop("basefile")


def inbound_references(edges: DataFrame, pages_uris: DataFrame) -> DataFrame:
    """Resolved citations inverted into isReferencedBy annotation
    edges (annotations.rq:14-18): (target_url, isReferencedBy, subj).
    """
    resolved = resolve_citations(edges, pages_uris)
    return (resolved.filter(F.col("target_url").isNotNull())
            .select(F.col("target_url").alias("subj"),
                    F.lit("dcterms:isReferencedBy").alias("pred"),
                    F.col("subj").alias("obj"))
            .dropDuplicates())
