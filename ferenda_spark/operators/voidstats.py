"""VoID dataset statistics over an edge table.

The W3C VoID vocabulary (https://www.w3.org/TR/void/) is the standard
way to publish what a triple dataset contains: per-predicate property
partitions (void:triples / void:distinctSubjects /
void:distinctObjects), per-class partitions (void:entities), and the
dataset-level summary.  The reference exposes the same numbers
informally through its status/statistics reporting
(/root/reference/ferenda/devel.py statusreport and
documentrepository.py facet statistics); emitting them as proper VoID
makes the store self-describing and the description exportable
through the same N-Triples writer as the data.

Scale: every statistic is one aggregation over the edge table.  The
exact forms use count(DISTINCT …) — at 100 TB prefer
``approximate=True`` (HyperLogLog approx_count_distinct, one pass, no
expand) for the distinct counts; the oracle gates pin the exact form
at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: predicate used for class membership
TYPE_PRED = "rdf:type"


def property_partitions(edges: DataFrame,
                        approximate: bool = False) -> DataFrame:
    """One row per predicate: ``(pred, n_triples, n_subjects,
    n_objects)`` — the void:propertyPartition statistics."""
    nd = F.approx_count_distinct if approximate else F.countDistinct
    return (edges.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_triples"),
                 nd("subj").alias("n_subjects"),
                 nd("obj").alias("n_objects")))


def class_partitions(edges: DataFrame,
                     type_pred: str = TYPE_PRED,
                     approximate: bool = False) -> DataFrame:
    """One row per class: ``(rdf_class, n_entities)`` — the
    void:classPartition statistics (entities = distinct typed
    subjects, per void:entities)."""
    nd = F.approx_count_distinct if approximate else F.countDistinct
    return (edges.filter(F.col("pred") == type_pred)
            .groupBy(F.col("obj").alias("rdf_class"))
            .agg(nd("subj").alias("n_entities")))


def class_links(edges: DataFrame,
                type_pred: str = TYPE_PRED) -> DataFrame:
    """The class-link matrix: ``(subj_class, pred, obj_class,
    n_triples, n_subjects, n_objects)`` — how instances of one class
    point at instances of another, per predicate (the schema-level
    summary VoID models as linksets between class partitions; the KG
    "shape" a consumer reads before writing a query).

    Untyped endpoints aggregate under class NULL so the matrix stays
    a PARTITION of the non-type triples (row sums reconcile with
    property_partitions — the audit the VoID export relies on).
    Plan: the type table is derived once and joined twice (typed
    subjects are a fraction of triples — AQE broadcasts when small);
    one combinable groupBy."""
    nd = F.countDistinct
    types = (edges.filter(F.col("pred") == type_pred)
             .groupBy(F.col("subj").alias("n"))
             .agg(F.min("obj").alias("cls")))
    rest = edges.filter(F.col("pred") != type_pred)
    j = (rest
         .join(types.select(F.col("n").alias("subj"),
                            F.col("cls").alias("subj_class")),
               "subj", "left")
         .join(types.select(F.col("n").alias("obj"),
                            F.col("cls").alias("obj_class")),
               "obj", "left"))
    return (j.groupBy("subj_class", "pred", "obj_class")
            .agg(F.count(F.lit(1)).alias("n_triples"),
                 nd("subj").alias("n_subjects"),
                 nd("obj").alias("n_objects")))


def dataset_summary(edges: DataFrame,
                    type_pred: str = TYPE_PRED,
                    approximate: bool = False) -> DataFrame:
    """The dataset-level VoID row: ``(n_triples, n_subjects,
    n_objects, n_properties, n_classes)``."""
    nd = F.approx_count_distinct if approximate else F.countDistinct
    return edges.agg(
        F.count(F.lit(1)).alias("n_triples"),
        nd("subj").alias("n_subjects"),
        nd("obj").alias("n_objects"),
        nd("pred").alias("n_properties"),
        nd(F.when(F.col("pred") == type_pred, F.col("obj")))
        .alias("n_classes"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution of the graph: ``(direction, degree,
    n_nodes)`` with direction ∈ {out, in} — out-degree over subjects,
    in-degree over IRI objects (literals are values, not nodes).  The
    skew diagnostic: a heavy tail here is what forces salting /
    AQE skew handling in the join-shaped operators downstream.

    Two aggregations each over one shuffle of (node) then (degree) —
    the second is histogram-sized.  Map-side combine absorbs the
    hub-node skew the histogram exists to reveal."""
    def hist(keyed: DataFrame, direction: str) -> DataFrame:
        return (keyed.groupBy("node")
                .agg(F.count(F.lit(1)).alias("degree"))
                .groupBy("degree")
                .agg(F.count(F.lit(1)).alias("n_nodes"))
                .select(F.lit(direction).alias("direction"),
                        "degree", "n_nodes"))

    out = hist(edges.select(F.col("subj").alias("node")), "out")
    ind = hist(edges.filter(~F.col("obj_is_literal"))
               .select(F.col("obj").alias("node")), "in")
    return out.unionByName(ind)


def void_triples(edges: DataFrame, dataset_uri: str,
                 type_pred: str = TYPE_PRED,
                 approximate: bool = False) -> DataFrame:
    """The statistics AS RDF, in the engine's edge schema — ready for
    the N-Triples writer, so ``export(void_triples(store))`` publishes
    a self-description next to the data.

    Emits the dataset node (``void:triples``, ``void:properties``,
    ``void:classes``, distinct subject/object counts), one
    ``void:propertyPartition`` node per predicate and one
    ``void:classPartition`` node per class, each with its counts as
    ``xsd:integer`` literals.  Partition node IRIs are minted
    deterministically from the partitioned term."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    base = dataset_uri.rstrip("/")

    def lit(c):
        return [c.cast("string").alias("obj"),
                F.lit(True).alias("obj_is_literal"),
                F.lit(xsd_int).alias("obj_datatype"),
                F.lit(None).cast("string").alias("obj_lang")]

    def iri(c):
        return [c.alias("obj"), F.lit(False).alias("obj_is_literal"),
                F.lit(None).cast("string").alias("obj_datatype"),
                F.lit(None).cast("string").alias("obj_lang")]

    def rows(df, subj_col, pairs, links=()):
        out = None
        for pred, col in pairs:
            part = df.select(subj_col.alias("subj"),
                             F.lit(pred).alias("pred"), *lit(col))
            out = part if out is None else out.unionByName(part)
        for pred, col in links:
            part = df.select(subj_col.alias("subj"),
                             F.lit(pred).alias("pred"), *iri(col))
            out = out.unionByName(part)
        return out

    summary = dataset_summary(edges, type_pred, approximate)
    prop = property_partitions(edges, approximate).withColumn(
        "part_uri", F.concat(F.lit(base + "/prop/"),
                             F.regexp_replace("pred", "[^A-Za-z0-9]", "_")))
    cls = class_partitions(edges, type_pred, approximate).withColumn(
        "part_uri", F.concat(F.lit(base + "/class/"),
                             F.regexp_replace("rdf_class",
                                              "[^A-Za-z0-9]", "_")))
    out = rows(summary, F.lit(base), [
        ("void:triples", F.col("n_triples")),
        ("void:distinctSubjects", F.col("n_subjects")),
        ("void:distinctObjects", F.col("n_objects")),
        ("void:properties", F.col("n_properties")),
        ("void:classes", F.col("n_classes")),
    ])
    out = out.unionByName(rows(prop, F.col("part_uri"), [
        ("void:triples", F.col("n_triples")),
        ("void:distinctSubjects", F.col("n_subjects")),
        ("void:distinctObjects", F.col("n_objects")),
    ], links=[("void:property", F.col("pred")),
              ("void:inDataset", F.lit(base))]))
    out = out.unionByName(rows(cls, F.col("part_uri"), [
        ("void:entities", F.col("n_entities")),
    ], links=[("void:class", F.col("rdf_class")),
              ("void:inDataset", F.lit(base))]))
    return out
