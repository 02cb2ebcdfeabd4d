"""Deequ-style data profiling and constraint checks over any table.

Before a 100 TB corpus feeds the KG pipeline, the ingest table itself
needs grading: how complete is each column, how many distinct values,
what are the ranges — and which hard expectations (uniqueness of the
id, completeness of the url, value bounds) hold.  This module is the
tabular complement to the graph-side SHACL validator
(operators/shacl.py): ``profile`` computes per-column statistics in
ONE aggregation pass, ``check`` evaluates declarative constraints
against those statistics and returns a pass/fail report per
constraint (never a throw — the bad slice gets quarantined, the job
keeps running).

The design point is Amazon Deequ's (Schelter et al., VLDB 2018 —
public): metrics first, assertions over metrics second, so N
constraints cost one scan, not N.  All statistics are built-in JVM
aggregates; the profile row set is tiny (one row per column) and the
check step runs driver-side over the collected profile.

Scale: one ``agg`` with ~6 expressions per profiled column — a single
map-side-combined pass whatever the table size.  ``n_distinct`` is
exact (count distinct) by default because the oracle pins it;
``approximate=True`` switches to HyperLogLog approx_count_distinct,
which is the right call at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

#: constraint table DDL: one row = one expectation over one column
CHECK_DDL = ("check_id string, column string, kind string, "
             "threshold double")

#: supported constraint kinds
CHECK_KINDS = ("complete", "unique", "min_at_least", "max_at_most",
               "distinct_at_least")


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column statistics in one aggregation pass: ``(column,
    n_rows, n_null, n_distinct, completeness, min_value, max_value)``
    with min/max rendered as strings (numeric columns keep numeric
    ordering before the cast; other types use their natural Spark
    ordering).

    One row per profiled column; defaults to every string/numeric
    column of the frame."""
    if columns is None:
        columns = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, (StringType, NumericType))]
    if not columns:
        raise ValueError("profile: no string/numeric columns to profile")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    # unpivot the single wide row into (column, stats) rows — a tiny
    # driver-free reshape via explode over a struct array
    per_col = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"{c}__n").alias("n_present"),
                 F.col(f"{c}__nd").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_value"),
                 F.col(f"{c}__max").alias("max_value"))
        for c in columns])
    out = row.select("n_rows", F.explode(per_col).alias("s"))
    n_rows = F.col("n_rows").cast("long")
    n_present = F.col("s.n_present").cast("long")
    return out.select(
        F.col("s.column").alias("column"),
        n_rows.alias("n_rows"),
        (n_rows - n_present).alias("n_null"),
        F.col("s.n_distinct").cast("long").alias("n_distinct"),
        F.round(n_present / F.greatest(n_rows, F.lit(1)), 6)
        .alias("completeness"),
        F.col("s.min_value").alias("min_value"),
        F.col("s.max_value").alias("max_value"))


QUANTILE_PROBS = (0.25, 0.5, 0.95)


def numeric_quantiles(df: DataFrame) -> DataFrame:
    """Per-numeric-column quantiles in one aggregation pass:
    ``(column, p, value)`` for every p in ``QUANTILE_PROBS``: exact
    linear-interpolated percentiles (SQL ``percentile_cont``
    semantics, oracle-matchable)."""
    columns = [f.name for f in df.schema.fields
               if isinstance(f.dataType, NumericType)]
    if not columns:
        raise ValueError("numeric_quantiles: no numeric columns")
    aggs = [F.percentile(F.col(c).cast("double"), F.lit(p))
            .alias(f"{c}__{i}")
            for c in columns for i, p in enumerate(QUANTILE_PROBS)]
    row = df.agg(*aggs)
    per = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.lit(float(p)).alias("p"),
                 F.col(f"{c}__{i}").alias("value"))
        for c in columns for i, p in enumerate(QUANTILE_PROBS)])
    return (row.select(F.explode(per).alias("s"))
            .select("s.column", "s.p",
                    F.round("s.value", 6).alias("value")))


def check(df: DataFrame, checks: list[tuple] | DataFrame) -> DataFrame:
    """Evaluate declarative constraints against one profile pass:
    ``(check_id, column, kind, threshold, actual, passed)``.

    Kinds: ``complete`` (completeness ≥ threshold), ``unique``
    (n_distinct == n_present and n_null == 0 — threshold ignored),
    ``min_at_least`` / ``max_at_most`` (numeric bound on the column's
    min/max), ``distinct_at_least`` (n_distinct ≥ threshold).  The
    constraint list is tiny and joins the tiny profile — all the data
    work happened in the single profile scan."""
    if isinstance(checks, DataFrame):
        # by field name, not position — callers build this frame from
        # CSV/config with no guaranteed column order
        rows = [(r["check_id"], r["column"], r["kind"],
                 float(r["threshold"])) for r in checks.collect()]
    else:
        rows = [(c[0], c[1], c[2], float(c[3])) for c in checks]
    bad = [r for r in rows if r[2] not in CHECK_KINDS]
    if bad:
        raise ValueError(f"check: unknown constraint kinds {bad!r} "
                         f"(supported: {CHECK_KINDS})")
    cols = sorted({r[1] for r in rows})
    prof = profile(df, cols)
    spark = df.sparkSession
    cdf = spark.createDataFrame([tuple(r) for r in rows], CHECK_DDL)
    j = cdf.join(F.broadcast(prof),
                 cdf["column"] == prof["column"]).drop(prof["column"])
    n_present = F.col("n_rows") - F.col("n_null")
    # try_cast, not cast: under ANSI mode a bound constraint written
    # against a non-numeric column must fail its check, not the job
    actual = (F.when(F.col("kind") == "complete", F.col("completeness"))
              .when(F.col("kind").isin("unique", "distinct_at_least"),
                    F.col("n_distinct").cast("double"))
              .when(F.col("kind") == "min_at_least",
                    F.col("min_value").try_cast("double"))
              .when(F.col("kind") == "max_at_most",
                    F.col("max_value").try_cast("double")))
    # passed derives from the SAME actual expression (unique is the
    # one non-threshold kind), so report and verdict cannot diverge
    passed = (F.when(F.col("kind") == "unique",
                     (F.col("n_distinct") == n_present)
                     & (F.col("n_null") == 0))
              .when(F.col("kind") == "max_at_most",
                    actual <= F.col("threshold"))
              .otherwise(actual >= F.col("threshold")))
    # a bound constraint on a non-numeric column casts to NULL — the
    # conservative report is failed, never silently passed
    return j.select("check_id", "column", "kind", "threshold",
                    F.round(actual, 6).alias("actual"),
                    F.coalesce(passed, F.lit(False)).alias("passed"))
