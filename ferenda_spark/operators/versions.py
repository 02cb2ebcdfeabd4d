"""Document version archive: latest-version view + as-of lookup.

The Spark restatement of the reference's version archiving
(/root/reference/ferenda/documentstore.py:781-820 ``archive`` moves
the current version under ``archive/<basefile>/<version>`` before a
new one lands; sources/legal/se/sfs.py:425-472 consolidated statutes
carry in-effect dates and readers ask for "the version in effect at
date D" — TemporalElement semantics).

Relational form: a ``versions`` table (url, version, valid_from
[, valid_to], archive_uri) where exactly one row per url is current.
Both views are one window over one shuffle on url:

* ``latest_versions`` — the current snapshot per document.
* ``versions_asof`` — the version in effect at a given date.
  Validity is the reference's TWO-SIDED ``TemporalElement.in_effect``
  test (/root/reference/ferenda/elements/elements.py:417-447:
  ``entryintoforce ≤ d < expires``): pass ``end`` to enforce the
  expiry bound, so a repealed document (current version with a
  ``valid_to`` in the past) drops out of the as-of view entirely —
  not just superseded versions.  Documents with no version yet in
  effect at D also drop (the reference raises/skips for
  not-yet-published basefiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ferenda_spark.functions.text import natural_sort_key_col


def latest_versions(versions: DataFrame) -> DataFrame:
    """One row per document: its current version (max valid_from,
    version ordinal as tiebreak — NATURAL order, so 'v10' outranks
    'v9'), plus the version count."""
    w = Window.partitionBy("url").orderBy(
        F.desc("valid_from"), F.desc(natural_sort_key_col(F.col("version"))))
    counts = Window.partitionBy("url")
    return (versions
            .withColumn("n_versions", F.count(F.lit(1)).over(counts))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))


def in_effect(at) -> "F.Column":
    """TemporalElement.in_effect(d) as a Column predicate:
    ``valid_from ≤ d < valid_to``, a null ``valid_to`` meaning
    still in force (elements.py:445-447)."""
    return (F.col("valid_from") <= F.lit(at)) & (
        F.col("valid_to").isNull() | (F.lit(at) < F.col("valid_to")))


def versions_asof(versions: DataFrame, at) -> DataFrame:
    """The version of each document in effect at date ``at``.

    Validity is two-sided on ``valid_from``/``valid_to`` (the expiry
    column): a repealed document — one whose latest version's expiry
    is ≤ at — has NO row in the result."""
    w = Window.partitionBy("url").orderBy(
        F.desc("valid_from"), F.desc(natural_sort_key_col(F.col("version"))))
    eligible = versions.filter(in_effect(at))
    return (eligible
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))
