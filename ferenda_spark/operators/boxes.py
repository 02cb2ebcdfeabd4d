"""PDF layout analytics over a textbox table (A8/A9).

The reference's PDFAnalyzer (/root/reference/ferenda/pdfanalyze.py:
237-323 ``metrics``) reduces a parsed PDF's textboxes to layout
metrics: char-weighted margin positions (count_horizontal_textbox:361
adds ``len(textbox)`` at each box's left/right edge), header/footer
zones holding at most a significance fraction of the text
(analyze_vertical_margins:400-424), and a style hierarchy
(analyze_styles:516-550: char-weighted default style, larger
significant styles become h1..h3, a half-size same-family style
becomes the footnote-reference style).

Here the unit of work is a **table** of textboxes —
``boxes(doc_id, page_no, page_width, page_height, left, right, top,
bottom, font_family, font_size, n_chars)`` — one PDF per doc_id,
millions of PDFs per job.  Decoding a PDF into boxes needs a
layout-capable renderer (glyph positions and font metrics), which the
package does not ship, so the analytics start from the box table.

Deviations from the reference, for distributed determinism: Counter
``most_common`` tie order (CPython insertion order) is replaced by
explicit tie-breaks — smallest position wins for left margins,
largest for right margins, and style ordering is fully keyed
(size, weight, chars, family).  The reference's fallback of
returning ``maxcount`` as a margin when no position crosses the
threshold (pdfanalyze.py:411) is replaced by null.

All metrics for all documents compute in ONE pass per metric family:
a groupBy(doc, position) partial-aggregated count plus a per-doc
window rank — two shuffles total for a whole corpus, versus the
reference's per-PDF Python loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _mode_margin(boxes: DataFrame, pos_col: str, keep, asc: bool,
                 out: str) -> DataFrame:
    """Char-weighted mode of a position column per doc.

    ``keep``: row filter (e.g. left-of-midpage). Tie-break: highest
    char count, then smallest (asc=True) or largest position."""
    counts = (boxes.filter(keep)
              .groupBy("doc_id", pos_col)
              .agg(F.sum("n_chars").alias("w")))
    order = [F.desc("w"),
             F.asc(pos_col) if asc else F.desc(pos_col)]
    win = Window.partitionBy("doc_id").orderBy(*order)
    return (counts.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select("doc_id", F.col(pos_col).alias(out)))


def _zone(boxes: DataFrame, pos_col: str, ascending: bool,
          threshold: float, adjust: int, out: str) -> DataFrame:
    """Header/footer zone edge: scan positions from the page edge
    accumulating chars; the zone ends just before the position where
    the running total exceeds ``threshold`` × total chars
    (analyze_vertical_margins semantics)."""
    per_pos = (boxes.groupBy("doc_id", pos_col)
               .agg(F.sum("n_chars").alias("w")))
    cum_win = (Window.partitionBy("doc_id")
               .orderBy(F.asc(pos_col) if ascending else F.desc(pos_col)))
    tot_win = Window.partitionBy("doc_id")
    hit = (per_pos
           .withColumn("_cum", F.sum("w").over(cum_win))
           .withColumn("_thr", threshold * F.sum("w").over(tot_win))
           .filter(F.col("_cum") > F.col("_thr")))
    agg = (F.min(pos_col) if ascending else F.max(pos_col))
    return (hit.groupBy("doc_id")
            .agg((agg + F.lit(adjust)).alias(out)))


FOOTER_THRESHOLD = 0.002
HEADER_THRESHOLD = 0.002


def margin_metrics(boxes: DataFrame) -> DataFrame:
    """Per-doc layout metrics: left/right margin (char-weighted mode
    on the correct half of the page), header/footer zone edges,
    page dimensions."""
    dims = (boxes.groupBy("doc_id")
            .agg(F.max("page_width").alias("pagewidth"),
                 F.max("page_height").alias("pageheight")))
    mid = F.col("page_width") / 2
    left = _mode_margin(boxes, "left", F.col("left") < mid, True,
                        "leftmargin")
    right = _mode_margin(boxes, "right", F.col("right") > mid, False,
                         "rightmargin")
    top = _zone(boxes, "top", True, HEADER_THRESHOLD, -1, "topmargin")
    bottom = _zone(boxes, "bottom", False, FOOTER_THRESHOLD, +1,
                   "bottommargin")
    return (dims.join(left, "doc_id", "left")
            .join(right, "doc_id", "left")
            .join(top, "doc_id", "left")
            .join(bottom, "doc_id", "left")
            .select("doc_id", "leftmargin", "rightmargin",
                    "topmargin", "bottommargin",
                    "pagewidth", "pageheight"))


def _weight(family) -> F.Column:
    """fontsize_key weight (pdfanalyze.py:502-510): Bold 2, Italic 1."""
    return (F.when(family.contains("Bold"), F.lit(2))
            .when(family.contains("Italic"), F.lit(1))
            .otherwise(F.lit(0)))


SIGNIFICANCE = 0.005


def style_metrics(boxes: DataFrame) -> DataFrame:
    """Per-doc style hierarchy as long rows
    ``(doc_id, level, font_family, font_size)`` with level ∈
    default | h1 | h2 | h3 | footnoteref.

    default = char-weighted most common style; h1..h3 = styles with
    fontsize_key strictly above default's and ≥ ``SIGNIFICANCE`` of
    the doc's chars, by descending (size, weight); footnoteref =
    significant same-family style at ≤ half the default size
    (smallest such).

    Single-pass plan: everything is window functions over ONE styles
    frame partitioned by doc — default attrs via ``first`` over the
    full frame, head/footnote ranks via eligibility-first orderings
    (eligible rows sort before ineligible, so row_number among
    eligible = global row_number), levels emitted by one explode.
    The union-of-three-self-joins formulation costs 3× the scans and
    ~12 exchanges; this is 2 exchanges (the groupBy, then one doc
    repartition shared by every window)."""
    doc = Window.partitionBy("doc_id")
    d_win = doc.orderBy(F.desc("w"), F.asc("font_size"),
                        F.asc("font_family"))
    full = d_win.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    s = (boxes.groupBy("doc_id", "font_family", "font_size")
         .agg(F.sum("n_chars").alias("w"))
         .withColumn("_wt", _weight(F.col("font_family")))
         .withColumn("_tot", F.sum("w").over(doc))
         .withColumn("_dfam", F.first("font_family").over(full))
         .withColumn("_dsize", F.first("font_size").over(full))
         .withColumn("_dwt", F.first("_wt").over(full)))
    sig = F.col("w") > SIGNIFICANCE * F.col("_tot")
    above = (F.col("font_size") > F.col("_dsize")) | (
        (F.col("font_size") == F.col("_dsize"))
        & (F.col("_wt") > F.col("_dwt")))
    s = (s.withColumn("_head_ok", sig & above)
         .withColumn("_fn_ok",
                     sig & (F.col("font_family") == F.col("_dfam"))
                     & (F.col("font_size") <= F.col("_dsize") / 2)))
    head_win = doc.orderBy(
        F.desc("_head_ok"), F.desc("font_size"), F.desc("_wt"),
        F.desc("w"), F.asc("font_family"))
    fn_win = doc.orderBy(
        F.desc("_fn_ok"), F.asc("font_size"), F.asc("_wt"),
        F.asc("font_family"))
    s = (s.withColumn("_drn", F.row_number().over(d_win))
         .withColumn("_hrn", F.row_number().over(head_win))
         .withColumn("_frn", F.row_number().over(fn_win)))
    empty = F.array().cast("array<string>")
    levels = F.concat(
        F.when(F.col("_drn") == 1,
               F.array(F.lit("default"))).otherwise(empty),
        F.when(F.col("_head_ok") & (F.col("_hrn") <= 3),
               F.array(F.concat(F.lit("h"), F.col("_hrn"))))
        .otherwise(empty),
        F.when(F.col("_fn_ok") & (F.col("_frn") == 1),
               F.array(F.lit("footnoteref"))).otherwise(empty))
    return s.select("doc_id", F.explode(levels).alias("level"),
                    "font_family", "font_size")
