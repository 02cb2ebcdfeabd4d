"""Common Crawl CDXJ index: parse, latest-capture, byte-range plan.

The crawl archive's random-access layer: a CDXJ index line is
``<surt-key> <14-digit-timestamp> <json-blob>`` where the blob names
the capture's url/status/mime and its WARC location
(filename/offset/length).  A 100 TB refetch job never scans WARC
segments blindly — it queries this index, picks the capture set, and
reads exactly those byte ranges.  Three operators:

- :func:`parse_cdxj`: lines → typed rows, PURE column expressions
  (two substring_index splits + ``from_json`` — JVM-side JSON, zero
  Python); lines that don't parse (wrong field count, bad JSON,
  non-numeric timestamp) carry ``error`` and NULL fields instead of
  failing the scan (the warc.py contract).  Offsets/lengths are
  BIGINT — Common Crawl segments exceed 2^31 bytes.
- :func:`latest_capture`: the newest capture per SURT key (optionally
  only ``status == 200``) as one map-side-combinable
  ``max(struct(ts, ...))`` — never a global window; the multi-crawl
  dedup step every index consumer runs first.
- :func:`fetch_plan`: captures → coalesced byte-range reads.  Ranges
  in the same WARC file whose gap is ≤ ``max_gap`` merge into one
  read (HTTP range requests cost a round-trip each; reading a small
  gap is cheaper than splitting).  Per-file window (keyed by
  ``filename`` — a crawl has ~10^5 files, each with bounded entries;
  never global): sort by offset, a new segment starts where
  ``offset − max(prev ends) > max_gap`` (running max handles
  contained/overlapping ranges), cumulative-sum the starts into a
  segment id, aggregate (file, segment) → one (range_start,
  range_end, n_records) read instruction.

The reference fetches documents one HTTP GET at a time
(documentrepository.py:964-1040); this is the archive-side
equivalent a Common-Crawl-scale pipeline uses instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CDX_JSON_SCHEMA = ("url string, status string, mime string, "
                   "filename string, offset string, length string, "
                   "redirect string")


def parse_cdxj(lines: DataFrame) -> DataFrame:
    """``(line)`` → (surt, ts, url, status, mime, filename, offset,
    length, error) — all codegen, no shuffle."""
    line = F.col("line")
    step = lines.select(
        line.alias("_line"),
        F.substring_index(line, " ", 1).alias("surt"),
        F.substring_index(F.substring_index(line, " ", 2), " ", -1)
        .alias("_ts_raw"))
    j = F.from_json(
        F.expr("substring(_line, length(surt) + length(_ts_raw) + 3)"),
        CDX_JSON_SCHEMA)
    step = step.select("_line", "surt", "_ts_raw", j.alias("_j"))
    j = F.col("_j")
    parsed = step.select(
        "surt",
        F.when(F.col("_ts_raw").rlike(r"^\d{14}$"),
               F.col("_ts_raw").cast("long")).alias("ts"),
        j["url"].alias("url"), j["status"].alias("status"),
        j["mime"].alias("mime"), j["filename"].alias("filename"),
        F.when(j["offset"].rlike(r"^\d+$"),
               j["offset"].cast("long")).alias("offset"),
        F.when(j["length"].rlike(r"^\d+$"),
               j["length"].cast("long")).alias("length"),
        j["redirect"].alias("redirect"),
        F.when(~F.col("_line").rlike(r"^\S+ \d{14} \{"),
               F.concat(F.lit("malformed line: "),
                        F.substring(F.col("_line"), 1, 80)))
        .when(j.isNull() | j["url"].isNull(), F.lit("bad json blob"))
        .otherwise(F.lit(None).cast("string")).alias("error"))
    # a row with error keeps only (surt best-effort, error)
    keep = F.col("error").isNull()
    out_cols = ["ts", "url", "status", "mime", "filename", "offset",
                "length", "redirect"]
    return parsed.select(
        "surt",
        *[F.when(keep, F.col(c)).alias(c) for c in out_cols],
        "error")


def latest_capture(cdx: DataFrame) -> DataFrame:
    """Newest capture per SURT key — ``max(struct(ts, ...))``, one
    shuffle with map-side partial max (hot keys never funnel raw
    rows to one reducer)."""
    src = cdx.filter(F.col("error").isNull() & F.col("ts").isNotNull()
                     & (F.col("status") == "200"))
    best = F.max(F.struct(
        F.col("ts"), F.col("url"), F.col("status"), F.col("mime"),
        F.col("filename"), F.col("offset"), F.col("length"),
        F.col("redirect"))).alias("b")
    return (src.groupBy("surt").agg(best)
            .select("surt", "b.ts", "b.url", "b.status", "b.mime",
                    "b.filename", "b.offset", "b.length",
                    "b.redirect"))


FETCH_MAX_GAP = 32


def fetch_plan(captures: DataFrame) -> DataFrame:
    """Captures (filename, offset, length, …) → (filename, seg,
    range_start, range_end, n_records) coalesced read instructions."""
    w = Window.partitionBy("filename").orderBy("offset")
    # running max of prior range ends handles contained ranges
    prev_end = F.max(F.col("offset") + F.col("length")).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    starts_new = F.when(
        prev_end.isNull() |
        (F.col("offset") - prev_end > F.lit(FETCH_MAX_GAP)), 1
    ).otherwise(0)
    segd = (captures
            .filter(F.col("filename").isNotNull()
                    & F.col("offset").isNotNull()
                    & F.col("length").isNotNull())
            .withColumn("_new", starts_new)
            .withColumn("seg", F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (segd.groupBy("filename", "seg")
            .agg(F.min("offset").alias("range_start"),
                 F.max(F.col("offset") + F.col("length"))
                 .alias("range_end"),
                 F.count(F.lit(1)).alias("n_records")))
