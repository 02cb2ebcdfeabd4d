"""CDXJ index: line parse, latest capture, range plan."""

import json

import pytest

from ferenda_spark.sources.cdx import (fetch_plan, latest_capture,
                                       parse_cdxj)


def _line(surt, ts, **blob):
    return f"{surt} {ts} {json.dumps(blob)}"


GOOD = _line("com,example)/a", "20240102030405",
             url="https://example.com/a", status="200",
             mime="text/html", filename="w1.warc.gz",
             offset="100", length="50")


def test_parse_cdxj(spark):
    lines = [GOOD,
             _line("com,example)/a", "20230101000000",
                   url="https://example.com/a", status="200",
                   filename="w0.warc.gz", offset="7", length="3"),
             _line("com,example)/b", "20240101000000",
                   url="https://example.com/b", status="404",
                   filename="w1.warc.gz", offset="500", length="9"),
             "garbage",
             "com,x)/ 20240101000000 {not-json"]
    df = spark.createDataFrame([(x,) for x in lines], "line string")
    out = parse_cdxj(df).collect()
    good = [r for r in out if r["error"] is None]
    bad = [r for r in out if r["error"]]
    assert len(good) == 3 and len(bad) == 2
    r = {(x["surt"], x["ts"]): x for x in good}
    g = r[("com,example)/a", 20240102030405)]
    assert (g["url"], g["status"], g["mime"], g["filename"],
            g["offset"], g["length"]) == (
        "https://example.com/a", "200", "text/html", "w1.warc.gz",
        100, 50)
    assert {b["error"].split(":")[0] for b in bad} == \
        {"malformed line", "bad json blob"}
    # error rows keep no half-parsed fields
    assert all(b["url"] is None and b["offset"] is None for b in bad)


def test_latest_capture(spark):
    df = parse_cdxj(spark.createDataFrame(
        [(GOOD,),
         (_line("com,example)/a", "20250101000000",
                url="https://example.com/a", status="301",
                filename="w2.warc.gz", offset="0", length="1"),),
         (_line("com,example)/a", "20230101000000",
                url="https://example.com/a", status="200",
                filename="w0.warc.gz", offset="7", length="3"),)],
        "line string"))
    ok = latest_capture(df).collect()
    assert len(ok) == 1 and ok[0]["filename"] == "w1.warc.gz"


def test_fetch_plan_merges_ranges(spark, monkeypatch):
    caps = spark.createDataFrame(
        [("f1", 0, 100), ("f1", 150, 50),      # gap 50 <= 64: merge
         ("f1", 10, 20),                       # contained in [0,100)
         ("f1", 10000, 10), ("f2", 5, 5)],
        "filename string, offset long, length long")
    monkeypatch.setattr("ferenda_spark.sources.cdx.FETCH_MAX_GAP", 64)
    plan = {(r["filename"], r["range_start"]):
            (r["range_end"], r["n_records"])
            for r in fetch_plan(caps).collect()}
    assert plan == {("f1", 0): (200, 3),
                    ("f1", 10000): (10010, 1),
                    ("f2", 5): (10, 1)}
