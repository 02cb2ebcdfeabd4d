"""WARC source (sources/warc.py): writer/parser round trips, the
distributed read path, and poison-segment isolation."""

import gzip
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ferenda_spark.sources.testdata import load_table, pages_from_documents
from ferenda_spark.sources.warc import (
    build_warc,
    build_response_record,
    pages_from_warc,
    pages_roundtrip_warc,
    parse_warc,
    read_warc,
    warc_segments_from_pages,
)

SF = "/root/testdata/sf0.001"

RECS = [
    ("https://example.org/a", datetime(2024, 1, 2, 3, 4, 5),
     b"<html>A</html>"),
    ("https://example.org/b", datetime(2024, 1, 2, 3, 4, 6),
     b"<html>B</html>", "text/html; charset=utf-8", 200),
    ("https://example.org/gone", datetime(2024, 1, 2, 3, 4, 7),
     b"nope", "text/html", 404),
]


# ---------------------------------------------------------------------------
# plain-python writer/parser
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("gz", [False, True])
def test_build_parse_roundtrip(gz):
    # the concatenated gzip members decompress to the plain segment
    data = build_warc(RECS) if gz else gzip.decompress(build_warc(RECS))
    rows = list(parse_warc(data, source="seg"))
    assert [r["record_type"] for r in rows] == [
        "warcinfo", "response", "response", "response"]
    assert rows[1]["url"] == "https://example.org/a"
    assert rows[1]["body"] == b"<html>A</html>"
    assert rows[1]["warc_ts"] == datetime(2024, 1, 2, 3, 4, 5)
    assert rows[2]["http_content_type"] == "text/html; charset=utf-8"
    assert rows[3]["http_status"] == 404
    assert all(r["error"] is None for r in rows)


def test_build_is_deterministic():
    assert build_warc(RECS) == build_warc(RECS)


def test_body_containing_warc_marker_survives():
    """Content-Length framing, not delimiter scanning: a body that
    embeds CRLFCRLF + 'WARC/1.0' must come back intact."""
    tricky = [("https://example.org/t", datetime(2024, 1, 1),
               b"a\r\n\r\nWARC/1.0\r\nb")]
    rows = list(parse_warc(build_warc(tricky)))
    assert rows[1]["body"] == b"a\r\n\r\nWARC/1.0\r\nb"


def test_garbage_resync_and_truncation():
    good = gzip.decompress(build_warc(RECS[:1]))
    rows = list(parse_warc(b"GARBAGE\r\n" + good))
    assert rows[0]["error"] is not None
    assert rows[2]["url"] == "https://example.org/a"
    rows = list(parse_warc(good[:len(good) // 2]))
    assert any(r["error"] for r in rows)


def test_missing_content_length_is_error_row():
    import re
    rec = build_response_record("https://x", datetime(2024, 1, 1), b"hi")
    # drop the WARC-level Content-Length (the first one)
    broken = re.sub(rb"\r\nContent-Length: \d+", b"", rec, count=1)
    rows = list(parse_warc(broken))
    assert rows and rows[0]["error"] is not None


# ---------------------------------------------------------------------------
# distributed read path
# ---------------------------------------------------------------------------

def test_read_warc_directory(spark, tmp_path):
    (tmp_path / "seg-0.warc").write_bytes(build_warc(RECS[:1]))
    (tmp_path / "seg-1.warc.gz").write_bytes(
        build_warc(RECS[1:]))
    # poison member: parse errors become rows, not task failures
    (tmp_path / "seg-2.warc").write_bytes(b"NOT A WARC AT ALL")

    recs = read_warc(spark, str(tmp_path)).collect()
    by_type = {}
    for r in recs:
        by_type.setdefault(r.record_type, []).append(r)
    assert len(by_type["response"]) == 3
    assert len(by_type["warcinfo"]) == 2
    errs = [r for r in recs if r.error is not None]
    assert len(errs) == 1 and "seg-2" in errs[0].warc_file

    pages = pages_from_warc(read_warc(spark, str(tmp_path)))
    rows = {r.url: r for r in pages.collect()}
    # 404 filtered, 200s kept with bodies intact
    assert set(rows) == {"https://example.org/a", "https://example.org/b"}
    assert bytes(rows["https://example.org/a"].html) == b"<html>A</html>"


def test_pages_roundtrip_warc_identity(spark):
    """pages → WARC segments → parse = identity on (url, html bytes,
    second-truncated warc_ts), over the real synthetic corpus with >1
    partition (multiple independent segments)."""
    pages = pages_from_documents(
        load_table(spark, SF, "documents")).repartition(4)
    back = pages_roundtrip_warc(pages)

    orig = {r.url: r for r in
            pages.select("url", "warc_ts", "html").collect()}
    got = {r.url: r for r in back.collect()}
    assert set(got) == set(orig) and len(got) > 0
    for url, r in got.items():
        assert bytes(r.html) == bytes(orig[url].html)
        assert r.warc_ts == orig[url].warc_ts.replace(microsecond=0)


def test_segment_per_partition(spark):
    pages = pages_from_documents(
        load_table(spark, SF, "documents")).repartition(3)
    segs = warc_segments_from_pages(pages).collect()
    assert len(segs) == 3
    # every segment independently parseable and led by warcinfo
    first = list(parse_warc(bytes(segs[0].segment)))
    assert first[0]["record_type"] == "warcinfo"


def test_corrupt_gzip_yields_error_rows_not_exceptions():
    """A truncated or garbage .warc.gz must emit error rows — never
    raise (one corrupt segment in 80k must not kill a Spark task)."""
    good = build_warc(RECS)
    rows = list(parse_warc(good[: len(good) // 2], source="s"))
    assert rows and rows[-1]["error"] is not None
    # records from intact leading members still come through
    assert any(r["record_type"] == "warcinfo" for r in rows)
    rows = list(parse_warc(b"\x1f\x8bGARBAGE-NOT-GZIP"))
    assert len(rows) == 1 and rows[0]["error"] is not None


def test_gzip_memory_is_chunk_streamed():
    """The gzip path never materializes the whole decompressed
    segment: _iter_chunks yields bounded chunks (and walks
    concatenated members incrementally, no per-member tail copy)."""
    from ferenda_spark.sources.warc import _iter_chunks
    data = build_warc(RECS)
    chunks = list(_iter_chunks(data, chunk_size=32))
    assert all(len(c) <= 32 for c in chunks) and len(chunks) > 4
    assert b"".join(chunks) == gzip.decompress(data)


def test_fractional_second_warc_date():
    """WARC 1.1 fractional-second WARC-Date is spec-legal and must
    not silently become NULL."""
    rec = build_response_record("https://x", datetime(2024, 1, 1), b"b")
    rec = rec.replace(b"WARC-Date: 2024-01-01T00:00:00Z",
                      b"WARC-Date: 2024-01-01T00:00:00.123456Z")
    rows = list(parse_warc(rec))
    assert rows[0]["warc_ts"] == datetime(2024, 1, 1, 0, 0, 0, 123456)


def _response_with_http(http: bytes, url=b"https://x") -> bytes:
    headers = [b"WARC/1.0", b"WARC-Type: response",
               b"WARC-Record-ID: <urn:uuid:0>",
               b"WARC-Date: 2024-01-01T00:00:00Z",
               b"WARC-Target-URI: " + url,
               b"Content-Type: application/http; msgtype=response",
               ("Content-Length: %d" % len(http)).encode()]
    return b"\r\n".join(headers) + b"\r\n\r\n" + http + b"\r\n\r\n"


def test_chunked_transfer_encoding_decoded():
    body = b"4\r\n<htm\r\n7\r\nl>hi</h\r\n4\r\ntml>\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            + body)
    rows = list(parse_warc(_response_with_http(http)))
    assert rows[0]["error"] is None
    assert rows[0]["body"] == b"<html>hi</html>"


def test_content_encoding_gzip_decoded_and_unknown_is_error():
    import gzip as _gz
    payload = _gz.compress(b"<html>z</html>", mtime=0)
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
            + ("Content-Length: %d\r\n\r\n" % len(payload)).encode()
            + payload)
    rows = list(parse_warc(_response_with_http(http)))
    assert rows[0]["error"] is None
    assert rows[0]["body"] == b"<html>z</html>"
    # unknown encoding must flag, not pass bytes through as html
    http = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nXXXX"
    rows = list(parse_warc(_response_with_http(http)))
    assert rows[0]["error"] and "content-encoding" in rows[0]["error"]


def test_ingest_warc_tool_roundtrip_and_resume(spark, tmp_path):
    """tools/ingest_warc.py run(): archive → committed graph, poison
    isolated, second run a no-op, custom discovery regex threaded."""
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import ingest_warc

    pages = pages_from_documents(
        load_table(spark, SF, "documents")).repartition(2)
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    for i, r in enumerate(warc_segments_from_pages(pages).collect()):
        (warc_dir / f"seg-{i}.warc.gz").write_bytes(bytes(r.segment))
    (warc_dir / "seg-poison.warc.gz").write_bytes(b"\x1f\x8bJUNK")

    store_dir = str(tmp_path / "store")
    out = ingest_warc.run(spark, [str(warc_dir), store_dir,
                                  "--doc-url-regex",
                                  r"^https://example\.org/res/doc/\d+$"])
    assert out["warc_error_rows"] == 1
    assert out["parsed_pages"] == 500 and out["triples"] > 0
    out2 = ingest_warc.run(spark, [str(warc_dir), store_dir])
    assert out2["skipped"] is True and out2["parsed_pages"] == 500

    from ferenda_spark.operators.graph import GraphStore
    edges = GraphStore(spark, store_dir).read_current("edge")
    assert edges.count() == out["triples"]

    # a rerun with a CHANGED extraction config must reprocess (not
    # silently no-op) and retire the old-config subgraph
    out3 = ingest_warc.run(spark, [str(warc_dir), store_dir,
                                   "--doc-url-regex", r"^never-matches$"])
    assert out3.get("skipped") is not True and out3["pages"] == 500
    assert GraphStore(spark, store_dir).read_current("edge").count() == 0


def test_html_lang_col_cases(spark):
    from ferenda_spark.sources.warc import html_lang_col
    rows = [(b'<html lang="en"><body/>',),
            (b"<HTML class='x' lang='sv-SE'>",),
            (b'<html><body>no lang</body>',),
            (b'<html lang="en-US">',)]
    df = spark.createDataFrame(rows, "html binary")
    got = [r[0] for r in df.select(html_lang_col(F.col("html"))).collect()]
    assert got == ["en", "sv-SE", None, "en-US"]


def test_te_list_gzip_then_chunked_decoded():
    """'Transfer-Encoding: gzip, chunked' (legal HTTP/1.1): both
    layers must be undone, in reverse application order."""
    import gzip as _gz
    payload = _gz.compress(b"<html>tc</html>", mtime=0)
    chunked = (b"%x\r\n" % len(payload)) + payload + b"\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n\r\n"
            + chunked)
    rows = list(parse_warc(_response_with_http(http)))
    assert rows[0]["error"] is None
    assert rows[0]["body"] == b"<html>tc</html>"


def test_writer_rejects_header_injection_and_null_fields(spark):
    with pytest.raises(ValueError, match="CR/LF"):
        build_response_record("https://x/\r\nEvil: 1",
                              datetime(2024, 1, 1), b"b")
    from ferenda_spark.sources.warc import warc_segments_from_pages
    df = spark.createDataFrame(
        [("https://a", None, b"<html/>")],
        "url string, warc_ts timestamp, html binary")
    with pytest.raises(Exception, match="NULL url/warc_ts/html"):
        warc_segments_from_pages(df).collect()


# ----------------------------------------------------------- WET layer

def test_wet_roundtrip_and_record_shape(spark):
    from datetime import datetime
    from ferenda_spark.sources.warc import (build_conversion_record,
                                            docs_roundtrip_wet,
                                            parse_warc)
    rows = [("https://a.example/1", datetime(2024, 3, 1, 12, 0, 5),
             "först text with åäö"),
            ("https://a.example/2", datetime(2024, 3, 2, 0, 0, 0),
             "plain\nmultiline\ntext")]
    docs = spark.createDataFrame(rows,
                                 "url string, warc_ts timestamp, "
                                 "text string")
    back = {(r["url"], r["warc_ts"], r["text"])
            for r in docs_roundtrip_wet(docs).collect()}
    assert back == set(rows)
    # raw record shape: conversion type, text/plain, bare utf-8 body
    raw = build_conversion_record("https://a.example/1",
                                  datetime(2024, 3, 1, 12, 0, 5),
                                  "hej åäö")
    rec = [r for r in parse_warc(raw)][0]
    assert rec["record_type"] == "conversion"
    assert rec["error"] is None
    assert rec["http_content_type"] == "text/plain"
    assert bytes(rec["body"]).decode("utf-8") == "hej åäö"


def test_wet_export_refuses_nulls(spark):
    import pytest
    from ferenda_spark.sources.warc import wet_segments_from_docs
    docs = spark.createDataFrame(
        [("https://a.example/1", None, "t")],
        "url string, warc_ts timestamp, text string")
    with pytest.raises(Exception, match="wet export"):
        wet_segments_from_docs(docs).collect()


# ----------------------------------------------------------- WAT layer

def test_wat_envelope_and_link_extraction(spark):
    from datetime import datetime
    from ferenda_spark.sources.warc import (links_roundtrip_wat,
                                            parse_warc,
                                            wat_segments_from_pages)
    html = (b'<html><head><title> My Page </title></head><body>'
            b'<a href="https://x.example/a">a</a>'
            b"<a class='z' href='https://x.example/b'>b</a>"
            b'<a href="#frag">skipped</a>'
            b'<a name="no-href">skipped</a></body></html>')
    pages = spark.createDataFrame(
        [("https://x.example/", datetime(2024, 3, 1), bytearray(html))],
        "url string, warc_ts timestamp, html binary")
    got = {(r["src"], r["dst"])
           for r in links_roundtrip_wat(pages).collect()}
    assert got == {("https://x.example/", "https://x.example/a"),
                   ("https://x.example/", "https://x.example/b")}
    # the raw record: metadata type, json envelope, sorted keys, title
    blob = wat_segments_from_pages(pages).collect()[0]["segment"]
    recs = [r for r in parse_warc(bytes(blob))
            if r["record_type"] == "metadata"]
    assert len(recs) == 1
    import json
    env = json.loads(bytes(recs[0]["body"]).decode("utf-8"))
    assert env["title"] == "My Page"
    assert list(env) == sorted(env)


def test_wat_links_are_the_anchor_hrefs(spark):
    """WAT links are read by the markup tokenizer, as anchor_pairs
    reads hrefs: an unquoted href is kept and a charref is decoded;
    empty and fragment-only hrefs are still dropped."""
    from datetime import datetime

    from ferenda_spark.operators.anchors import parse_anchors
    from ferenda_spark.sources.warc import links_roundtrip_wat
    html = (b'<title>A &amp; B</title><a href=/x>x</a>'
            b'<a href="/a&amp;b">ab</a><a href="">e</a><a href=#f>f</a>')
    pages = spark.createDataFrame(
        [("https://x.example/", datetime(2024, 3, 1), bytearray(html))],
        "url string, warc_ts timestamp, html binary")
    got = sorted(r["dst"] for r in links_roundtrip_wat(pages).collect())
    assert got == ["/a&b", "/x"]
    assert got == sorted(h for h, _ in parse_anchors(html)
                         if h and not h.startswith("#"))
    from ferenda_spark.sources.warc import _title_and_links
    assert _title_and_links(html.decode()) == ("A & B", ["/x", "/a&b"])
