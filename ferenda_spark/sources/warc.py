"""WARC (Web ARChive, ISO 28500) source — the Common-Crawl container.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages"; upstream of that table sits the crawl itself, which arrives
as WARC segments (one ~1 GB file per crawler shard, each a
concatenation of gzip members, one member per record).  The reference
fetches one document per basefile over HTTP
(/root/reference/ferenda/documentrepository.py ``download_single``);
the web-scale restatement ingests whole WARC segments in one
distributed ``binaryFile`` scan and parses them record-by-record into
exactly the pages shape the rest of the pipeline consumes —
``(url, warc_ts, html, ...)``.

Format knowledge used here is public: ISO 28500 / the IIPC
warc-specifications (record = version line + named headers + CRLFCRLF
+ ``Content-Length`` payload bytes + CRLFCRLF; ``response`` records
carry a full HTTP/1.1 message as payload; ``.warc.gz`` files are
multi-member gzip streams).  Parsing is stdlib-only.

Scale notes:
  * One input row per WARC segment (the ``binaryFile`` row), one
    Arrow batch per task — a segment is parsed start-to-finish by one
    task, which is exactly how Common Crawl jobs shard (segments are
    the parallelism unit; ~80k segments per monthly crawl).
  * Per-record error capture: a malformed record yields an ``error``
    row, never a task failure — one corrupt segment in 80k must not
    kill the job.
  * Non-``response`` records (warcinfo/request/metadata/revisit) are
    surfaced with their type so callers can filter cheaply
    (``pages_from_warc`` keeps only HTTP-200 responses); the payload
    bytes of skipped records are never copied into the output batch.
"""

from __future__ import annotations

import gzip
import hashlib
import io
from datetime import datetime
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.functions.markup import DATA, END, START, attrs, events

CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

#: output schema of ``parse_warc`` / ``read_warc`` (one row per record)
WARC_RECORD_SCHEMA = (
    "warc_file string, rec_offset long, record_type string, "
    "url string, warc_ts timestamp, http_status int, "
    "http_content_type string, body binary, error string"
)


# ---------------------------------------------------------------------------
# writer (deterministic — used by tests, the roundtrip gate, and as the
# pages→WARC export sink)
# ---------------------------------------------------------------------------

def _record_id(url: str, ts: str) -> str:
    """Deterministic WARC-Record-ID (urn:uuid shape, md5-derived) —
    no RNG so rebuilt archives are byte-identical."""
    h = hashlib.md5((url + "|" + ts).encode("utf-8")).hexdigest()
    return ("<urn:uuid:%s-%s-%s-%s-%s>"
            % (h[:8], h[8:12], h[12:16], h[16:20], h[20:32]))


def format_warc_ts(ts) -> str:
    """datetime → WARC-Date (ISO 8601 Zulu, second precision).
    Naive datetimes are taken as UTC (the Spark session convention)."""
    if isinstance(ts, str):
        return ts
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _header_safe(value: str, what: str) -> str:
    """Reject CR/LF in a header value LOUDLY: spliced verbatim it
    would inject headers and desynchronize the whole segment's
    framing (crawled urls do contain such garbage — filter upstream)."""
    if "\r" in value or "\n" in value:
        raise ValueError("%s contains CR/LF: %r" % (what, value[:80]))
    return value


def build_response_record(url: str, ts, body: bytes,
                          content_type: str = "text/html",
                          status: int = 200) -> bytes:
    """One WARC ``response`` record wrapping an HTTP/1.1 message."""
    url = _header_safe(url, "url")
    content_type = _header_safe(content_type, "content_type")
    ts_s = format_warc_ts(ts)
    status_text = {200: "OK", 404: "Not Found", 301: "Moved Permanently",
                   500: "Internal Server Error"}.get(status, "Status")
    http = (("HTTP/1.1 %d %s\r\n" % (status, status_text)).encode()
            + b"Content-Type: " + content_type.encode() + CRLF
            + ("Content-Length: %d\r\n" % len(body)).encode()
            + CRLF + body)
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Record-ID: " + _record_id(url, ts_s).encode(),
        b"WARC-Date: " + ts_s.encode(),
        b"WARC-Target-URI: " + url.encode(),
        b"Content-Type: application/http; msgtype=response",
        ("Content-Length: %d" % len(http)).encode(),
    ]
    return CRLF.join(headers) + CRLF + CRLF + http + CRLF + CRLF


def build_warcinfo_record(filename: str = "segment.warc") -> bytes:
    """The leading ``warcinfo`` record real crawl segments start with."""
    info = b"software: ferenda-spark\r\nformat: WARC File Format 1.0\r\n"
    headers = [
        b"WARC/1.0",
        b"WARC-Type: warcinfo",
        b"WARC-Record-ID: " + _record_id("warcinfo:" + filename, "").encode(),
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"WARC-Filename: " + filename.encode(),
        b"Content-Type: application/warc-fields",
        ("Content-Length: %d" % len(info)).encode(),
    ]
    return CRLF.join(headers) + CRLF + CRLF + info + CRLF + CRLF


def build_warc(records: Iterable[tuple]) -> bytes:
    """(url, ts, body[, content_type[, status]]) tuples → one WARC
    segment in the ``.warc.gz`` convention: each record its own gzip
    member (mtime pinned to 0 for determinism)."""
    out = io.BytesIO()

    def emit(raw: bytes):
        out.write(gzip.compress(raw, mtime=0))

    emit(build_warcinfo_record())
    for rec in records:
        url, ts, body = rec[0], rec[1], rec[2]
        ctype = rec[3] if len(rec) > 3 else "text/html"
        status = rec[4] if len(rec) > 4 else 200
        emit(build_response_record(url, ts, bytes(body), ctype, status))
    return out.getvalue()


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def _parse_headers(block: bytes) -> dict:
    """Header block (after the version line) → {lower-name: value}."""
    headers = {}
    for line in block.split(CRLF):
        if not line:
            continue
        name, sep, value = line.partition(b":")
        if sep:
            headers[name.strip().lower().decode("latin-1")] = (
                value.strip().decode("utf-8", errors="replace"))
    return headers


def _dechunk(body: bytes) -> bytes:
    """Decode a Transfer-Encoding: chunked HTTP body. Raises
    ValueError on malformed framing."""
    out, pos = [], 0
    while True:
        nl = body.find(CRLF, pos)
        if nl == -1:
            raise ValueError("chunked body missing size line")
        size_field = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_field, 16)
        except ValueError:
            raise ValueError("malformed chunk size %r" % size_field[:16])
        pos = nl + 2
        if size == 0:
            return b"".join(out)
        chunk = body[pos:pos + size]
        if len(chunk) < size:
            raise ValueError("truncated chunk")
        out.append(chunk)
        pos += size + 2  # skip trailing CRLF


def _decode_coding(body: bytes, coding: str, kind: str) -> bytes:
    """Undo one content/transfer coding layer. Raises ValueError on
    codings we can't decode — passing compressed bytes through as
    'html' would corrupt every consumer."""
    if coding in ("identity", ""):
        return body
    if coding == "chunked":
        return _dechunk(body)
    if coding in ("gzip", "x-gzip"):
        try:
            return gzip.decompress(body)
        except OSError as exc:
            raise ValueError("%s gzip: %s" % (kind, exc))
    if coding == "deflate":
        import zlib
        try:
            return zlib.decompress(body)
        except zlib.error:
            try:
                return zlib.decompress(body, -zlib.MAX_WBITS)
            except zlib.error as exc:
                raise ValueError("%s deflate: %s" % (kind, exc))
    raise ValueError("unsupported %s %r" % (kind, coding))


def _parse_http_payload(payload: bytes):
    """HTTP/1.1 message → (status, content_type, body). Raises
    ValueError on a payload that is not an HTTP response, or whose
    body encoding can't be decoded.  Codings are LISTS ('gzip,
    chunked' is legal HTTP/1.1) and are undone in reverse application
    order; any layer we can't decode raises — never a silent
    pass-through."""
    head, sep, body = payload.partition(CRLF + CRLF)
    if not sep:
        raise ValueError("http payload missing header terminator")
    lines = head.split(CRLF)
    status_line = lines[0]
    if not status_line.startswith(b"HTTP/"):
        raise ValueError("payload does not start with HTTP status line")
    parts = status_line.split(b" ", 2)
    if len(parts) < 2 or not parts[1].isdigit():
        raise ValueError("malformed HTTP status line")
    status = int(parts[1])
    http_headers = _parse_headers(CRLF.join(lines[1:]))
    te = http_headers.get("transfer-encoding", "").lower()
    for coding in reversed([c.strip() for c in te.split(",") if c.strip()]):
        body = _decode_coding(body, coding, "transfer-encoding")
    ce = http_headers.get("content-encoding", "").lower()
    for coding in reversed([c.strip() for c in ce.split(",") if c.strip()]):
        body = _decode_coding(body, coding, "content-encoding")
    return status, http_headers.get("content-type"), body


#: decompressed bytes handed to the record parser per read — bounds
#: parser-buffer growth to ~(one record + this)
_GZIP_CHUNK = 1 << 20


def _iter_chunks(data: bytes,
                 chunk_size: int = _GZIP_CHUNK) -> Iterator[bytes]:
    """Segment bytes → decompressed chunks.  Plain data yields itself
    once; gzip yields BOUNDED chunks via ``gzip.GzipFile`` (which
    walks concatenated members natively and incrementally — no
    per-member copy of the remaining compressed tail, no
    whole-segment materialization).  Raises ValueError on
    corrupt/truncated gzip."""
    if data[:2] != _GZIP_MAGIC:
        yield data
        return
    import zlib
    f = gzip.GzipFile(fileobj=io.BytesIO(data))
    while True:
        try:
            # read1, not read: on a mid-stream truncation, read()
            # would discard the intact leading members it had already
            # decompressed while filling the chunk; read1 hands them
            # over first and raises on the NEXT call
            chunk = f.read1(chunk_size)
        except (OSError, EOFError, zlib.error) as exc:
            raise ValueError("corrupt gzip: %s" % exc)
        if not chunk:
            return
        yield chunk


def parse_warc(data: bytes, source: str = "") -> Iterator[dict]:
    """One WARC segment (plain or multi-member gzip) → record dicts
    matching WARC_RECORD_SCHEMA.  Incremental single pass over the
    member stream (memory ≈ compressed blob + one record, not the
    decompressed segment); EVERY malformed input — garbage bytes,
    missing Content-Length, truncation, corrupt gzip — emits an
    ``error`` row and resynchronizes at the next ``WARC/`` marker;
    nothing raises out of this generator (a corrupt segment must
    never kill a Spark task)."""
    buf = bytearray()
    consumed_total = 0  # absolute decompressed offset of buf[0]

    def drain(eof: bool) -> list:
        nonlocal buf, consumed_total
        rows = []
        pos, n = 0, len(buf)
        while pos < n:
            while pos + 1 < n and buf[pos:pos + 2] == CRLF:
                pos += 2  # inter-record padding
            if pos >= n:
                break
            if n - pos < 5 and not eof:
                break  # partial 'WARC/' marker may complete later
            rec_offset = consumed_total + pos
            if not buf.startswith(b"WARC/", pos):
                nxt = buf.find(b"\r\nWARC/", pos)
                if nxt == -1 and not eof:
                    break  # resync point may arrive with more data
                rows.append(_err_row(source, rec_offset,
                                     "expected WARC/ version marker"))
                if nxt == -1:
                    pos = n
                    break
                pos = nxt + 2
                continue
            head_end = buf.find(CRLF + CRLF, pos)
            if head_end == -1:
                if eof:
                    rows.append(_err_row(source, rec_offset,
                                         "truncated header block"))
                    pos = n
                break
            version_end = buf.find(CRLF, pos)
            headers = _parse_headers(bytes(buf[version_end + 2:head_end]))
            try:
                length = int(headers["content-length"])
            except (KeyError, ValueError):
                nxt = buf.find(b"\r\nWARC/", head_end)
                if nxt == -1 and not eof:
                    break
                rows.append(_err_row(source, rec_offset,
                                     "missing Content-Length"))
                if nxt == -1:
                    pos = n
                    break
                pos = nxt + 2
                continue
            end = head_end + 4 + length
            if end > n:
                if eof:
                    rows.append(_err_row(source, rec_offset,
                                         "truncated payload"))
                    pos = n
                break
            payload = bytes(buf[head_end + 4:end])
            pos = end
            rec_type = headers.get("warc-type", "")
            row = {
                "warc_file": source, "rec_offset": rec_offset,
                "record_type": rec_type,
                "url": headers.get("warc-target-uri"),
                "warc_ts": _parse_warc_date(headers.get("warc-date")),
                "http_status": None, "http_content_type": None,
                "body": None, "error": None,
            }
            if rec_type == "response":
                try:
                    status, ctype, body = _parse_http_payload(payload)
                    row.update(http_status=status,
                               http_content_type=ctype, body=body)
                except ValueError as exc:
                    row["error"] = "http: %s" % exc
            elif rec_type in ("conversion", "metadata"):
                # WET conversion / WAT metadata records carry their
                # payload bare (no HTTP message) — keep it verbatim
                row.update(
                    http_content_type=headers.get("content-type"),
                    body=payload)
            # other non-response payload bytes intentionally not
            # copied out
            rows.append(row)
        if pos:
            del buf[:pos]
            consumed_total += pos
        return rows

    chunks = _iter_chunks(data)
    while True:
        try:
            chunk = next(chunks)
        except StopIteration:
            break
        except ValueError as exc:
            # corrupt gzip mid-stream: flush what parsed, one error
            # row, stop — never raise out of the generator
            yield from drain(eof=True)
            yield _err_row(source, consumed_total + len(buf),
                           "gzip: %s" % exc)
            return
        buf += chunk
        yield from drain(eof=False)
    yield from drain(eof=True)


def _parse_warc_date(value):
    """WARC-Date → datetime: second precision plus the WARC 1.1
    fractional-second form (both spec-legal)."""
    if not value:
        return None
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(value, fmt)
        except ValueError:
            continue
    return None


def _err_row(source: str, offset: int, msg: str) -> dict:
    return {"warc_file": source, "rec_offset": offset,
            "record_type": None, "url": None, "warc_ts": None,
            "http_status": None, "http_content_type": None,
            "body": None, "error": msg}


# ---------------------------------------------------------------------------
# DataFrame surface
# ---------------------------------------------------------------------------

#: canonical column order of WARC_RECORD_SCHEMA (single source for
#: every records→pandas conversion)
_RECORD_COLUMNS = ["warc_file", "rec_offset", "record_type", "url",
                   "warc_ts", "http_status", "http_content_type",
                   "body", "error"]


def _records_pdf(rows: list):
    import pandas as pd
    return pd.DataFrame(rows, columns=_RECORD_COLUMNS)


#: flush thresholds for the emitted record batches — bound peak task
#: memory to ~one batch, never the whole decompressed segment
_BATCH_ROWS = 2000
_BATCH_BYTES = 64 << 20


def _batched_pdfs(row_iter):
    """Record-dict iterator → bounded pandas batches (so a 5 GB
    decompressed segment never sits in one Python list + one
    DataFrame + one Arrow batch simultaneously)."""
    rows, nbytes = [], 0
    for row in row_iter:
        rows.append(row)
        nbytes += len(row["body"] or b"")
        if len(rows) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
            yield _records_pdf(rows)
            rows, nbytes = [], 0
    if rows:
        yield _records_pdf(rows)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Directory of WARC segments → one row per WARC record.

    One distributed ``binaryFile`` scan (a segment per row/task — the
    Common Crawl parallelism unit), one Arrow pass to parse.
    ``binaryFile`` never splits a file, so the compressed segment
    (~1 GB) is resident per task; the streaming parser then holds one
    decompressed record plus one bounded output batch at a time, NOT
    the whole ~5 GB decompressed segment."""
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.warc*")
           .option("recursiveFileLookup", "true")
           .load(path)
           .select("path", "content"))

    def parse_batches(batches):
        def rows():
            for pdf in batches:
                for src, content in zip(pdf["path"], pdf["content"]):
                    yield from parse_warc(bytes(content), source=src)
        yield from _batched_pdfs(rows())

    return raw.mapInPandas(parse_batches, schema=WARC_RECORD_SCHEMA)


def pages_from_warc(records: DataFrame) -> DataFrame:
    """WARC record rows → the pipeline's pages shape
    ``(url, warc_ts, html)``: HTTP-200
    ``response`` records only, one row per fetch."""
    return (records
            .filter((F.col("record_type") == "response")
                    & (F.col("http_status") == 200)
                    & F.col("error").isNull()
                    & F.col("url").isNotNull())
            .select("url", "warc_ts", F.col("body").alias("html")))


def warc_segments_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html) → one WARC segment blob per input
    partition (the export sink / roundtrip path).  Each task
    serializes its partition independently — no shuffle; segment
    count = partition count, exactly how crawl archives shard."""
    import pandas as pd

    src = pages.select("url", "warc_ts", "html")

    def to_segments(batches):
        import pandas as _pd
        recs = []
        for pdf in batches:
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"],
                                     pdf["html"]):
                # loud, named failure: an export sink silently
                # dropping rows (or dying on NaT.strftime deep in
                # pandas) loses data without a trace — archives from
                # third-party sources legitimately carry NULL fields
                if url is None or html is None or ts is None or (
                        isinstance(ts, float) or _pd.isna(ts)):
                    raise ValueError(
                        "warc export: NULL url/warc_ts/html for "
                        "url=%r — filter or repair upstream" % (url,))
                recs.append((url, ts, bytes(html)))
        if recs:
            yield pd.DataFrame(
                {"segment": [build_warc(recs)]})

    return src.mapInPandas(to_segments, schema="segment binary")


def pages_roundtrip_warc(pages: DataFrame) -> DataFrame:
    """pages → WARC segments → parsed back to pages.  The
    self-validating path the roundtrip gate runs: output equals input
    (url, warc_ts second-truncated, html) iff writer and parser agree
    byte-for-byte."""
    segs = warc_segments_from_pages(pages)

    def parse_segments(batches):
        def rows():
            for pdf in batches:
                for seg in pdf["segment"]:
                    yield from parse_warc(bytes(seg), source="")
        yield from _batched_pdfs(rows())

    records = segs.mapInPandas(parse_segments, schema=WARC_RECORD_SCHEMA)
    return pages_from_warc(records)


def html_lang_col(html) -> "F.Column":
    """Recover the document language from the fetched bytes (the
    ``<html lang=...>`` attribute) — the lang column a WARC archive
    doesn't carry.  NULL, never empty string, when absent: an
    ``obj_lang=""`` triple is different bytes from the canonical
    pipeline's NULL.  Handles extra attributes, either quote style,
    and region subtags; scan-side codegen."""
    raw = F.regexp_extract(
        F.decode(html, "UTF-8"),
        r"""(?i)<html[^>]*\blang=["']([A-Za-z]{1,8}(?:-[A-Za-z0-9]{1,8})*)""",
        1)
    return F.nullif(raw, F.lit(""))


# ---------------------------------------------------------------------------
# WET (extracted-text conversion records — the Common Crawl WET layer)
# ---------------------------------------------------------------------------

def build_conversion_record(url: str, ts, text: str) -> bytes:
    """One WARC ``conversion`` record (the WET convention: extracted
    plain text of a page as ``Content-Type: text/plain``, bare body,
    no HTTP message)."""
    url = _header_safe(url, "url")
    ts_s = format_warc_ts(ts)
    body = text.encode("utf-8")
    headers = [
        b"WARC/1.0",
        b"WARC-Type: conversion",
        b"WARC-Record-ID: " + _record_id("conv:" + url, ts_s).encode(),
        b"WARC-Date: " + ts_s.encode(),
        b"WARC-Target-URI: " + url.encode(),
    ]
    headers += [
        b"Content-Type: text/plain",
        ("Content-Length: %d" % len(body)).encode(),
    ]
    return CRLF.join(headers) + CRLF + CRLF + body + CRLF + CRLF


def wet_segments_from_docs(docs: DataFrame) -> DataFrame:
    """docs(url, warc_ts, text) → one WET segment blob per input
    partition: warcinfo + a ``conversion`` record per document — the
    extracted-text distribution layer (Common Crawl's .wet.gz files)
    that lets a text-only consumer skip the raw-HTML archive
    entirely.  Same shape as :func:`warc_segments_from_pages`: each
    task serializes its partition, no shuffle, loud NULL refusal."""
    import pandas as pd

    src = docs.select("url", "warc_ts", "text")

    def to_segments(batches):
        import pandas as _pd
        out = io.BytesIO()
        wrote = False

        def emit(raw: bytes):
            out.write(gzip.compress(raw, mtime=0))

        for pdf in batches:
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"],
                                     pdf["text"]):
                if url is None or text is None or ts is None or (
                        isinstance(ts, float) or _pd.isna(ts)):
                    raise ValueError(
                        "wet export: NULL url/warc_ts/text for "
                        "url=%r — filter or repair upstream" % (url,))
                if not wrote:
                    emit(build_warcinfo_record("segment.warc.wet"))
                    wrote = True
                emit(build_conversion_record(url, ts, str(text)))
        if wrote:
            yield pd.DataFrame({"segment": [out.getvalue()]})

    return src.mapInPandas(to_segments, schema="segment binary")


def docs_from_wet(records: DataFrame) -> DataFrame:
    """Parsed WARC record rows → (url, warc_ts, text): the
    ``conversion`` records decoded back to text (UTF-8, the WET
    contract), error rows and non-conversion records dropped."""
    return (records
            .filter((F.col("record_type") == "conversion")
                    & F.col("error").isNull()
                    & F.col("url").isNotNull()
                    & F.col("body").isNotNull())
            .select("url", "warc_ts",
                    F.decode(F.col("body"), "UTF-8").alias("text")))


def docs_roundtrip_wet(docs: DataFrame) -> DataFrame:
    """docs → WET segments → parsed back to docs: the self-validating
    roundtrip (equality iff writer and parser agree byte-for-byte,
    second-truncated warc_ts)."""
    segs = wet_segments_from_docs(docs)

    def parse_batches(batches):
        def rows():
            for pdf in batches:
                for blob in pdf["segment"]:
                    yield from parse_warc(bytes(blob), source="roundtrip")
        yield from _batched_pdfs(rows())

    recs = segs.mapInPandas(parse_batches, schema=WARC_RECORD_SCHEMA)
    return docs_from_wet(recs)


# ---------------------------------------------------------------------------
# WAT (metadata records — the Common Crawl WAT layer)
# ---------------------------------------------------------------------------

def build_metadata_record(url: str, ts, meta_json: str) -> bytes:
    """One WARC ``metadata`` record (the WAT convention: a JSON
    envelope describing a captured page — fetch headers, outlinks,
    title — as ``Content-Type: application/json``)."""
    url = _header_safe(url, "url")
    ts_s = format_warc_ts(ts)
    body = meta_json.encode("utf-8")
    headers = [
        b"WARC/1.0",
        b"WARC-Type: metadata",
        b"WARC-Record-ID: " + _record_id("meta:" + url, ts_s).encode(),
        b"WARC-Date: " + ts_s.encode(),
        b"WARC-Target-URI: " + url.encode(),
    ]
    headers += [
        b"Content-Type: application/json",
        ("Content-Length: %d" % len(body)).encode(),
    ]
    return CRLF.join(headers) + CRLF + CRLF + body + CRLF + CRLF


def _title_and_links(html: str) -> tuple[str | None, list[str]]:
    """The WAT envelope's ``title`` and ``links`` of one page, from one
    loop over the markup tokenizer's events: the stripped text of the
    first ``<title>`` element (None without one), and the ``href`` of
    every ``<a>`` start tag, unescaped as ``anchors.parse_anchors``
    reads it, except empty and fragment-only ones."""
    title: list[str] | None = None
    in_title = False
    links: list[str] = []
    for kind, value, m in events(html):
        if kind == DATA:
            if in_title:
                title.append(value)
        elif value == "title" and title is None and kind == START:
            title, in_title = [], True
        elif value == "title" and in_title and kind & END:
            in_title = False
        elif value == "a" and kind & START:
            href = attrs(m).get("href")
            if href and not href.startswith("#"):
                links.append(href)
    return (None if title is None else "".join(title).strip()), links


def wat_segments_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html) → one WAT segment blob per
    partition: a ``metadata`` record per page whose JSON envelope
    carries the fields a link-graph consumer needs — ``url``, ``ts``,
    ``title`` and the href ``links`` — so webgraph construction
    (host_graph, pagerank, anchors) runs off the ~20×-smaller WAT
    layer without touching raw HTML. ``title`` and ``links`` come from
    the markup tokenizer (:func:`_title_and_links`), so a WAT link is
    the href ``anchors.anchor_pairs`` reads from the same html, quoted
    or not, with its charrefs decoded. JSON is serialized with sorted
    keys so rebuilt archives are byte-identical."""
    import json as _json

    import pandas as pd

    src = pages.select("url", "warc_ts", "html")

    def to_segments(batches):
        import pandas as _pd
        out = io.BytesIO()
        wrote = False

        def emit(raw: bytes):
            out.write(gzip.compress(raw, mtime=0))

        for pdf in batches:
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"],
                                     pdf["html"]):
                if url is None or html is None or ts is None or (
                        isinstance(ts, float) or _pd.isna(ts)):
                    raise ValueError(
                        "wat export: NULL url/warc_ts/html for "
                        "url=%r — filter or repair upstream" % (url,))
                if not wrote:
                    emit(build_warcinfo_record("segment.warc.wat"))
                    wrote = True
                title, links = _title_and_links(
                    bytes(html).decode("utf-8", "replace"))
                env = _json.dumps(
                    {"url": url, "ts": format_warc_ts(ts),
                     "title": title, "links": links},
                    sort_keys=True, ensure_ascii=False)
                emit(build_metadata_record(url, ts, env))
        if wrote:
            yield pd.DataFrame({"segment": [out.getvalue()]})

    return src.mapInPandas(to_segments, schema="segment binary")


def links_from_wat(records: DataFrame) -> DataFrame:
    """Parsed WARC record rows → (src, dst) link edges from WAT
    ``metadata`` envelopes — the webgraph input read off the WAT
    layer.  JSON parsing is JVM-side (``from_json`` over the decoded
    body); malformed envelopes yield no rows rather than task
    failures (from_json's NULL contract)."""
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)
    schema = StructType([StructField("url", StringType()),
                         StructField("links", ArrayType(StringType()))])
    env = (records
           .filter((F.col("record_type") == "metadata")
                   & F.col("error").isNull()
                   & F.col("body").isNotNull())
           .select(F.from_json(F.decode(F.col("body"), "UTF-8"),
                               schema).alias("e"))
           .filter(F.col("e.url").isNotNull()))
    return (env.select(F.col("e.url").alias("src"),
                       F.explode("e.links").alias("dst")))


def links_roundtrip_wat(pages: DataFrame) -> DataFrame:
    """pages → WAT segments → parsed back → link edges: the
    self-validating WAT path (writer, parser and JSON envelope agree
    iff the edges match the html's hrefs)."""
    segs = wat_segments_from_pages(pages)

    def parse_batches(batches):
        def rows():
            for pdf in batches:
                for blob in pdf["segment"]:
                    yield from parse_warc(bytes(blob), source="wat")
        yield from _batched_pdfs(rows())

    recs = segs.mapInPandas(parse_batches, schema=WARC_RECORD_SCHEMA)
    return links_from_wat(recs)
