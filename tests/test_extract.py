"""Extract stage: byte-identical text per url (the BASELINE invariant)."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import gen_doc, pages_df, render_html, render_text
from ferenda_spark.operators.extract import EXTRACT_SCHEMA, extract, parse_page
from ferenda_spark.operators.graph import with_input_hash

N_DOCS = 120


def test_text_byte_identical_local():
    for n in range(1, 61):
        doc = gen_doc(n, 60)
        assert parse_page(render_html(doc))["text"] == render_text(doc)


def test_text_md5_parity_distributed(spark):
    pages = pages_df(spark, N_DOCS, partitions=4)
    ext = extract(pages)
    joined = (
        ext.select("url", F.md5(F.encode("text", "utf-8")).alias("got"))
        .join(pages.select(
            "url", F.md5(F.encode("text", "utf-8")).alias("want")), "url")
    )
    assert joined.count() == N_DOCS
    assert joined.filter(F.col("got") != F.col("want")).count() == 0


def test_extract_structure(spark):
    doc = gen_doc(3, 100)
    parsed = parse_page(render_html(doc))
    assert parsed["title"] == doc["title"]
    assert parsed["header"]["Request for Comments"] == "3"
    got_ords = [s["ordinal"] for s in parsed["sections"]]
    assert got_ords == [s["ordinal"] for s in doc["sections"]]
    # headings round-trip through noise + normalization
    assert [s["heading"] for s in parsed["sections"]] == \
        [s["heading"] for s in doc["sections"]]


def test_non_document_pages_flagged(spark):
    pages = pages_df(spark, N_DOCS, partitions=2)
    ext = extract(pages)
    n_nondoc = ext.filter(~F.col("is_doc")).count()
    assert 0 < n_nondoc < N_DOCS / 4
    # non-docs still honor the text invariant
    bad = (extract(pages).select("url", "text")
           .join(pages.select("url", F.col("text").alias("want")), "url")
           .filter(F.col("text") != F.col("want")))
    assert bad.count() == 0


def test_extract_passes_input_hash_through(spark):
    """An input_hash column rides through the parse as the last output
    column; without one the output is exactly EXTRACT_SCHEMA."""
    from pyspark.sql.types import _parse_datatype_string
    pages = pages_df(spark, 20, partitions=2)
    assert extract(pages).schema == _parse_datatype_string(EXTRACT_SCHEMA)

    hashed = with_input_hash(pages)
    ext = extract(hashed)
    assert ext.columns == extract(pages).columns + ["input_hash"]
    got = {tuple(r) for r in ext.select("url", "input_hash").collect()}
    want = {tuple(r) for r in hashed.select("url", "input_hash").collect()}
    assert len(got) == 20 and got == want


def test_publisher_resolver_cap_names_the_remedy(monkeypatch):
    """An entity set above the broadcast cap fails loudly, naming the
    cap and a smaller entity set as the remedy, not a linker that does
    not exist."""
    from ferenda_spark.operators import linker
    monkeypatch.setattr(linker, "_MAX_ENTITY_DIM", 1)
    with pytest.raises(ValueError) as err:
        linker.label_resolver([("IETF", "u:1"), ("IAB", "u:2")])
    msg = str(err.value)
    assert "_MAX_ENTITY_DIM" in msg and "smaller entity set" in msg
    assert "join-based" not in msg

def test_generator_partition_invariance(spark):
    a = pages_df(spark, 50, partitions=1).select("url", F.md5("html").alias("h"))
    b = pages_df(spark, 50, partitions=7).select("url", F.md5("html").alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_parser_malformed_realweb_shapes():
    """Parser robustness on shapes the synthetic fixture never emits
    but the open web does — each was a real bug:"""
    # 1. an end tag inside a DROP_TAGS subtree must not pop the
    #    section stack (only script/style content is raw text; the
    #    children of center/font are markup the tokenizer reads)
    p = parse_page(
        b'<html><body><div about="#S1"><p>1. Sec</p>'
        b'<center><div><p>ad</p></div></center>'
        b'<p>More text.</p></div></body></html>')
    assert p["sections"][0]["text"].endswith("More text.")
    assert "ad" not in p["text"]
    # 2. a nested plain div inside the header div must not clear
    #    header classification for the following lines
    p = parse_page(
        b'<html><body><div class="header"><div><p>Pub X</p></div>'
        b'<p>Obsoletes: 99</p></div><p>T</p></body></html>')
    assert p["header"].get("Obsoletes") == "99"
    assert p["title"] == "T"
    # 3. nested blocks (li > p) keep every chunk, in reading order
    p = parse_page(b"<html><body><ul><li>intro text <p>body</p>"
                   b" trailing</li></ul></body></html>")
    assert p["text"] == "intro text body trailing"
    # 4. the <body> tag is optional: content still extracts
    p = parse_page(b"<html><p>Request for Comments: 9</p>"
                   b"<p>visible</p></html>")
    assert "visible" in p["text"]
    # 5. <head> content (title tag etc.) never leaks into text
    p = parse_page(b"<html><head><title>head noise</title></head>"
                   b"<body><p>real</p></body></html>")
    assert p["text"] == "real"
