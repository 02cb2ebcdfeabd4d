"""N-Triples writer/reader round trips (escapes, langtags,
datatypes, blank nodes, error rows)."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.sources import rdf_serial as rs

TRIPLE_DDL = ("subj string, pred string, obj string, "
              "obj_is_literal boolean, obj_lang string, "
              "obj_datatype string")

PFX = {"d": "http://ex.org/doc/", "p": "http://ex.org/prop/",
       "xsd": "http://www.w3.org/2001/XMLSchema#"}

ROWS = [
    ("d:1", "p:cites", "d:2", False, None, None),
    ("d:1", "p:title", 'He said "hi"\nline2\tand \\ done',
     True, "en", None),
    ("d:2", "p:size", "42", True, None, "xsd:integer"),
    ("d:2", "p:note", "plain words", True, None, None),
    ("_:b0", "p:cites", "d:1", False, None, None),
    ("d:3", "p:ref", "dcterms: looks like a curie", True, None, None),
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(ROWS, TRIPLE_DDL)


def test_ntriples_roundtrip_exact(spark, triples):
    lines = rs.format_ntriples(triples, prefixes=PFX)
    back = rs.parse_ntriples(lines, prefixes=PFX)
    assert back.filter(F.col("error").isNotNull()).count() == 0
    got = {tuple(r)[:-1] for r in back.collect()}
    assert got == {tuple(r) for r in ROWS}


def test_ntriples_lines_shape(spark, triples):
    lines = [r["line"] for r in
             rs.format_ntriples(triples, PFX).collect()]
    assert all(ln.endswith(" .") for ln in lines)
    title = [ln for ln in lines if "title" in ln][0]
    # escapes on the wire, real newline/tab never raw
    assert "\\n" in title and "\\t" in title and '\\"' in title
    assert "\n" not in title and "\t" not in title
    assert title.endswith('"@en .')
    size = [ln for ln in lines if "size" in ln][0]
    assert size.rstrip(" .").endswith(
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer>')
    blank = [ln for ln in lines if ln.startswith("_:")][0]
    assert blank.startswith("_:b0 <")


def test_ntriples_parser_errors_and_comments(spark):
    lines = spark.createDataFrame(
        [("# a comment",), ("",), ("   ",),
         ('<http://a> <http://p> "ok" .',),
         ("<http://a> <http://p> missing-brackets .",),
         ('<http://a> <http://p> "bad \\u0041 escape" .',)],
        "line string")
    out = rs.parse_ntriples(lines).collect()
    assert len(out) == 3  # comments/blanks dropped
    errs = [r for r in out if r["error"] is not None]
    assert len(errs) == 2
    assert any("unparseable" in r["error"] for r in errs)
    assert any("unsupported escape" in r["error"] for r in errs)
    ok = [r for r in out if r["error"] is None][0]
    assert (ok["subj"], ok["obj"]) == ("http://a", "ok")


def test_ntriples_file_roundtrip_gzip(spark, triples, tmp_path):
    path = str(tmp_path / "dump")
    rs.write_ntriples(triples, path, prefixes=PFX, compression="gzip")
    import glob
    assert glob.glob(path + "/*.gz")
    back = rs.read_ntriples(spark, path, prefixes=PFX)
    assert {tuple(r)[:-1] for r in back.collect()} == \
        {tuple(r) for r in ROWS}


def test_heuristic_literal_detection(spark):
    df = spark.createDataFrame(
        [("http://a", "http://p", "http://b"),
         ("http://a", "http://p", "two words")],
        "subj string, pred string, obj string")
    lines = sorted(r["line"] for r in rs.format_ntriples(df).collect())
    assert lines[0].endswith('"two words" .')
    assert lines[1].endswith("<http://b> .")


def test_expand_contract_inverse(spark):
    df = spark.createDataFrame(
        [("d:9",), ("p:x",), ("http://other/iri",), ("no-prefix",)],
        "v string")
    r = df.select(
        rs.contract_iris(rs.expand_curies(F.col("v"), PFX), PFX)
        .alias("v")).collect()
    assert [x["v"] for x in r] == ["d:9", "p:x", "http://other/iri",
                                   "no-prefix"]


def test_contract_longest_namespace_wins(spark):
    """A namespace that prefixes another (a --base-iri above dcterms)
    must not swallow the sub-namespace's terms."""
    pfx = {"a": "http://x/", "ab": "http://x/y/"}
    r = spark.createDataFrame([("http://x/y/z",), ("http://x/w",)],
                              "v string").select(
        rs.contract_iris(F.col("v"), pfx).alias("v")).collect()
    assert [x["v"] for x in r] == ["ab:z", "a:w"]


def test_heuristic_keeps_blank_node_objects(spark):
    df = spark.createDataFrame(
        [("_:s1", "http://p", "_:b0")],
        "subj string, pred string, obj string")
    [line] = [r["line"] for r in rs.format_ntriples(df).collect()]
    assert line == "_:s1 <http://p> _:b0 ."


def test_bnode_label_roundtrip(spark):
    """Labels with underscores, hyphens, interior dots and leading
    digits are legal BLANK_NODE_LABELs — the writer passes them
    through, so the parser must accept them back."""
    rows = [("_:doc_1", "http://p", "_:b-2"),
            ("_:0x", "http://p", "_:a.b")]
    df = spark.createDataFrame(rows,
                               "subj string, pred string, obj string")
    back = rs.parse_ntriples(rs.format_ntriples(df))
    assert back.filter(F.col("error").isNotNull()).count() == 0
    assert {(r["subj"], r["obj"]) for r in back.collect()} == \
        {("_:doc_1", "_:b-2"), ("_:0x", "_:a.b")}


def test_load_tool_empty_dump_and_partition_spec(spark, tmp_path):
    """tools/load_ntriples: an empty dump is a clear operational
    error (not a fake parse-failure), and --partition-by lays the
    loaded snapshot out for predicate pruning."""
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.load_ntriples import run as load_run
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "part-0.txt").write_text("# only a comment\n\n")
    with pytest.raises(SystemExit, match="no triple lines"):
        load_run(spark, [str(empty), str(tmp_path / "s1")])
    dump = tmp_path / "dump"
    triples = spark.createDataFrame(
        [("d:1", "p:cites", "d:2", False, None, None),
         ("d:1", "p:title", "hello", True, "en", None)], TRIPLE_DDL)
    rs.write_ntriples(triples, str(dump), prefixes=PFX)
    store_dir = tmp_path / "s2"
    out = load_run(spark, [str(dump), str(store_dir),
                           "--partition-by", "pred",
                           "--base-iri", "http://ex.org/doc/"])
    assert out["triples"] == 2 and out["error_lines"] == 0
    snap_dirs = list((store_dir / "edge").glob("snap-*/pred=*"))
    assert snap_dirs, "loaded snapshot not pred-partitioned"
