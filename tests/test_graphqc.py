"""Tests for the data-quality operators: VoID statistics, SHACL-lite
validation, and Deequ-style tabular profiling/checks."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.operators import profile as prof
from ferenda_spark.operators import shacl, voidstats

EDGE_DDL = ("subj string, pred string, obj string, "
            "obj_is_literal boolean, obj_datatype string, "
            "obj_lang string")


def _edges(spark):
    rows = [
        ("d:1", "rdf:type", "ex:Doc", False, None, None),
        ("d:1", "p:title", "one", True, None, "en"),
        ("d:1", "p:cites", "d:2", False, None, None),
        ("d:1", "p:cites", "d:3", False, None, None),
        ("d:2", "rdf:type", "ex:Doc", False, None, None),
        ("d:2", "p:title", "two", True, None, None),
        ("d:2", "p:year", "2020", True, "xsd:gYear", None),
        ("d:3", "rdf:type", "ex:Other", False, None, None),
    ]
    return spark.createDataFrame(rows, EDGE_DDL)


def test_void_statistics(spark):
    e = _edges(spark)
    prop = {r["pred"]: r for r in
            voidstats.property_partitions(e).collect()}
    assert prop["p:cites"]["n_triples"] == 2
    assert prop["p:cites"]["n_subjects"] == 1
    assert prop["p:cites"]["n_objects"] == 2
    assert prop["rdf:type"]["n_subjects"] == 3
    cls = {r["rdf_class"]: r["n_entities"] for r in
           voidstats.class_partitions(e).collect()}
    assert cls == {"ex:Doc": 2, "ex:Other": 1}
    s = voidstats.dataset_summary(e).collect()[0]
    assert s["n_triples"] == 8
    assert s["n_subjects"] == 3
    assert s["n_properties"] == 4
    assert s["n_classes"] == 2


def test_void_triples_rdf_and_roundtrip(spark, tmp_path):
    """The VoID description is itself valid RDF in the edge schema —
    it survives the N-Triples writer/parser unchanged."""
    from ferenda_spark.sources import rdf_serial as rs
    e = _edges(spark)
    v = voidstats.void_triples(e, "https://ex.org/void")
    rows = v.collect()
    counts = {(r["subj"], r["pred"]): r["obj"] for r in rows}
    assert counts[("https://ex.org/void", "void:triples")] == "8"
    assert counts[("https://ex.org/void/prop/p_cites",
                   "void:triples")] == "2"
    assert counts[("https://ex.org/void/class/ex_Doc",
                   "void:entities")] == "2"
    # every count is an xsd:integer literal; links are IRIs
    for r in rows:
        if r["pred"].startswith("void:") and r["obj_is_literal"]:
            assert r["obj_datatype"].endswith("integer")
    path = str(tmp_path / "void.nt")
    rs.write_ntriples(v, path)
    back = rs.read_ntriples(spark, path)
    assert back.filter(F.col("error").isNotNull()).count() == 0
    got = back.select("subj", "pred", "obj", "obj_is_literal")
    want = v.select("subj", "pred", "obj", "obj_is_literal")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_shacl_validate_all_constraint_kinds(spark):
    e = _edges(spark)
    shapes = spark.createDataFrame([
        # every Doc needs a title (d:1, d:2 conform)
        ("s-title", "ex:Doc", "p:title", 1, 1, "Literal", None),
        # every Doc needs an abstract (none has one -> 2 minCount)
        ("s-abs", "ex:Doc", "p:abstract", 1, None, None, None),
        # at most one citation (d:1 has 2 -> maxCount)
        ("s-cites", "ex:Doc", "p:cites", None, 1, "IRI", None),
        # year must be an IRI (d:2's is a literal -> nodeKind)
        ("s-year-kind", "ex:Doc", "p:year", None, None, "IRI", None),
        # title must be xsd:string (stored datatype NULL -> datatype)
        ("s-title-dt", "ex:Doc", "p:title", None, None, None,
         "xsd:string"),
    ], shacl.SHAPE_DDL)
    out = {(r["focus"], r["shape_id"], r["constraint"]):
           (r["actual"], r["expected"])
           for r in shacl.shacl_validate(e, shapes).collect()}
    assert out[("d:1", "s-abs", "minCount")] == (0, "1")
    assert out[("d:2", "s-abs", "minCount")] == (0, "1")
    assert out[("d:1", "s-cites", "maxCount")] == (2, "1")
    assert out[("d:2", "s-year-kind", "nodeKind")] == (1, "IRI")
    assert out[("d:1", "s-title-dt", "datatype")] == (1, "xsd:string")
    assert out[("d:2", "s-title-dt", "datatype")] == (1, "xsd:string")
    # no violations beyond the designed ones; d:3 (ex:Other) untargeted
    assert len(out) == 6
    assert not any(f == "d:3" for f, _, _ in out)
    assert shacl.conforms(e, shapes) is False
    ok_shapes = spark.createDataFrame(
        [("s-title", "ex:Doc", "p:title", 1, 1, "Literal", None)],
        shacl.SHAPE_DDL)
    assert shacl.conforms(e, ok_shapes) is True


def test_shacl_shapes_broadcast_plan(spark):
    """The shape dimension broadcasts; the corpus-sized edge table is
    never broadcast."""
    e = _edges(spark)
    shapes = spark.createDataFrame(
        [("s-abs", "ex:Doc", "p:abstract", 1, None, None, None)],
        shacl.SHAPE_DDL)
    plan = (shacl.shacl_validate(e, shapes)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def _table(spark):
    rows = [
        (1, "alpha", "en", 10),
        (2, "beta", "en", 20),
        (2, None, "sv", 30),      # duplicate id, null text
        (4, "delta", None, -5),   # null lang, negative n
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n long")


def test_profile_single_pass_stats(spark):
    p = {r["column"]: r for r in prof.profile(_table(spark)).collect()}
    assert set(p) == {"text", "lang"} | {"doc_id", "n"}
    assert p["doc_id"]["n_rows"] == 4
    assert p["doc_id"]["n_null"] == 0
    assert p["doc_id"]["n_distinct"] == 3
    assert p["text"]["n_null"] == 1
    assert p["text"]["completeness"] == 0.75
    assert p["n"]["min_value"] == "-5"
    assert p["n"]["max_value"] == "30"
    # numeric ordering happened BEFORE the string render
    assert p["doc_id"]["min_value"] == "1"
    with pytest.raises(ValueError, match="no string/numeric"):
        prof.profile(spark.createDataFrame([([1],)], "a array<long>"))


def test_check_constraints(spark):
    t = _table(spark)
    out = {r["check_id"]: r for r in prof.check(t, [
        ("u", "doc_id", "unique", 0.0),
        ("c", "text", "complete", 0.9),
        ("c2", "lang", "complete", 0.7),
        ("d", "lang", "distinct_at_least", 2.0),
        ("mn", "n", "min_at_least", 0.0),
        ("mx", "n", "max_at_most", 100.0),
        ("bad-bound", "text", "min_at_least", 0.0),
    ]).collect()}
    assert out["u"]["passed"] is False           # dup id 2
    assert out["c"]["passed"] is False           # 0.75 < 0.9
    assert out["c2"]["passed"] is True
    assert out["d"]["passed"] is True and out["d"]["actual"] == 2.0
    assert out["mn"]["passed"] is False          # min -5
    assert out["mx"]["passed"] is True
    # non-numeric bound: conservative fail, not a throw (ANSI cast)
    assert out["bad-bound"]["passed"] is False
    assert out["bad-bound"]["actual"] is None
    with pytest.raises(ValueError, match="unknown constraint"):
        prof.check(t, [("x", "n", "between", 1.0)])


def test_validate_graph_cli(spark, tmp_path, capsys):
    """tools/validate_graph.py against a real pipeline store: VoID
    summary line, SHACL stats line, nonzero exit on nonconformance,
    and the shapes-file parser's error contract."""
    import importlib.util
    from pathlib import Path

    from ferenda_spark.fixtures.pages import entities_df, pages_df
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.pipeline import run_pipeline

    cli_path = (Path(__file__).resolve().parents[1] / "tools"
                / "validate_graph.py")
    spec = importlib.util.spec_from_file_location("validate_graph",
                                                  cli_path)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    d = str(tmp_path / "graph")
    run_pipeline(spark, pages_df(spark, 20, partitions=2),
                 entities_df(spark), GraphStore(spark, d))

    shapes = tmp_path / "shapes.tsv"
    shapes.write_text(
        "# conforming control + one designed violation\n"
        "s-title\tbibo:Standard\tdcterms:title\t1\t1\tLiteral\t\n"
        "s-abs\tbibo:Standard\tdcterms:abstract\t1\t\t\t\n")
    void_out = str(tmp_path / "void.nt")
    with pytest.raises(SystemExit):
        cli.run(spark, [d, "--shapes", str(shapes),
                        "--void-out", void_out,
                        "--report-out", str(tmp_path / "report")])
    out = capsys.readouterr().out
    assert "VOID_STATS table=edge triples=" in out
    assert "SHACL_STATS shapes=2 violations=" in out
    assert "conforms=False" in out
    report = spark.read.parquet(str(tmp_path / "report"))
    assert report.filter(F.col("shape_id") == "s-abs").count() > 0
    assert report.filter(F.col("shape_id") == "s-title").count() == 0
    from ferenda_spark.sources import rdf_serial as rs
    void = rs.read_ntriples(spark, void_out)
    assert void.filter(F.col("error").isNotNull()).count() == 0
    # conforming shapes only -> zero exit path (returns normally)
    ok = tmp_path / "ok.tsv"
    ok.write_text("s-title\tbibo:Standard\tdcterms:title\t1\t1\tLiteral\t\n")
    res = cli.run(spark, [d, "--shapes", str(ok)])
    assert res["violations"] == 0
    bad = tmp_path / "bad.tsv"
    bad.write_text("only\tthree\tfields\n")
    with pytest.raises(ValueError, match="7 tab-separated"):
        cli.parse_shapes_file(str(bad))
    kindbad = tmp_path / "kind.tsv"
    kindbad.write_text("s\tc\tp\t\t\tBNode\t\n")
    with pytest.raises(ValueError, match="node_kind"):
        cli.parse_shapes_file(str(kindbad))


def test_check_guards_and_df_input(spark):
    """A checks DataFrame is consumed by field name regardless of
    column order; int thresholds coerce."""
    t = _table(spark)
    # reordered columns + int threshold
    cdf = spark.createDataFrame(
        [("n", "d", "distinct_at_least", 2)],
        "column string, check_id string, kind string, threshold long")
    out = prof.check(t, cdf).collect()
    assert out[0]["check_id"] == "d" and out[0]["passed"] is True
    out2 = prof.check(t, [("mx", "n", "max_at_most", 100)]).collect()
    assert out2[0]["passed"] is True


def test_degree_histogram(spark):
    e = _edges(spark)
    got = {(r["direction"], r["degree"]): r["n_nodes"]
           for r in voidstats.degree_histogram(e).collect()}
    # out: d:1 has 4 triples, d:2 has 3, d:3 has 1
    assert got[("out", 4)] == 1
    assert got[("out", 3)] == 1
    assert got[("out", 1)] == 1
    # in over IRI objects only: ex:Doc 2, d:2 1, d:3 1, ex:Other 1
    assert got[("in", 2)] == 1
    assert got[("in", 1)] == 3
    assert not any(d == "in" and n > 4 for (d, n) in got)


def test_curate_cli_chain(spark, tmp_path, capsys):
    """tools/curate.py: rules -> exact dedup -> near-dup clusters ->
    decontaminate -> shard export, with per-stage stats and the
    empty-survivor error."""
    import importlib.util
    from pathlib import Path

    cli_path = Path(__file__).resolve().parents[1] / "tools" / "curate.py"
    spec = importlib.util.spec_from_file_location("curate", cli_path)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    vocab = ["alpha", "bravo", "charli", "deltaa", "echoes", "foxtro",
             "golfer", "hotelz", "indiaa", "juliet"]

    def mk(i):
        words = [vocab[(i * 7 + j) % 10] + str((i * 13 + j) % 97)
                 for j in range(60)]
        return "the " + " ".join(words) + " ends with the final words"

    gram = "one two three four five six seven eight nine ten " \
           "eleven twelve thirteen"
    rows = [(i, mk(i)) for i in range(6)]
    near = mk(0).split(" ")
    near[30] = "swapped"                       # one word differs
    rows.append((10, " ".join(near)))          # near-dup of doc 0
    rows.append((11, mk(1)))                   # exact dup of doc 1
    rows.append((12, "too short"))             # rules drop
    rows.append((13, mk(13) + " " + gram))     # contaminated
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame([("q " + gram + " a",)],
                          "text string").write.parquet(bench)

    out = str(tmp_path / "shards")
    res = cli.run(spark, [src, out, "--bench", bench,
                          "--budget", "2000"])
    txt = capsys.readouterr().out
    assert "stage=gopher_rules kept=9 dropped=1" in txt    # doc 12
    assert "stage=exact_dedup kept=8 dropped=1" in txt     # doc 11
    assert "stage=near_dup kept=7 dropped=1" in txt        # doc 10
    assert "stage=decontaminate kept=6 dropped=1" in txt   # doc 13
    assert res["out"] == 6 and res["shards"] >= 1
    data = spark.read.parquet(out + "/data")
    assert data.count() == 6
    # no --bench: the stage prints skipped, never ran-and-clean
    capsys.readouterr()
    cli.run(spark, [src, str(tmp_path / "s3")])
    out2 = capsys.readouterr().out
    assert "stage=decontaminate skipped=True" in out2
    assert "stage=decontaminate kept=" not in out2
    # nothing survives an all-contaminated corpus: loud exit
    with pytest.raises(SystemExit, match="no documents"):
        cli.run(spark, [src, str(tmp_path / "s2"), "--bench", src])


def test_void_approximate_modes(spark):
    """HLL mode across all three VoID statistics: same shape,
    near-exact at toy scale (the 10^12-row path)."""
    e = _edges(spark)
    prop = {r["pred"]: r["n_subjects"] for r in
            voidstats.property_partitions(e, approximate=True).collect()}
    assert abs(prop["rdf:type"] - 3) <= 1
    cls = {r["rdf_class"]: r["n_entities"] for r in
           voidstats.class_partitions(e, approximate=True).collect()}
    assert abs(cls["ex:Doc"] - 2) <= 1
    s = voidstats.dataset_summary(e, approximate=True).collect()[0]
    assert abs(s["n_subjects"] - 3) <= 1


def test_void_hll_error_band_at_gate_scale(spark):
    """HLL estimates stay inside the published error band at gate
    scale (r4 verdict next-round #6): approx_count_distinct's
    default rsd is 0.05, so on 10^4-scale KNOWN cardinalities every
    estimate must sit within 3·rsd = 15% of exact (HLL is
    deterministic for fixed input, so this pins, not flakes)."""
    from pyspark.sql import functions as F
    n = 60_000
    e = (spark.range(n)
         .select((F.col("id") % 20_000).cast("string").alias("subj"),
                 F.concat(F.lit("p"), (F.col("id") % 7).cast("string"))
                 .alias("pred"),
                 (F.col("id") % 9_000).cast("string").alias("obj"),
                 F.lit(False).alias("obj_is_literal")))
    s = voidstats.dataset_summary(e, approximate=True).collect()[0]
    exact = voidstats.dataset_summary(e).collect()[0]
    assert (exact["n_subjects"], exact["n_properties"],
            exact["n_objects"]) == (20_000, 7, 9_000)
    for col in ("n_subjects", "n_properties", "n_objects"):
        rel = abs(s[col] - exact[col]) / exact[col]
        assert rel <= 0.15, (col, s[col], exact[col], rel)
    # per-property partitions: every estimated subject count within
    # the same band of its exact twin
    ap = {r["pred"]: r["n_subjects"] for r in
          voidstats.property_partitions(e, approximate=True).collect()}
    ex = {r["pred"]: r["n_subjects"] for r in
          voidstats.property_partitions(e).collect()}
    assert set(ap) == set(ex)
    for p in ex:
        assert abs(ap[p] - ex[p]) / ex[p] <= 0.15, (p, ap[p], ex[p])


def test_numeric_quantiles(spark, monkeypatch):
    """Exact interpolated percentiles per numeric column in one pass,
    at every probability of ``QUANTILE_PROBS``."""
    t = _table(spark)
    monkeypatch.setattr(
        "ferenda_spark.operators.profile.QUANTILE_PROBS", (0.5, 1.0))
    q = {(r["column"], r["p"]): r["value"] for r in
         prof.numeric_quantiles(t).collect()}
    # n values sorted: [-5, 10, 20, 30] -> median = 15, max = 30
    assert q[("n", 0.5)] == 15.0
    assert q[("n", 1.0)] == 30.0
    assert q[("doc_id", 1.0)] == 4.0
    with pytest.raises(ValueError, match="no numeric"):
        prof.numeric_quantiles(t.select("text"))


# ------------------------------------------------- distinct sketches


def test_class_links_partitions_nontype_triples(spark):
    from pyspark.sql import functions as F
    from ferenda_spark.operators.voidstats import class_links
    rows = [
        ("a", "rdf:type", "T1"), ("b", "rdf:type", "T2"),
        ("b", "rdf:type", "T1"),          # multi-typed: min -> T1
        ("a", "cites", "b"), ("a", "cites", "x"),  # x untyped
        ("x", "cites", "a"),
    ]
    df = spark.createDataFrame(
        [(s, p, o, False, None, None) for s, p, o in rows],
        "subj string, pred string, obj string, obj_is_literal boolean,"
        " obj_datatype string, obj_lang string")
    got = {(r["subj_class"], r["pred"], r["obj_class"]):
           (r["n_triples"], r["n_subjects"], r["n_objects"])
           for r in class_links(df).collect()}
    assert got == {
        ("T1", "cites", "T1"): (1, 1, 1),   # a -> b (b folds to T1)
        ("T1", "cites", None): (1, 1, 1),   # a -> x untyped
        (None, "cites", "T1"): (1, 1, 1),   # x -> a
    }
    # partition property: matrix triple count == non-type triples
    assert sum(v[0] for v in got.values()) == 3


def test_curate_cli_pages_mode(spark, tmp_path, capsys):
    """--pages runs the wild-HTML front (noindex → declared-canonical
    dedup → main-content) before the standard curation chain."""
    import datetime as dt
    import importlib.util
    from pathlib import Path

    cli_path = Path(__file__).resolve().parents[1] / "tools" / "curate.py"
    spec = importlib.util.spec_from_file_location("curate", cli_path)
    curate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(curate)

    prose = ("the quick brown fox jumps over the lazy dog and then "
             "the other dog carries on with the usual daily things "
             "for a while longer than it should in this test ") * 3
    rows = []
    for i in range(30):
        canon = f"https://s.example/art/{i - i % 3}"
        noindex = ('<meta name="robots" content="noindex">'
                   if i % 10 == 9 else "")
        html = (f"<html><head>{noindex}"
                f'<link rel="canonical" href="{canon}"></head>'
                f'<body><nav><a href="/">Home</a></nav>'
                f"<p>{prose} article {i - i % 3}</p>"
                f"<footer>c</footer></body></html>").encode()
        rows.append((f"https://m{i % 3}.example/p/{i}",
                     dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                     html))
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary") \
        .write.parquet(src)
    out = str(tmp_path / "shards")
    stats = curate.run(spark, [src, out, "--pages",
                               "--min-stopwords", "1",
                               "--min-words", "30"])
    txt = capsys.readouterr().out
    # 3 pages noindexed (i=9,19,29); canonical groups of 3 collapse —
    # group texts are identical per group, mirrors dedup to 10 canon
    # urls minus fully-noindexed none → winners = 10
    assert "stage=noindex kept=27 dropped=3" in txt
    assert "stage=canonical_dedup kept=10" in txt
    assert "stage=main_content kept=10" in txt
    assert stats["out"] > 0 and stats["shards"] >= 1
