"""Main-content extraction by block density (operators/content.py)."""

from ferenda_spark.operators.content import extract_content, main_content

PAGE = ('<html><head><title>T</title><script>var x=1;</script></head>'
        '<body><nav><a href="/">Home</a> <a href="/b">B</a> menu</nav>'
        '<div><p>Paragraph one of the document discusses the protocol'
        ' at considerable length.</p><p>short</p>'
        '<p>Longer paragraph with one <a href="/x">inline link</a>'
        ' inside it, still mostly prose text.</p></div>'
        '<div><a href="/r1">Related story number one</a> '
        '<a href="/r2">Related story number two</a></div>'
        '<footer>Copyright 2024 Site, all rights reserved.</footer>'
        '</body></html>')


def test_content_block_rules():
    r = extract_content("u", PAGE)
    assert r["content"].split("\n") == [
        "Paragraph one of the document discusses the protocol at "
        "considerable length.",
        "Longer paragraph with one inline link inside it, still "
        "mostly prose text.",
    ]
    # dropped: 'short' (< 25 chars) + the related-links rail
    # (link density ~1); nav/footer/head never even counted
    assert r["n_kept"] == 2 and r["n_dropped"] == 2
    assert r["content_chars"] == sum(
        len(b) for b in r["content"].split("\n"))
    assert r["total_chars"] > r["content_chars"]


def test_content_density_boundary_and_containers():
    # a block exactly AT the 1/3 density bound stays (<=), above goes
    text30 = "x" * 20 + " " + "y" * 9          # 30 chars normalized
    at = f'<p>{"x" * 20} <a href="/">{"y" * 9}</a></p>'
    over = f'<p>{"x" * 18} <a href="/">{"y" * 11}</a></p>'
    assert extract_content("u", at)["n_kept"] == 1
    assert extract_content("u", over)["n_kept"] == 0
    assert len(text30) == 30
    # nested chrome: everything under aside/form vanishes wholesale
    r = extract_content(
        "u", "<aside><p>This looks like a long real paragraph but "
             "lives in an aside.</p></aside><form><p>Another long "
             "paragraph trapped inside a form element.</p></form>")
    assert r["n_kept"] == 0 and r["total_chars"] == 0
    # raw-text elements never leak
    r = extract_content(
        "u", "<p>Real paragraph content that is long enough to keep."
             "<style>p { color: red; font-size: 30px }</style></p>")
    assert "color" not in r["content"] and r["n_kept"] == 1


def test_anchor_closed_inside_drop_container():
    """An </a> swallowed by a dropped subtree (anchor opened outside,
    closed inside nav) must not leave anchor_depth stuck: prose after
    the container is NOT link text and must be kept."""
    prose = "A perfectly ordinary long paragraph of real content."
    r = extract_content(
        "u", f'<p><a href="/">home<nav>chrome links</a></nav></p>'
             f"<p>{prose}</p>")
    assert r["n_kept"] == 1
    assert prose in r["content"]
    # same shape, container closed properly around the anchor close
    r = extract_content(
        "u", f'<a href="/">x<nav></a>menu</nav><p>{prose}</p>')
    assert r["n_kept"] == 1 and prose in r["content"]


def test_content_survives_garbage():
    assert extract_content("u", None)["content"] == ""
    assert extract_content("u", "</p></div><p unclosed")["n_kept"] == 0
    # unclosed block still flushes at document end
    r = extract_content(
        "u", "<p>An unclosed but perfectly fine long paragraph here")
    assert r["n_kept"] == 1


def test_unknown_marked_section_keeps_later_blocks():
    # a <![ without a marked-section keyword is a bogus comment up to
    # the next >, not the end of the page
    word = "word " * 8
    more = "more " * 8
    r = extract_content("u", f"<p>{word}</p><![ foo ]><p>{more}</p>")
    assert r["n_kept"] == 2
    assert r["content"] == f"{word.strip()}\n{more.strip()}"


def test_link_text_counts_the_whole_run():
    # "1 < 2 < ..." is one text run: 21 of 33 chars are link text,
    # above the 1/3 bound, however the markup splits it
    r = extract_content(
        "u", '<p>xxxxxxxxxxx <a href="/">1 < 2 < 3 < 4 < 5 < 6</a></p>')
    assert r["total_chars"] == 33
    assert r["n_kept"] == 0 and r["n_dropped"] == 1


def test_main_content_spark_matches_twin(spark):
    pages = spark.createDataFrame(
        [("https://a.com/1", PAGE.encode()),
         ("https://a.com/2", b"<body><p>no real content</p></body>")],
        "url string, html binary")
    rows = {r["url"]: r.asDict() for r in main_content(pages).collect()}
    assert rows["https://a.com/1"] == extract_content(
        "https://a.com/1", PAGE)
    plan = main_content(pages)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(st.one_of(
    st.text(alphabet=st.characters(codec="utf-8",
                                   exclude_categories=["Cs"]),
            max_size=400),
    st.lists(st.sampled_from(
        ["<div>", "</div>", "<p>", "</p>", "<nav>", "</nav>",
         "<a href=x>", "</a>", "<script>", "</script>", "text here ",
         "<head>", "</head>", "<![CDATA[", "&amp;", "\x00"]),
        max_size=30).map("".join)))
@settings(max_examples=150, deadline=None)
def test_fuzz_content_extractor_never_crashes(html):
    r = extract_content("u", html)
    # invariants hold on any input: counters reconcile with output
    assert r["n_kept"] == len([b for b in r["content"].split("\n") if b]) \
        or (r["content"] == "" and r["n_kept"] == 0)
    assert r["content_chars"] <= r["total_chars"]
