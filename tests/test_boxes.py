"""PDF layout analytics (A8/A9): margin modes, header/footer zones,
style hierarchy over a textbox table — hand-computed fixture."""

import pytest
from pyspark.sql import Row

from ferenda_spark.operators import boxes


@pytest.fixture(scope="module")
def box_table(spark):
    def b(doc, left, top, fam, size, chars):
        return Row(doc_id=doc, page_no=0, page_width=600,
                   page_height=800, left=left, right=left + 380,
                   top=top, bottom=top + 12, font_family=fam,
                   font_size=size, n_chars=chars)
    rows = [
        # doc 1: body at left=100 (most chars), one indented box at
        # 150, one right-column box at 400 (excluded from left-margin
        # voting), a 2-char page header at top=10, body at 100..500
        b(1, 100, 10, "Serif", 10, 2),
        b(1, 100, 100, "Serif", 10, 500),
        b(1, 150, 200, "Serif", 10, 80),
        b(1, 400, 300, "Serif", 10, 60),
        b(1, 100, 500, "Serif-Bold", 16, 40),   # heading, significant
        b(1, 100, 400, "Serif", 5, 30),         # footnote size ≤ 10/2
        b(1, 100, 450, "Serif", 9, 1),          # insignificant style
    ]
    return spark.createDataFrame(rows)


def test_margin_metrics(box_table):
    m = {r["doc_id"]: r for r in boxes.margin_metrics(box_table).collect()}
    r = m[1]
    assert r["leftmargin"] == 100          # char-weighted mode < midpage
    assert r["rightmargin"] == 480         # 100+380 carries most chars
    assert r["pagewidth"] == 600 and r["pageheight"] == 800
    # total chars 713, header threshold 0.2% ≈ 1.43: the 2-char box at
    # top=10 already crosses it → zone ends at 9
    assert r["topmargin"] == 9
    # bottom: scanning up from the max bottom crosses immediately →
    # max(bottom)+1
    assert r["bottommargin"] == 513


def test_style_metrics(box_table):
    out = {(r["level"]): (r["font_family"], r["font_size"])
           for r in boxes.style_metrics(box_table).collect()}
    assert out["default"] == ("Serif", 10)
    assert out["h1"] == ("Serif-Bold", 16)
    assert "h2" not in out                  # only one significant large
    assert out["footnoteref"] == ("Serif", 5)
    # the 1-char size-9 style is below the 0.5% significance bar
    assert ("Serif", 9) not in out.values()
