"""Scalar text functions with paired Python + Column implementations.

Each function exists twice: a plain-Python form used inside Arrow UDF
stages (and by the fixture generator, so golden text is produced by
the same canonical definition), and a Column-expression form that
stays JVM-side inside whole-stage codegen for use in declarative
plans. The pairs are asserted equivalent in tests/test_functions.py.

Semantics modeled on the reference (maxreimerson/ferenda):
  * normalize_space       — ferenda/util.py:287-296
  * clean_xml_chars       — ferenda/elements/elements.py:238-247
  * strip_backspace       — ferenda/sources/tech/rfc.py:462-467
  * natural sort key      — ferenda/util.py:191-243 (numcmp/split_numalpha)
  * slugify               — ferenda/thirdparty/coin.py:57-97 (SlugTransformer)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Canonical whitespace definition (shared by Python and JVM sides):
# NBSP is first translated to a plain space, then runs of ASCII
# whitespace collapse to one space, then the ends are trimmed.
# Java regex \s is ASCII-only by default, so the Column form matches
# the Python form exactly as long as Python uses the explicit class.
_WS_RE = re.compile(r"[ \t\n\r\f\v]+")
# The str.isspace() characters outside that class and NBSP: where none
# occurs, str.split() finds the same runs, in one C pass.
_OTHER_SPACE_RE = re.compile(
    "[\x1c-\x1f\x85\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]")
_BACKSPACE_RE = re.compile(r".\x08")
# XML 1.0 invalid codepoints (C0 controls except \t\n\r, and the
# surrogate/noncharacter range ends).
_XML_INVALID_RE = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f\ud800-\udfff￾￿]"
)


def normalize_space(s: str) -> str:
    """Collapse whitespace (incl. NBSP) to single spaces and trim."""
    if _OTHER_SPACE_RE.search(s) is None:
        return " ".join(s.split())
    return _WS_RE.sub(" ", s.replace("\xa0", " ")).strip()


def normalize_space_col(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.translate(c, "\xa0", " "), r"[ \t\n\r\f\x0B]+", " "))


def strip_backspace(s: str) -> str:
    """Remove char+backspace overstrike pairs (faux-bold in RFC text)."""
    return _BACKSPACE_RE.sub("", s) if "\x08" in s else s


def strip_backspace_col(c: Column) -> Column:
    return F.regexp_replace(c, ".\x08", "")


def clean_xml_chars(s: str) -> str:
    """Strip XML-invalid codepoints."""
    return _XML_INVALID_RE.sub("", s)


_NUM_RE = re.compile(r"(\d+)")


def natural_sort_key(s: str) -> list[str]:
    """Sort key under which '2 §' < '10 §' and '6 a' sorts naturally.

    Numeric runs are zero-padded to 12 digits so plain string
    comparison of the joined key equals numeric comparison.
    """
    parts = _NUM_RE.split(s or "")
    return ["".join(p.zfill(12) if p.isdigit() else p for p in parts)]


def natural_sort_key_col(c: Column) -> Column:
    """Column form: zero-pad every digit run to width 12 in place.

    Pure JVM expression (regexp_replace with a lambda is unavailable,
    so we pad via repeated substitution on bounded digit-run widths —
    documents never carry >12-digit ordinals).
    """
    out = c
    # Pad shorter runs first; the (?<!\d)(?!\d) guards keep already
    # padded runs from re-matching.
    for width in range(11, 0, -1):
        pad = "0" * (12 - width)
        out = F.regexp_replace(
            out, rf"(?<![0-9])([0-9]{{{width}}})(?![0-9])", pad + r"$1"
        )
    return out


_SLUG_TRANSLATE = {
    "å": "aa", "ä": "ae", "ö": "oe", "Å": "aa", "Ä": "ae", "Ö": "oe",
    "é": "e", "è": "e", "ü": "ue",
}
_SLUG_STRIP_RE = re.compile(r"[^a-z0-9/#_-]")


def slugify(s: str) -> str:
    """URL-safe slug: lowercase, transliterate, spaces → '-', strip rest."""
    s = (s or "").lower()
    for k, v in _SLUG_TRANSLATE.items():
        s = s.replace(k.lower(), v)
    s = s.replace(" ", "-")
    return _SLUG_STRIP_RE.sub("", s)


def slugify_col(c: Column) -> Column:
    out = F.lower(c)
    for k, v in _SLUG_TRANSLATE.items():
        if k == k.lower():
            out = F.replace(out, F.lit(k), F.lit(v))
    out = F.replace(out, F.lit(" "), F.lit("-"))
    return F.regexp_replace(out, r"[^a-z0-9/#_-]", "")


# -- F6: citation-id normalization family -----------------------------------
# The normalize_sfsid / normalize_lawname analog
# (/root/reference/ferenda/sources/legal/se/legalref.py:609-629):
# citation identifiers are normalized before minting/joining so
# surface variants ("RFC 0822", "draft-...-03", "Directive 95/46/EC")
# land on ONE canonical URI. Column forms only: the citation grammar's
# formatters are their one caller, and the citation goldens pin them.


def strip_leading_zeros_col(c: Column) -> Column:
    """'0822' → '822' (RFC numbers are often zero-padded)."""
    return F.regexp_replace(c, r"^0+(\d)", "$1")


def expand_year2_col(c: Column) -> Column:
    """Two-digit year → four digits, pivot 50 ('95'→'1995','04'→'2004')."""
    return F.when(c.cast("int") >= 50,
                  F.concat(F.lit("19"), c)).otherwise(
        F.concat(F.lit("20"), c))


def strip_draft_version_col(c: Column) -> Column:
    """'draft-ietf-x-proto-03' → 'draft-ietf-x-proto' (the revision
    suffix is not part of the draft's identity)."""
    return F.regexp_replace(c, r"-\d{2}$", "")


def sanitize_term(term: str, min_len: int = 2, max_len: int = 100,
                  invalid_start: str = "./:",
                  invalid_end: str = ".,") -> str | None:
    """P7: keyword-term sanitization (keyword.py:169-177
    ``sanitize_term`` with the class-attribute rules at :64-67):
    normalize whitespace, then accept only terms of min_len..max_len
    chars not starting with ``./:`` nor ending with ``.``/``,``.
    Returns None for rejects (the reference returns falsy)."""
    t = normalize_space(term or "")
    # explicit non-empty test: an empty term has no start/end char to
    # check and is always a reject, even under min_len=0 (keeps the
    # Column twin's semantics, which would otherwise diverge there)
    if (t and min_len <= len(t) <= max_len
            and t[0] not in invalid_start and t[-1] not in invalid_end):
        return t
    return None


TERM_MAX_LEN = 100
TERM_MIN_LEN = 2


def sanitize_term_col(c: Column) -> Column:
    """Column twin of :func:`sanitize_term` — pure codegen, runs in
    the scan; NULL for rejects so a downstream dropna prunes them."""
    t = normalize_space_col(c)
    ok = ((F.length(t) > 0)
          & F.length(t).between(TERM_MIN_LEN, TERM_MAX_LEN)
          & ~F.substring(t, 1, 1).isin(*list("./:"))
          & ~t.substr(F.length(t), F.lit(1)).isin(*list(".,")))
    return F.when(ok, t)


# --------------------------------------------------------------------------
# Unicode normalization (NFC canonical form + accent folding) — the
# text-cleaning pass open-web corpora need before hashing/dedup/match:
# the SAME visible string arrives both precomposed (é U+00E9) and
# decomposed (e + U+0301) from different sites, so exact dedup,
# shingles and equi-joins silently miss equal texts until every
# document is in ONE canonical form.

def nfc(s: str | None) -> str | None:
    """Pure-Python twin of :func:`nfc_col`: Unicode NFC."""
    import unicodedata
    return None if s is None else unicodedata.normalize("NFC", s)


def strip_accents(s: str | None) -> str | None:
    """Pure-Python twin of :func:`strip_accents_col`: NFD decompose,
    drop combining marks (matches DuckDB/utf8proc ``strip_accents``
    — verified char-for-char on Latin, dotted, and kana samples)."""
    import unicodedata
    if s is None:
        return None
    d = unicodedata.normalize("NFD", s)
    return "".join(c for c in d if not unicodedata.combining(c))


def nfc_col(c: Column) -> Column:
    """Unicode NFC canonicalization as an Arrow-vectorized pandas
    UDF (Spark has no built-in normalizer; a batch of strings per
    call keeps this off the row-at-a-time path)."""
    import unicodedata
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _nfc(col):
        return col.map(lambda s: None if s is None
                       else unicodedata.normalize("NFC", s))
    return pandas_udf(_nfc, "string", PandasUDFType.SCALAR)(c)


def strip_accents_col(c: Column) -> Column:
    """Accent folding (NFD − combining marks) as an Arrow-vectorized
    pandas UDF — the fuzzy-match/key-folding companion to
    :func:`nfc_col`."""
    import unicodedata
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _strip(col):
        def one(s):
            if s is None:
                return None
            d = unicodedata.normalize("NFD", s)
            return "".join(ch for ch in d
                           if not unicodedata.combining(ch))
        return col.map(one)
    return pandas_udf(_strip, "string", PandasUDFType.SCALAR)(c)
