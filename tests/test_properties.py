"""Property-based tests (hypothesis) for the pure-Python halves of
the paired py/Column functions and the patch applier.

These run WITHOUT Spark (fast, thousands of cases): each paired
function already has a Spark-side equivalence test; here the Python
twin — the semantics of record — is hammered with generated inputs.
"""

import difflib
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ferenda_spark.functions.text import normalize_space, strip_backspace
from ferenda_spark.functions.web import canonical_url
from ferenda_spark.operators.patch import apply_patch_text

# -- canonical_url -----------------------------------------------------------

_host = st.from_regex(r"[A-Za-z]([A-Za-z0-9-]{0,10}[A-Za-z0-9])?"
                      r"(\.[A-Za-z]{2,6}){1,2}", fullmatch=True)
_path = st.from_regex(r"(/[A-Za-z0-9._~-]{0,8}){0,4}/?", fullmatch=True)
_query = st.lists(st.from_regex(r"[a-z]{1,4}=[A-Za-z0-9]{0,6}",
                                fullmatch=True), max_size=4)
_frag = st.from_regex(r"(#[A-Za-z0-9-]{0,8})?", fullmatch=True)


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https"]))
    host = draw(_host)
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    q = draw(_query)
    query = ("?" + "&".join(q)) if q else ""
    return f"{scheme}://{host}{port}{draw(_path)}{query}{draw(_frag)}"


@settings(max_examples=300)
@given(_urls())
def test_canonical_url_idempotent(url):
    once = canonical_url(url)
    assert canonical_url(once) == once


@settings(max_examples=300)
@given(_urls())
def test_canonical_url_invariants(url):
    c = canonical_url(url)
    assert "#" not in c                       # fragment stripped
    scheme = c.split("://", 1)[0]
    assert scheme == scheme.lower()           # scheme lowercased
    if scheme == "http":
        assert ":80/" not in c and not c.endswith(":80")
    if "?" in c:
        params = c.split("?", 1)[1].split("&")
        assert params == sorted(params)       # params sorted


# -- whitespace and overstrike ----------------------------------------------

# every str.isspace() character, a backspace, and a few letters
_SPACES = "".join(c for c in map(chr, range(0x110000)) if c.isspace())
_spacy = st.text(alphabet=_SPACES + "\x08ab", max_size=24)


@settings(max_examples=1000)
@given(_spacy)
def test_normalize_space_is_its_regex_definition(s):
    """The str.split() fast path gives what the canonical definition
    (NBSP to space, ASCII whitespace runs to one space, trim) gives."""
    want = re.sub(r"[ \t\n\r\f\v]+", " ", s.replace("\xa0", " ")).strip()
    assert normalize_space(s) == want


@settings(max_examples=300)
@given(_spacy)
def test_strip_backspace_is_its_regex_definition(s):
    assert strip_backspace(s) == re.sub(r".\x08", "", s)


# -- patch roundtrip ---------------------------------------------------------

_line = st.from_regex(r"[a-z ]{0,12}", fullmatch=True)
_doc_lines = st.lists(_line, min_size=1, max_size=12)


@settings(max_examples=200, deadline=None)
@given(_doc_lines, _doc_lines, st.sampled_from([0, 1, 2]))
def test_patch_roundtrip_difflib(src_lines, dst_lines, context):
    """Any unified diff difflib can produce — including zero-context
    diff -U0 style with pure-insertion '@@ -N,0' hunks — the applier
    must replay: apply(src, diff(src, dst)) == dst, status 'applied'."""
    src = "\n".join(src_lines)
    dst = "\n".join(dst_lines)
    diff = "\n".join(difflib.unified_diff(
        src_lines, dst_lines, lineterm="", n=context))
    if not diff:                      # identical inputs → no patch
        return
    patched, status, _ = apply_patch_text(src, diff)
    assert status == "applied"
    assert patched == dst


@settings(max_examples=200, deadline=None)
@given(_doc_lines, _doc_lines, _doc_lines)
def test_patch_wrong_base_never_corrupts(src_lines, dst_lines, other_lines):
    """Applying a diff to a text it was NOT made from either applies
    cleanly (contexts happened to match) or conflicts and returns the
    input untouched — it must never return a half-applied hybrid."""
    diff = "\n".join(difflib.unified_diff(
        src_lines, dst_lines, lineterm="", n=2))
    if not diff:
        return
    other = "\n".join(other_lines)
    patched, status, _ = apply_patch_text(other, diff)
    if status != "applied":
        assert status == "conflict"
        assert patched == other
