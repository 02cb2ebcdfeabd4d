"""Patch application: per-document unified-diff patches applied to
document text before parse.

Spark restatement of the reference's patch step
(/root/reference/ferenda/documentrepository.py:1352-1410
``patch_if_needed`` + the bundled ``thirdparty/patchit.py`` hunk
applier): ferenda looks up a per-basefile ``.patch`` file, applies it
to the downloaded text with strict context verification, and carries
the hunk comment forward as the patch description (raising
``PatchConflictError`` on mismatch).

Here the patch store is a DataFrame ``patches(key, patch)`` —
patches are rare (hand-maintained fixes), so the patch side is
broadcast and application is a map-side left join feeding one
Arrow-batched ``mapInPandas`` pass.  Conflicts don't kill the batch
job: the row keeps its original text and is flagged
``patch_status='conflict'`` so a downstream report can surface it
(the per-row analog of ferenda's raised error).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HUNK_RE = re.compile(
    r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@(?: (.*))?$")


class PatchSyntaxError(ValueError):
    """Raised when a patch string is not a well-formed unified diff."""


def parse_unified_diff(patch_text: str):
    """Parse a unified diff into (hunks, description).

    Each hunk is ``(src_start, src_len, dst_start, dst_len, lines)``
    with ``lines`` a list of ``(tag, content)`` where tag ∈
    ``' '``/``'-'``/``'+'``.  ``---``/``+++`` file headers are
    tolerated and ignored (the patch targets exactly one document).
    The description is the comment after the first hunk's closing
    ``@@`` — the same convention ferenda reads
    (documentrepository.py:1389-1390).
    """
    hunks = []
    desc = None
    lines = patch_text.split("\n")
    i = 0
    while i < len(lines):
        line = lines[i]
        if (line.startswith("--- ") or line.startswith("+++ ")
                or line.startswith("\\") or line == ""):
            i += 1
            continue
        m = _HUNK_RE.match(line)
        if not m:
            raise PatchSyntaxError(f"expected hunk header, got {line!r}")
        src_start = int(m.group(1))
        src_len = int(m.group(2)) if m.group(2) is not None else 1
        dst_start = int(m.group(3))
        dst_len = int(m.group(4)) if m.group(4) is not None else 1
        if desc is None and m.group(5):
            desc = m.group(5)
        i += 1
        body = []
        n_src = n_dst = 0
        while i < len(lines) and (n_src < src_len or n_dst < dst_len):
            raw = lines[i]
            if raw.startswith("\\"):
                # "\ No newline at end of file" — standard diff -u
                # marker; our line-array model has no trailing-newline
                # distinction, so it is metadata to skip, not content
                i += 1
                continue
            tag, content = (raw[0], raw[1:]) if raw else (" ", "")
            if tag not in " -+":
                raise PatchSyntaxError(f"bad hunk line {raw!r}")
            if tag in " -":
                n_src += 1
            if tag in " +":
                n_dst += 1
            body.append((tag, content))
            i += 1
        if n_src != src_len or n_dst != dst_len:
            raise PatchSyntaxError(
                f"hunk body shorter than header counts "
                f"({n_src}/{src_len} src, {n_dst}/{dst_len} dst)")
        hunks.append((src_start, src_len, dst_start, dst_len, body))
    if not hunks:
        raise PatchSyntaxError("no hunks in patch")
    return hunks, desc


def apply_patch_text(original: str, patch_text: str):
    """Apply a unified diff to ``original``; returns
    ``(patched_text, status, description)``.

    Strict context verification like patchit: every context and
    removed line must match the source exactly at its position, else
    status ``'conflict'`` and the original text is returned
    unchanged.  Malformed patches return status ``'syntax_error'``.
    """
    if original is None:
        # a patch against a document with no text cannot match any
        # context — per-row conflict, never a stage-killing crash
        return original, "conflict", None
    try:
        hunks, desc = parse_unified_diff(patch_text)
    except PatchSyntaxError:
        return original, "syntax_error", None
    src = original.split("\n")
    out = []
    pos = 0  # 0-based cursor into src
    for src_start, src_len, _dst_start, _dst_len, body in hunks:
        # '@@ -N,0 ...' (diff -U0 insertion) means "insert AFTER line
        # N": the source range is empty and N is the line before the
        # insertion point, so the 0-based splice index is N, not N-1
        start = src_start if src_len == 0 else src_start - 1
        if start < pos or start + src_len > len(src):
            return original, "conflict", desc
        out.extend(src[pos:start])
        cursor = start
        for tag, content in body:
            if tag == "+":
                out.append(content)
                continue
            if cursor >= len(src) or src[cursor] != content:
                return original, "conflict", desc
            if tag == " ":
                out.append(content)
            cursor += 1
        pos = cursor
    out.extend(src[pos:])
    return "\n".join(out), "applied", desc


def apply_patches(docs: DataFrame, patches: DataFrame) -> DataFrame:
    """docs + ``patched_text``/``patch_status``/``patch_desc``.

    ``patches(key_col, patch_col)`` is broadcast (patches are
    hand-maintained and rare — ferenda's patchdir holds one file per
    problematic basefile), so the join adds no shuffle; unpatched
    rows stream through the Arrow pass untouched with null status.
    """
    joined = docs.join(
        F.broadcast(patches.withColumnRenamed("patch", "_patch")),
        "doc_id", "left")
    out_schema = T.StructType(
        [f for f in docs.schema.fields]
        + [T.StructField("patched_text", T.StringType()),
           T.StructField("patch_status", T.StringType()),
           T.StructField("patch_desc", T.StringType())])
    doc_cols = docs.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            patched, status, descs = [], [], []
            for text, p in zip(pdf["text"], pdf["_patch"]):
                if p is None or (isinstance(p, float) and pd.isna(p)):
                    patched.append(text)
                    status.append(None)
                    descs.append(None)
                else:
                    t, s, d = apply_patch_text(text, p)
                    patched.append(t)
                    status.append(s)
                    descs.append(d)
            res = pdf[doc_cols].copy()
            res["patched_text"] = patched
            res["patch_status"] = status
            res["patch_desc"] = descs
            yield res

    return joined.mapInPandas(run, schema=out_schema)
