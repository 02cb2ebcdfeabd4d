"""Paragraph chunking for the structure parser (operators/structure.py).

The reference's TextReader.readparagraph (ferenda/textreader.py:
159-173) feeds its document-structure parsers a stream of
blank-line-separated chunks; ``paragraphs`` is that stream for one
document, run inside the parser's Arrow-batched ``mapInPandas`` stage.
"""

from __future__ import annotations

import re

from ferenda_spark.functions.text import normalize_space, strip_backspace

_KV_LINE_RE = re.compile(r"^[A-Za-z ]+: +\S")


def paragraphs(text: str) -> list[str]:
    """Blank-line-separated paragraphs, whitespace-normalized and
    overstrike-stripped (textreader.py:159-173 + rfc.py:462-467).

    A multi-line block containing ``Key: value`` lines is a header
    block (RFC front matter is line-, not paragraph-, structured —
    rfc.py:550-644): its lines are emitted as separate chunks, one
    key/value pair each."""
    out = []
    for raw in re.split(r"\n[ \t]*\n", text or ""):
        lines = [ln for ln in raw.split("\n") if ln.strip()]
        if len(lines) > 1 and any(_KV_LINE_RE.match(ln.strip())
                                  for ln in lines):
            pieces = lines
        else:
            pieces = [raw]
        for piece in pieces:
            p = normalize_space(strip_backspace(piece))
            if p:
                out.append(p)
    return out
