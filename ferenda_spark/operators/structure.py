"""Statute-depth structure parser: plain text → a 5-level node tree.

The Spark restatement of the reference's SFS structure parser
(/root/reference/ferenda/sources/legal/se/sfs_parser.py:70-560):
recursive-descent over a paragraph stream with ordinal-driven
recognizers — ``makeKapitel``/``isKapitel`` (chapters "N kap."),
``makeParagraf``/``isParagraf`` (sections "N §", numbered continuously
across chapters), ``makeStycke`` (pieces = plain paragraphs inside a
section), ``makeNumreradLista`` ("1." numbered items) and
``makeBokstavslista`` ("a)" letter items) nesting beneath the current
piece/item.  Fragment ids follow the reference's K/P/S/N scheme
(sfs.py:425-472 ``_construct_id``).

Execution model: the parse is sequential within a document and
embarrassingly parallel across documents, so it runs inside one
Arrow-batched ``mapInPandas`` stage (parser built per task, no
per-row Python at the API layer) — the same split as the HTML
extract.  Output is a FLAT node table (url, node_id, kind, ordinal,
parent_id, depth, text): trees as parent pointers relationalize the
structure for downstream joins/closures instead of nesting arrays.

English marker surface ("Chapter N." / "N §" / "1." / "a)") — the
recognizer logic, continuous section numbering, and nesting rules are
the reference's; the lexical markers are corpus parameters.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ferenda_spark.operators.fsm import paragraphs

CHAPTER_RE = re.compile(r"^Chapter (\d+)\. (.+)$")
SECTION_RE = re.compile(r"^(\d+) § (.*)$")
NUM_ITEM_RE = re.compile(r"^(\d+)\. (.+)$")
LETTER_ITEM_RE = re.compile(r"^([a-z])\) (.+)$")

STRUCTURE_SCHEMA = ("url string, node_id string, kind string, "
                    "ordinal string, parent_id string, depth int, "
                    "text string")


class StatuteParser:
    """Stack-based recursive-descent over paragraph chunks.

    The stack holds (kind, node_id, depth); each recognizer pops to
    its legal parent level before attaching — the ordinal-driven
    nesting of sfs_parser (a chapter closes every open section/piece/
    item, a section closes pieces/items, a plain paragraph closes
    item lists and opens a new piece).
    """

    def parse(self, chunks: list[str]) -> list[dict]:
        out: list[dict] = []
        # context: current ids (None when not open)
        chap = sec = piece = item = None
        piece_n = 0

        def emit(node_id, kind, ordinal, parent_id, depth, text):
            out.append({"node_id": node_id, "kind": kind,
                        "ordinal": ordinal, "parent_id": parent_id,
                        "depth": depth, "text": text})

        for chunk in chunks:
            m = CHAPTER_RE.match(chunk)
            if m and len(chunk) < 80:
                chap = f"K{m.group(1)}"
                sec = piece = item = None
                emit(chap, "chapter", m.group(1), None, 1, m.group(2))
                continue
            m = SECTION_RE.match(chunk)
            if m:
                # sections number continuously across chapters
                # (sfs_parser's paragrafnummer never resets)
                sec = f"{chap or 'K0'}P{m.group(1)}"
                piece = item = None
                piece_n = 0
                emit(sec, "section", m.group(1), chap, 2, m.group(2))
                continue
            m = NUM_ITEM_RE.match(chunk)
            if m and piece is not None:
                item = f"{piece}N{m.group(1)}"
                emit(item, "item", m.group(1), piece, 4, m.group(2))
                continue
            m = LETTER_ITEM_RE.match(chunk)
            if m and item is not None:
                emit(f"{item}B{m.group(1)}", "letter", m.group(1),
                     item, 5, m.group(2))
                continue
            if sec is not None:
                # plain paragraph: closes any open list, opens a piece
                piece_n += 1
                piece = f"{sec}S{piece_n}"
                item = None
                emit(piece, "piece", str(piece_n), sec, 3, chunk)
        return out


def statute_structure(docs: DataFrame) -> DataFrame:
    """Plain-text statute documents → flat structure-node rows
    (S3 text reader + G7 structure parser)."""
    src = docs.select("url", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parser = StatuteParser()  # built once per task
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for node in parser.parse(paragraphs(text or "")):
                    rows.append({"url": url, **node})
            yield pd.DataFrame(
                rows, columns=["url", "node_id", "kind", "ordinal",
                               "parent_id", "depth", "text"])

    return src.mapInPandas(run, schema=STRUCTURE_SCHEMA)
