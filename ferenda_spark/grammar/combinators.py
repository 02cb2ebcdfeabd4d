"""Grammar combinators that compile to cross-engine regexes.

The Spark restatement of the reference's EBNF grammar machinery
(/root/reference/ferenda/sources/legal/se/legalref.py:108-141 loads
simpleparse EBNF productions; res/ebnf/*.ebnf define ~12 citation
classes as Seq/Alt/Opt productions over terminals).  The reference
parses with a Python chart parser per string; at 10^12 documents the
parse must stay JVM-side, so here each production COMPILES to a
single regular expression executed via ``regexp_extract_all`` inside
whole-stage codegen.

Two constraints shape the compiler:

* **RE2-safe**: the correctness oracle runs the same pattern in
  DuckDB (RE2), which has no lookahead/lookbehind/backreferences —
  so the combinator set is exactly the regular fragment of EBNF
  (Seq, Alt, Opt, Rep, literals, character-class terminals).  This
  covers every citation production in the reference's grammar files
  (they are all regular — simpleparse EBNF without recursion).
* **Group bookkeeping**: URI formatters need sub-matches ("the
  section number", "the RFC number").  ``Cap`` marks a production as
  a capture; compilation assigns group indices in source order and
  the compiled grammar maps name → index, so Spark
  (``regexp_extract(m, pat, idx)``) and DuckDB
  (``regexp_extract(m, pat, idx)``) agree on numbering — both number
  by opening parenthesis.

Genuinely recursive productions (nested element trees) do not
compile to regexes; those go through the structure parser
(operators/structure.py) — the same split the reference makes between
citation grammars and its document-structure parsers.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class Production:
    """Base class; subclasses implement _emit(counter) -> regex str."""

    def _emit(self, groups: list) -> str:  # pragma: no cover - abstract
        raise NotImplementedError

    def compile(self) -> "Compiled":
        groups: list[str | None] = []
        pattern = self._emit(groups)
        idx = {}
        for i, name in enumerate(groups, start=1):
            if name is not None:
                if name in idx:
                    raise ValueError(f"duplicate capture name {name!r}")
                idx[name] = i
        return Compiled(pattern=pattern, groups=idx,
                        n_groups=len(groups))


@dataclass
class Lit(Production):
    """Literal text (regex-escaped)."""
    text: str

    def _emit(self, groups):
        return re.escape(self.text)


@dataclass
class Rx(Production):
    """Raw regex terminal. Must not contain capturing groups — use
    ``(?:...)`` inside, or wrap in Cap to capture the whole token."""
    pattern: str

    def __post_init__(self):
        # reject accidental capturing groups, which would silently
        # shift every later group index
        if re.search(r"(?<!\\)\((?!\?)", self.pattern):
            raise ValueError(
                f"Rx pattern {self.pattern!r} contains a capturing "
                "group; use (?:...) or Cap")
        for banned in ("(?=", "(?!", "(?<=", "(?<!"):
            if banned in self.pattern:
                raise ValueError(
                    f"Rx pattern {self.pattern!r} uses lookaround — "
                    "not RE2-safe")

    def _emit(self, groups):
        return self.pattern


@dataclass
class Seq(Production):
    parts: tuple

    def __init__(self, *parts):
        self.parts = tuple(_lift(p) for p in parts)

    def _emit(self, groups):
        return "".join(p._emit(groups) for p in self.parts)


@dataclass
class Alt(Production):
    """Ordered alternatives — like the reference's production
    alternation, first match wins at a given position."""
    parts: tuple

    def __init__(self, *parts):
        self.parts = tuple(_lift(p) for p in parts)

    def _emit(self, groups):
        return "(?:" + "|".join(p._emit(groups) for p in self.parts) + ")"


@dataclass
class Opt(Production):
    part: Production

    def __init__(self, part):
        self.part = _lift(part)

    def _emit(self, groups):
        return "(?:" + self.part._emit(groups) + ")?"


@dataclass
class Rep(Production):
    """``part (sep part)*`` — list productions (the reference's
    plural ``sfsrefs``-style comma/and lists)."""
    part: Production
    sep: Production

    def __init__(self, part, sep):
        self.part = _lift(part)
        self.sep = _lift(sep)

    def _emit(self, groups):
        # the repeated tail must not re-capture: captures inside a
        # quantifier hold only the last repetition in both engines,
        # so list items are re-scanned from the Cap'd whole instead
        p = self.part._emit(groups)
        n_before = len(groups)
        s = self.sep._emit(groups)
        tail_p = self.part._emit(groups)
        if len(groups) != n_before:
            raise ValueError("Rep body/sep must not contain Cap — "
                             "capture the whole list and re-scan items")
        del groups[n_before:]
        return f"{p}(?:{s}{tail_p})*"


@dataclass
class Cap(Production):
    """Named capturing group."""
    name: str
    part: Production

    def __init__(self, name, part):
        self.name = name
        self.part = _lift(part)

    def _emit(self, groups):
        groups.append(self.name)  # capture index = position in groups
        inner = self._emit_inner(groups)
        return "(" + inner + ")"

    def _emit_inner(self, groups):
        return self.part._emit(groups)


def _lift(p):
    return Lit(p) if isinstance(p, str) else p


@dataclass
class Ref(Production):
    """Reference to a named production of a :class:`Grammar` — the
    recursion point.  Only compiles through ``Grammar.compile``,
    which expands references structurally first."""
    name: str

    def _emit(self, groups):
        raise ValueError(
            f"Ref({self.name!r}) can only compile via Grammar.compile")


class _DepthLimit(Exception):
    """Internal: expansion of this branch exceeded max_depth."""


@dataclass
class Grammar:
    """Named-production grammar with recursion, compiled to a regex
    by bounded-depth expansion — the regular approximation of a
    recursive EBNF ruleset.

    The reference's citation grammars ARE recursive where structure
    references nest (res/ebnf/lagrum.ebnf ``sfsrefs`` → ``sfsref`` →
    kapitel/paragraf/stycke/punkt chains, loaded with a dynamic root
    production at legalref.py:108-141,170-180).  A chart parser
    handles that per string; at 10^12 documents matching must stay
    inside whole-stage codegen, so ``compile`` unrolls each ``Ref``
    up to ``max_depth`` occurrences per rule on a branch:

    * an :class:`Alt` drops alternatives whose expansion exceeds the
      limit (keeping the non-recursive base cases — exactly how a
      regular approximation truncates a CFG);
    * an :class:`Opt` whose body exceeds the limit becomes empty;
    * if NO alternative survives anywhere, compilation fails loudly
      rather than silently matching nothing.

    Real-world citation chains bottom out at 3-4 structural levels
    (chapter/section/piece/item), so a small ``max_depth`` is exact
    in practice while keeping the pattern RE2-safe for the DuckDB
    oracle.  ``Cap`` inside a rule expanded more than once raises
    the duplicate-capture error from ``Production.compile`` —
    capture the whole span and re-scan, as :class:`Rep` does."""
    rules: dict
    root: Production
    max_depth: int = 3

    def expand(self) -> Production:
        try:
            return self._x(_lift(self.root), [])
        except _DepthLimit as e:
            raise ValueError(
                "grammar is recursive with no non-recursive "
                f"alternative within max_depth={self.max_depth}: {e}")

    def compile(self) -> "Compiled":
        return self.expand().compile()

    def _x(self, p: Production, stack: list) -> Production:
        if isinstance(p, Ref):
            if p.name not in self.rules:
                raise ValueError(f"unknown production {p.name!r}")
            if stack.count(p.name) >= self.max_depth:
                raise _DepthLimit(p.name)
            return self._x(_lift(self.rules[p.name]), stack + [p.name])
        if isinstance(p, Seq):
            return Seq(*[self._x(x, stack) for x in p.parts])
        if isinstance(p, Alt):
            kept = []
            for x in p.parts:
                try:
                    kept.append(self._x(x, stack))
                except _DepthLimit:
                    continue
            if not kept:
                raise _DepthLimit(" | ".join(map(repr, p.parts)))
            return Alt(*kept)
        if isinstance(p, Opt):
            try:
                return Opt(self._x(p.part, stack))
            except _DepthLimit:
                return Lit("")
        if isinstance(p, Rep):
            return Rep(self._x(p.part, stack), self._x(p.sep, stack))
        if isinstance(p, Cap):
            return Cap(p.name, self._x(p.part, stack))
        return p  # Lit / Rx terminals


@dataclass
class Compiled:
    """A compiled production: the pattern and name → group index."""
    pattern: str
    groups: dict = field(default_factory=dict)
    n_groups: int = 0

    def group_index(self, name: str) -> int:
        return self.groups[name]

    def finditer(self, text: str):
        """Python-side evaluation (tests / FSM fallback)."""
        return re.finditer(self.pattern, text)
