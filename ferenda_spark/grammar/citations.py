"""The multi-class citation grammar: one registry, two consumers.

The Spark restatement of the reference's LegalRef stack
(/root/reference/ferenda/sources/legal/se/legalref.py:64-141: ~12
citation classes loaded from EBNF grammar files, each with its own
URI formatter, plus within-document mutable state
``currentlaw``/``currentlynamedlaws`` at legalref.py:603-608,968-982
that later short-form references resolve against).

Architecture (Spark-first, not a port):

* Every class is a ``CitationClass`` whose production is built from
  grammar/combinators and compiled to ONE cross-engine regex.  The
  formatter is a *Column* expression (concat/when over
  ``regexp_extract`` group indices from the compiled grammar), so
  detection + URI minting run inside whole-stage codegen —
  ``regexp_extract_all`` → transform → flatten; no Python.
* Classes that only *read* per-document alias state get the state as
  a precomputed ``map<string,string>`` column (the alias map is one
  regex pass per document, before the section explode).
* Classes with *sequential* state (the ``currentlaw`` analog: a
  short-form "Section N of that document" binds to the most recently
  cited document) are resolved by ``stateful_reference_structs``: a
  zero-shuffle Catalyst ``aggregate`` fold over the document's
  in-order token stream.  The reference walks each document's text
  mutating parser state (legalref.py:962-982); here the same
  semantics is a per-row fold — sequential *within* a document,
  embarrassingly parallel *across* documents, no shuffle and no
  Python.

URI formatters apply the id-normalization family
(functions/text.py: strip leading zeros, expand two-digit years,
strip draft revisions — the normalize_sfsid/normalize_lawname analog,
legalref.py:609-629).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import BASE
from ferenda_spark.functions.text import (
    expand_year2_col,
    strip_draft_version_col,
    strip_leading_zeros_col,
)
from ferenda_spark.grammar.combinators import (
    Alt, Cap, Grammar, Lit, Opt, Ref, Rep, Rx, Seq,
)

NUM = Rx(r"\d+")
# the leading distributed-item list of a nested_struct chain
NESTED_ITEMS_RE = r"Items ((?:\d+)(?:(?:, | and )\d+)*)"
DOTTED = Rx(r"\d+(?:\.\d+)*")
YEAR2 = Rx(r"\d{2}")
YEAR4 = Rx(r"\d{4}")


@dataclass
class CitationClass:
    """One citation class: compiled production + Column formatter.

    ``formatter(m)`` maps the matched token (a string Column) to an
    ARRAY of target URIs (plural productions emit several; an
    unresolvable alias emits none).  ``updates_state``: the minted
    *document* URI this token leaves in the grammar state (None =
    class does not touch state).  ``consumes_state``: token resolves
    against state instead of minting standalone.
    """
    name: str
    compiled: object
    formatter: Callable[[Column], Column]
    updates_state: Callable[[Column], Column] | None = None
    consumes_state: bool = False
    #: literal substring every match necessarily contains — evaluated
    #: as a cheap ``contains`` BEFORE the class regex so fragments
    #: with no candidate marker skip the scan entirely (regex
    #: alternations are the per-row hot path at 10^12 docs)
    guard: str | None = None

    @property
    def pattern(self) -> str:
        return self.compiled.pattern

    def g(self, m: Column, name: str) -> Column:
        return F.regexp_extract(m, self.pattern, self.compiled.group_index(name))


def _arr(*cols: Column) -> Column:
    return F.array(*cols)


def _rfc_uri(num: Column) -> Column:
    return F.concat(F.lit(BASE + "res/rfc/"), strip_leading_zeros_col(num))


# ---------------------------------------------------------------------------
# class definitions (production + formatter pairs)
# ---------------------------------------------------------------------------

def build_classes() -> list[CitationClass]:
    classes: list[CitationClass] = []

    # 1/2. [RFC n], optionally section-qualified (rfc.py:430-452) —
    # one production so the sectioned form is not double-counted
    rfc = Seq(Opt(Seq(Lit("section "), Cap("sec", DOTTED), Lit(" of "))),
              Lit("[RFC "), Cap("num", NUM), Lit("]")).compile()

    def fmt_rfc(cls):
        def fmt(m):
            return _arr(F.concat(
                _rfc_uri(cls.g(m, "num")),
                F.when(cls.g(m, "sec") != "",
                       F.concat(F.lit("#S"), cls.g(m, "sec")))
                .otherwise(F.lit(""))))
        return fmt

    c = CitationClass("rfc", rfc, None)
    c.formatter = fmt_rfc(c)
    # bind the class eagerly (late-binding `c` would resolve to the
    # last class built)
    c.updates_state = (lambda cls: lambda m: _rfc_uri(cls.g(m, "num")))(c)
    classes.append(c)

    # 3. plural list: "RFCs 0012, 0112 and 0212" (the sfsrefs-style
    # list production, lagrum.ebnf) — one match, several links;
    # numbers may be zero-padded (RFC 0822 style) → normalized
    rfcs = Seq(Lit("RFCs "),
               Cap("list", Rep(NUM, Rx(r"(?:, | and )")))).compile()

    c = CitationClass("rfc_list", rfcs, None)
    c.formatter = (lambda cls: lambda m: F.transform(
        F.regexp_extract_all(cls.g(m, "list"), F.lit(r"\d+"), 0),
        _rfc_uri))(c)
    # state: the LAST element of the list (the reference's lastlaw
    # takes the final parsed ref)
    c.updates_state = (lambda cls: lambda m: _rfc_uri(
        F.regexp_extract(cls.g(m, "list"), r"(\d+)$", 1)))(c)
    classes.append(c)

    # 4/5. companion-series refs: BCP n / STD n (rfc.py header series)
    for series in ("BCP", "STD"):
        prod = Seq(Lit(series + " "), Cap("num", NUM)).compile()
        c = CitationClass(series.lower(), prod, None)
        c.formatter = (lambda cls, s=series: lambda m: _arr(F.concat(
            F.lit(f"{BASE}res/{s.lower()}/"),
            strip_leading_zeros_col(cls.g(m, "num")))))(c)
        classes.append(c)

    # 6. internet-draft: version suffix stripped (normalize analog of
    # normalize_sfsid — the -NN revision is not part of the identity)
    draft = Cap("slug", Rx(r"draft-[a-z]+(?:-[a-z0-9]+)+-\d{2}")).compile()
    c = CitationClass("draft", draft, None)
    c.formatter = (lambda cls: lambda m: _arr(F.concat(
        F.lit(BASE + "res/draft/"),
        strip_draft_version_col(cls.g(m, "slug")))))(c)
    classes.append(c)

    # 7. DOI — minted under the public resolver
    doi = Seq(Lit("doi:"),
              Cap("id", Rx(r"10\.\d{4,5}/[A-Za-z0-9.-]*[A-Za-z0-9]"))
              ).compile()
    c = CitationClass("doi", doi, None)
    c.formatter = (lambda cls: lambda m: _arr(
        F.concat(F.lit("https://doi.org/"), cls.g(m, "id"))))(c)
    classes.append(c)

    # 8. ISO standard, edition year stripped from the identity
    iso = Seq(Lit("ISO "), Cap("num", NUM),
              Opt(Seq(Lit(":"), Cap("year", YEAR4)))).compile()
    c = CitationClass("iso", iso, None)
    c.formatter = (lambda cls: lambda m: _arr(F.concat(
        F.lit(BASE + "res/iso/"), cls.g(m, "num"))))(c)
    classes.append(c)

    # 9. EU directive "Directive 95/46/EC" — two-digit year expanded
    # (the eulag.ebnf class; year normalization like normalize_sfsid)
    eu = Seq(Lit("Directive "), Cap("year", YEAR2), Lit("/"),
             Cap("num", NUM), Lit("/EC")).compile()
    c = CitationClass("eu_directive", eu, None)
    c.formatter = (lambda cls: lambda m: _arr(F.concat(
        F.lit(BASE + "res/eu/dir/"), expand_year2_col(cls.g(m, "year")),
        F.lit("/"), cls.g(m, "num"))))(c)
    classes.append(c)

    # 10. EU case law "Case C-101/01" (the euratt.ebnf class)
    case = Seq(Lit("Case C-"), Cap("num", NUM), Lit("/"),
               Cap("year", YEAR2)).compile()
    c = CitationClass("ecj_case", case, None)
    c.formatter = (lambda cls: lambda m: _arr(F.concat(
        F.lit(BASE + "res/ecj/C-"), cls.g(m, "num"), F.lit("-"),
        expand_year2_col(cls.g(m, "year")))))(c)
    classes.append(c)

    # 11. context-distributing list: "Articles 5 and 6 of Directive
    # 1995/46/EC" — ONE match, SEVERAL links, each combining a list
    # item with the shared outer context (the reference's nested
    # sfsrefs/lagrum.ebnf distributed lists: "2 kap. 3 och 4 §§"
    # yields two links sharing the chapter+law context,
    # legalref.py:170-180 dynamic root production + find_attributes
    # list semantics).  The directive context deliberately uses a
    # 4-digit year so the flat eu_directive class (YEAR2) cannot also
    # match inside the list production — the outer production owns
    # the whole span, like the reference's recursive parse.
    # "Articles? " accepts the singular form too ("Article 8 of
    # Directive 2002/58/EC") — Rep is part (sep part)*, so a single
    # ordinal already satisfies the list capture.  Found by the golden
    # fixture audit: the singular form previously matched NO class
    # (eu_directive is YEAR2-only) and the citation was silently lost.
    art = Seq(Rx(r"Articles? "),
              Cap("arts", Rep(NUM, Rx(r"(?:, | and )"))),
              Lit(" of Directive "), Cap("year", YEAR4), Lit("/"),
              Cap("num", NUM), Lit("/EC")).compile()
    c = CitationClass("eu_article", art, None)
    c.formatter = (lambda cls: lambda m: F.transform(
        F.regexp_extract_all(cls.g(m, "arts"), F.lit(r"\d+"), 0),
        lambda a: F.concat(
            F.lit(BASE + "res/eu/dir/"), cls.g(m, "year"), F.lit("/"),
            cls.g(m, "num"), F.lit("#A"), a)))(c)
    classes.append(c)

    # 12. RECURSIVE structure chain (Grammar/Ref): "Items 5 and 6 of
    # Section 4 of Chapter 2 of RFC 1234" — the reference's nested
    # sfsrefs→sfsref chapter/section/piece/item chains with
    # distributed lists (res/ebnf/lagrum.ebnf, legalref.py:170-180
    # dynamic root + find_attributes list semantics).  The
    # productions encode the CANONICAL level hierarchy
    # (item(s) ⊂ section ⊂ chapter, innermost-first, each level at
    # most once) exactly as lagrum.ebnf's kapitel/paragraf/stycke/
    # punkt rules do — an earlier unit-chain form (any unit " of "
    # any unit, self-recursive) also matched non-canonical chains
    # like "Section 4 of Section 5 of RFC 1" whose context the
    # single-occurrence formatter extraction silently dropped,
    # minting wrong URIs on open-domain text.  Grammar.compile
    # expands the Ref chain structurally (max_depth bounds any
    # self-recursive rule; these are exact, not approximated).  One
    # match distributes the leading item list over the SHARED outer
    # chapter/section context: #C2.S4.I5 and #C2.S4.I6 from one
    # token.
    itemu = Alt(Seq(Lit("Items "), Rep(NUM, Rx(r"(?:, | and )"))),
                Seq(Lit("Item "), NUM))
    nested = Grammar(
        {"chap": Seq(Lit("Chapter "), NUM),
         "sec": Alt(Seq(Lit("Section "), NUM, Lit(" of "), Ref("chap")),
                    Seq(Lit("Section "), NUM),
                    Ref("chap")),
         "locref": Alt(Seq(itemu, Lit(" of "), Ref("sec")),
                       itemu,
                       Ref("sec"))},
        Seq(Cap("loc", Ref("locref")), Lit(" of RFC "),
            Cap("num", NUM)),
        max_depth=3).compile()

    _ITEMS_RE = NESTED_ITEMS_RE

    def fmt_nested(cls):
        def fmt(m):
            loc = cls.g(m, "loc")
            doc = _rfc_uri(cls.g(m, "num"))
            chap = F.regexp_extract(loc, r"Chapter (\d+)", 1)
            sec = F.regexp_extract(loc, r"Section (\d+)", 1)
            one = F.regexp_extract(loc, r"Item (\d+)", 1)
            many = F.regexp_extract(loc, _ITEMS_RE, 1)
            # outer context: C before S (URI order is outermost-first,
            # the text reads innermost-first); when() without
            # otherwise yields null, which concat_ws skips
            ctx = F.concat_ws(
                ".",
                F.when(chap != "", F.concat(F.lit("C"), chap)),
                F.when(sec != "", F.concat(F.lit("S"), sec)))
            items = F.when(
                many != "",
                F.regexp_extract_all(many, F.lit(r"\d+"), 0)).when(
                one != "", F.array(one)).otherwise(
                F.array().cast("array<string>"))
            return F.when(
                F.size(items) > 0,
                F.transform(items, lambda i: F.concat(
                    doc, F.lit("#"),
                    F.when(ctx != "", F.concat(ctx, F.lit(".")))
                    .otherwise(F.lit("")),
                    F.lit("I"), i))
            ).otherwise(F.array(F.concat(doc, F.lit("#"), ctx)))
        return fmt

    c = CitationClass("nested_struct", nested, None)
    c.formatter = fmt_nested(c)
    classes.append(c)

    # cheap contains-prefilter per class (see CitationClass.guard)
    guards = {"rfc": "[RFC", "rfc_list": "RFCs ", "bcp": "BCP ",
              "std": "STD ", "draft": "draft-", "doi": "doi:",
              "iso": "ISO ", "eu_directive": "Directive ",
              "ecj_case": "Case C-", "eu_article": "Article",
              "nested_struct": " of RFC "}
    for cc in classes:
        cc.guard = guards[cc.name]

    return classes


CLASSES = build_classes()

# alias productions stay separate: definition is scanned per-document
# into the alias map; mentions resolve through that map column
ALIAS_DEF = Seq(Lit("["), Cap("name", Rx(r"[A-Z]{3,8}")),
                Lit("] refers to [RFC "), Cap("num", NUM),
                Lit("]")).compile()
ALIAS_MENTION = Seq(Lit("["), Cap("name", Rx(r"[A-Z]{3,8}")),
                    Lit("]")).compile()

# bare URL with trailing-punctuation exclusion
# (citationpatterns.py:16-36)
URL = Cap("url", Rx(r'https?://[^\s<>" ]+')).compile()
TRAILING_PUNCT_RE = r"[.,;:!?)\]]+$"

# stateful short-form: "Section N of that document" — resolves
# against the most recently cited document (currentlaw semantics,
# legalref.py:962-982)
THATDOC = Seq(Lit("Section "), Cap("sec", DOTTED),
              Lit(" of that document")).compile()


def alias_map(text: Column) -> Column:
    """Per-document alias → target-number map (one pass).

    A document may define the same alias several times (boilerplate
    duplicated by a crawl, or a genuine redefinition); the reference
    mutates a dict so the LAST definition wins (legalref.py:603-608).
    ``map_from_arrays`` would instead throw DUPLICATED_MAP_KEY and
    kill the stage, so duplicates are dropped keeping the last
    occurrence before the map is built.

    Project the map as its own column (``ALIASES``, as
    ``fused.page_triples`` does) before any lambda reads it, and pass
    that column, never this expression, into ``cite_objs`` /
    ``stateful_reference_structs`` under a
    ``transform``/``aggregate``: Spark does not eliminate common
    subexpressions inside higher-order functions, so an inlined map
    reruns both regexes and the O(n²) dedup for every section and
    every token."""
    names = F.regexp_extract_all(text, F.lit(ALIAS_DEF.pattern),
                                 ALIAS_DEF.group_index("name"))
    nums = F.regexp_extract_all(text, F.lit(ALIAS_DEF.pattern),
                                ALIAS_DEF.group_index("num"))
    entries = F.zip_with(names, nums, lambda k, v: F.struct(
        k.alias("k"), v.alias("v")))
    # fold in document order: a definition replaces any earlier one of
    # the same alias, so survivors keep their last-occurrence order
    last = F.aggregate(
        entries, F.array().cast("array<struct<k:string,v:string>>"),
        lambda acc, e: F.concat(
            F.filter(acc, lambda o: o["k"] != e["k"]), F.array(e)))
    return F.map_from_entries(last)


#: column name of the projected per-page alias map
ALIASES = "aliases"


def cite_objs(text: Column, aliases: Column) -> Column:
    """Distinct citation-target URIs in one text — EVERY class in one
    projection: per-class regexp_extract_all → formatter → flatten.
    Map-only; fused.triple_array mints the citation triples from it.

    Each class regex runs behind its ``guard`` substring prefilter —
    ``contains`` is a plain scan, the regex alternation is not, and on
    open-domain text most fragments carry no candidate marker at all.
    """
    _empty = F.array().cast("array<string>")
    per_class = [
        F.when(
            text.contains(cls.guard),
            F.flatten(F.transform(
                F.regexp_extract_all(text, F.lit(cls.pattern), 0),
                cls.formatter))).otherwise(_empty)
        for cls in CLASSES
    ]
    alias_objs = F.when(text.contains("["), F.transform(
        F.filter(
            F.transform(
                F.regexp_extract_all(text, F.lit(ALIAS_MENTION.pattern),
                                     ALIAS_MENTION.group_index("name")),
                lambda n: aliases[n]),
            lambda num: num.isNotNull()),
        _rfc_uri)).otherwise(_empty)
    url_objs = F.when(text.contains("http"), F.transform(
        F.regexp_extract_all(text, F.lit(URL.pattern), 0),
        lambda m: F.regexp_replace(m, TRAILING_PUNCT_RE, ""))
    ).otherwise(_empty)
    return F.array_distinct(
        F.concat(*per_class, alias_objs, url_objs))


# ---------------------------------------------------------------------------
# sequential state: the currentlaw fold
# ---------------------------------------------------------------------------

# one scan finds every state-relevant token in document order
_STATE_CLASSES = [c for c in CLASSES if c.updates_state is not None]
STATE_SCAN_RE = "|".join(
    ["(?:" + c.pattern + ")" for c in _STATE_CLASSES]
    + ["(?:" + THATDOC.pattern + ")",
       "(?:" + ALIAS_MENTION.pattern + ")"])


def _classify_update(m: Column, aliases: Column) -> Column:
    """State left by token m (null = no state change)."""
    upd = F.lit(None).cast("string")
    # evaluate in class order; first matching class wins
    for cls in reversed(_STATE_CLASSES):
        marker = F.regexp_extract(m, cls.pattern, 0)
        upd = F.when(marker == m, cls.updates_state(m)).otherwise(upd)
    # alias mention (resolved through the per-doc map)
    alias_name = F.when(
        F.regexp_extract(m, ALIAS_MENTION.pattern, 0) == m,
        F.regexp_extract(m, ALIAS_MENTION.pattern,
                         ALIAS_MENTION.group_index("name")))
    resolved = aliases[alias_name]
    upd = F.when(resolved.isNotNull(), _rfc_uri(resolved)).otherwise(upd)
    return upd


def stateful_reference_structs(doc_uri: Column, preamble: Column,
                               sections: Column,
                               aliases: Column) -> Column:
    """Array of (subj=frag, obj=target) for short-form stateful refs.

    Token stream = preamble tokens then each section's tokens, in
    document order (the extract preserves source order inside the
    ``sections`` array); the fold carries ``cur`` (the currentlaw
    analog) and appends a resolved reference whenever a consuming
    token arrives while state is set.  Unresolvable short-forms
    (no prior citation) emit nothing — the reference's behavior when
    currentlaw is None (legalref.py:888-905 falls back to no link).
    """
    def toks_of(subj: Column, text: Column) -> Column:
        # contains-prefilter mirroring the per-class guards: a text
        # with none of the state-relevant markers skips the (large)
        # STATE_SCAN_RE alternation entirely
        guard = F.lit(False)
        for lit in sorted({c.guard for c in _STATE_CLASSES}
                          | {"[", "that document"}):
            guard = guard | text.contains(lit)
        return F.when(guard, F.transform(
            F.regexp_extract_all(text, F.lit(STATE_SCAN_RE), 0),
            lambda m: F.struct(subj.alias("frag"), m.alias("m")))
        ).otherwise(
            F.array().cast("array<struct<frag:string,m:string>>"))

    pre = toks_of(doc_uri, preamble)
    secs = F.flatten(F.transform(
        sections,
        lambda sec: toks_of(
            F.concat(doc_uri, F.lit("#S"), sec["ordinal"]), sec["text"])))
    stream = F.concat(pre, secs)

    init = F.named_struct(
        F.lit("cur"), F.lit(None).cast("string"),
        F.lit("out"),
        F.array().cast("array<struct<frag:string,obj:string>>"))

    def step(acc, tok):
        m = tok["m"]
        is_consume = F.regexp_extract(m, THATDOC.pattern, 0) == m
        sec = F.regexp_extract(m, THATDOC.pattern,
                               THATDOC.group_index("sec"))
        emitted = F.when(
            is_consume & acc["cur"].isNotNull(),
            F.array(F.struct(
                tok["frag"].alias("frag"),
                F.concat(acc["cur"], F.lit("#S"), sec).alias("obj")))
        ).otherwise(F.array().cast("array<struct<frag:string,obj:string>>"))
        new_cur = F.when(is_consume, acc["cur"]).otherwise(
            F.coalesce(_classify_update(m, aliases), acc["cur"]))
        return F.named_struct(
            F.lit("cur"), new_cur,
            F.lit("out"), F.concat(acc["out"], emitted))

    return F.aggregate(stream, init, step, lambda acc: acc["out"])

