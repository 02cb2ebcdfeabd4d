"""RFC 9309 robots.txt parsing + politeness filtering (S1/S2 side).

The reference crawls politely one process at a time (throttled
requests in ``download()``, /root/reference/ferenda/
documentrepository.py:964-1040) but never consults robots.txt — its
sources are a handful of cooperating government sites.  A
Common-Crawl-scale crawler MUST: every frontier url is admitted or
dropped by its host's robots rules before a fetch is scheduled, and
at 10^12 urls that decision has to run inside the scan, not in a
driver-side loop.

Two operators:

- :func:`parse_robots`: ``(domain, robots_txt)`` → ``(domain,
  rules)`` where ``rules`` is the array of ``(regex, prec,
  is_allow)`` for the group that governs ``agent``.  Group selection
  per RFC 9309 §2.2.1: the group(s) whose user-agent line names the
  product token exactly (case-insensitive) — merged when several do
  — else the ``*`` group(s); non-matching groups are IGNORED, never
  merged in.  Patterns compile to anchored regexes (``*`` → ``.*``,
  a trailing ``$`` → end anchor, every other octet literal, §2.2.3);
  ``prec`` = UTF-8 octet length of the raw pattern (§2.2.2
  longest-match precedence — wildcard octets count, the pinned
  choice mirroring the reference parser Google published).  Parsing
  is one Arrow ``mapInPandas`` pass — robots files are ≤500 KiB by
  spec and one row per domain, so this is the cheap side — with a
  pure-Python twin (:func:`parse_robots_txt`) for tests/fixtures.

- :func:`robots_decisions` / :func:`robots_filter`: corpus × rules —
  ONE equi-join on the url's host (rules side is one short row per
  domain: broadcast when it fits, AQE shuffle join over the shared
  host key otherwise); the allow/deny decision then folds the rules
  array scan-side per url (``filter`` matching rules → ``array_max``
  of ``(prec, is_allow)`` structs: longest pattern wins, allow wins
  length ties because ``true > false``) — no per-rule row explode,
  no second shuffle, pure codegen after the join.  Urls whose host
  has no robots row, an empty/unparseable robots file, or no
  matching rule are ALLOWED (RFC 9309 §2.3.1: absence means allow).

Non-rule records (``sitemap``) are ignored and do not split a
user-agent run; a rule line before any user-agent line is ignored
(it belongs to no group).  ``crawl-delay`` — non-standard but
universally emitted — is read per the same group selection
(:func:`parse_crawl_delay`; the max across the chosen groups, i.e.
the politest reading) and carried on :func:`parse_robots` output as
``crawl_delay_millis`` for crawl.py's :func:`~ferenda_spark.
operators.crawl.schedule_fetches`.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)

from ferenda_spark.functions.web import url_host_col, url_path_col

RULES_TYPE = ArrayType(StructType([
    StructField("regex", StringType()),
    StructField("prec", IntegerType()),
    StructField("is_allow", BooleanType()),
]))


def compile_robots_pattern(pattern: str) -> str:
    """Robots path pattern → anchored regex (valid for both Python
    ``re`` and the JVM): ``*`` matches any octet sequence, a trailing
    ``$`` anchors the end, a ``$`` anywhere else is a literal octet
    (RFC 9309 §2.2.3); everything else is escaped."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = ["^"]
    for ch in body:
        out.append(".*" if ch == "*" else re.escape(ch))
    if anchored:
        out.append("$")
    return "".join(out)


def _parse_groups(text: str) -> list[tuple[set, list, list]]:
    """robots.txt → ``(agents, rules, delays)`` per group, where
    ``rules`` is ``[(pattern, is_allow)]`` and ``delays`` the group's
    crawl-delay values in millis, all in file order."""
    groups: list[tuple[set, list, list]] = []
    in_agent_run = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run:
                groups.append((set(), [], []))
            in_agent_run = True
            groups[-1][0].add(value.lower())
        elif field in ("allow", "disallow"):
            in_agent_run = False
            if groups and value:
                groups[-1][1].append((value, field == "allow"))
        elif field == "crawl-delay":
            in_agent_run = False
            if groups:
                try:
                    millis = int(float(value) * 1000)
                except ValueError:
                    continue  # garbage delay: ignored
                if millis >= 0:
                    groups[-1][2].append(millis)
        # sitemap/unknown: ignored, run not split
    return groups


def _chosen_groups(groups: list, agent: str) -> list:
    agent = agent.lower()
    exact = [g for g in groups if agent in g[0]]
    return exact if exact else [g for g in groups if "*" in g[0]]


def parse_robots_txt(text: str, agent: str = "*") -> list[dict]:
    """Pure-Python twin of :func:`parse_robots`: the rule list of the
    group governing ``agent`` as ``{pattern, regex, prec, is_allow}``
    dicts, in file order.  Empty ``disallow:`` values are the
    spec's allow-all marker, not a rule; comments strip at ``#``."""
    chosen: list[tuple[str, bool]] = []
    for _, rules, _ in _chosen_groups(_parse_groups(text), agent):
        chosen.extend(rules)
    return [{"pattern": p, "regex": compile_robots_pattern(p),
             "prec": len(p.encode("utf-8")), "is_allow": a}
            for p, a in chosen]


def parse_crawl_delay(text: str, agent: str = "*") -> int | None:
    """Pure-Python twin: the crawl delay in millis governing
    ``agent`` — the MAX across the chosen groups' crawl-delay records
    (the politest reading when several apply), NULL when none."""
    delays = [d for _, _, ds in _chosen_groups(_parse_groups(text),
                                               agent) for d in ds]
    return max(delays) if delays else None


def parse_robots(robots: DataFrame, agent: str = "*") -> DataFrame:
    """``(domain, robots_txt)`` → ``(domain, rules: RULES_TYPE,
    crawl_delay_millis)`` for ``agent`` — one Arrow batch pass, one
    output row per input row (a domain with no applicable rules keeps
    an empty array, which :func:`robots_decisions` reads as
    allow-all; no crawl-delay record keeps NULL)."""
    out_schema = StructType([
        StructField("domain", StringType()),
        StructField("rules", RULES_TYPE),
        StructField("crawl_delay_millis", LongType()),
    ])

    def parse_batches(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "domain": pdf["domain"],
                "rules": [
                    [{"regex": r["regex"], "prec": r["prec"],
                      "is_allow": r["is_allow"]}
                     for r in parse_robots_txt(t, agent)]
                    for t in pdf["robots_txt"]],
                "crawl_delay_millis": pd.array(
                    [parse_crawl_delay(t, agent) for t in pdf["robots_txt"]],
                    dtype="Int64"),
            })

    return robots.select("domain", "robots_txt").mapInPandas(
        parse_batches, schema=out_schema)


def robots_decisions(docs: DataFrame, rules: DataFrame) -> DataFrame:
    """Annotate ``docs`` with ``robots_allowed`` (boolean) and
    ``robots_prec`` (octet length of the winning rule; NULL when no
    rule matched).  ``rules`` is :func:`parse_robots` output, one
    short row per domain, and is broadcast."""
    r = F.broadcast(rules.select("domain", "rules"))
    joined = (docs
              .withColumn("__host", url_host_col(F.col("url")))
              .withColumn("__path", url_path_col(F.col("url")))
              .join(r, F.col("__host") == F.col("domain"), "left")
              .withColumn("__best", F.array_max(F.transform(
                  F.filter(F.col("rules"), lambda x: F.regexp_like(
                      F.col("__path"), x["regex"])),
                  lambda x: F.struct(x["prec"].alias("prec"),
                                     x["is_allow"].alias("allow"))))))
    return (joined
            .withColumn("robots_prec", F.col("__best.prec"))
            .withColumn("robots_allowed",
                        F.coalesce(F.col("__best.allow"), F.lit(True)))
            .drop("domain", "rules", "__host", "__path", "__best"))


def robots_filter(docs: DataFrame, rules: DataFrame) -> DataFrame:
    """Keep only the urls ``agent`` may fetch, decision columns
    dropped — the frontier-admission form."""
    out = robots_decisions(docs, rules)
    return (out.filter(F.col("robots_allowed"))
            .drop("robots_allowed", "robots_prec"))
