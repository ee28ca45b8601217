"""robots.txt (RFC 9309) compliance filtering for crawl corpora.

A crawl-derived training corpus is expected to respect robots
exclusions; retroactive compliance filtering (drop pages a site's
robots.txt disallows) is a standard curation step. This module
implements the RFC 9309 matching model:

- group selection: every record group whose User-agent matches the
  product token (case-insensitive, exact), else every ``*`` group —
  the selected groups' rules merge into one;
- rule matching on the URL path (+query) with ``*`` wildcards and
  the ``$`` end anchor;
- the LONGEST matching pattern wins; on a tie, Allow wins;
- no matching rule, or no rules for the host → allowed.

Scale shape: robots bodies are one small blob per HOST (millions of
hosts, bytes each — tiny next to a 100 TB page corpus). They parse
into per-host rule ARRAYS that broadcast-join onto pages keyed by
host; the verdict per page is then a pure Catalyst expression
(filter + array_max over the rule array) — the corpus never
shuffles, and the whole filter is one broadcast hash join inside
whole-stage codegen.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField,
    StructType,
)

from xapian_spark.pipeline.urls import _RFC3986, host_expr


def parse_robots(text: str, user_agent: str = "*"
                 ) -> List[Tuple[bool, str]]:
    """robots.txt body → [(allow, pattern)] for the matching agent
    groups (RFC 9309 §2.2.1: exact product-token groups win over the
    ``*`` groups; multiple User-agent lines share a group; every
    matching group's rules merge into one)."""
    groups: List[Tuple[List[str], List[Tuple[bool, str]]]] = []
    agents: List[str] = []
    rules: List[Tuple[bool, str]] = []
    in_rules = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_rules:
                groups.append((agents, rules))
                agents, rules = [], []
                in_rules = False
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_rules = True
            if val:  # an empty Disallow means "allow all" — no rule
                rules.append((key == "allow", val))
            elif not agents:
                continue
    if agents or rules:
        groups.append((agents, rules))
    ua = user_agent.lower()
    for token in ([ua] if ua != "*" else []) + ["*"]:
        hits = [rs for ags, rs in groups if token in ags]
        if hits:
            return [r for rs in hits for r in rs]
    return []


def _pattern_regex(pattern: str) -> str:
    """RFC 9309 pattern → anchored Java-compatible regex: ``*`` is
    any run, ``$`` (final only) anchors the end."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if c == "*" else re.escape(c) for c in body)
    return "^" + rx + ("$" if anchored else "")


RULES_SCHEMA = StructType([
    StructField("host", StringType(), False),
    StructField("rules", ArrayType(StructType([
        StructField("rx", StringType(), False),
        StructField("plen", IntegerType(), False),
        StructField("allow", BooleanType(), False),
    ]), False), False),
])


def robots_rules(robots: DataFrame, host_col: str = "host",
                 content_col: str = "content",
                 user_agent: str = "*") -> DataFrame:
    """(host, robots.txt bytes) → (host, rules ARRAY<STRUCT<rx,
    plen, allow>>) — one row per host, ready to broadcast. Pattern
    length (RFC's specificity measure) is precomputed so the match
    verdict needs no string work beyond the rlike."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            hosts, rule_arrays = [], []
            for h, blob in zip(pdf[host_col], pdf[content_col]):
                body = bytes(blob or b"").decode("utf-8", "replace")
                rs = [{"rx": _pattern_regex(p), "plen": len(p),
                       "allow": a}
                      for a, p in parse_robots(body, user_agent)]
                hosts.append(h)
                rule_arrays.append(rs)
            yield pd.DataFrame({"host": hosts, "rules": rule_arrays})

    return robots.mapInPandas(gen, RULES_SCHEMA)


def _path_expr(url: Column) -> Column:
    path = F.regexp_extract(url, _RFC3986, 3)
    query = F.regexp_extract(url, _RFC3986, 4)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.when(query == "", path) \
        .otherwise(F.concat(path, F.lit("?"), query))


def robots_filter(pages: DataFrame, rules: DataFrame,
                  url_col: str = "url",
                  keep_col: str = None) -> DataFrame:
    """Apply RFC 9309 verdicts: broadcast the per-host rule arrays
    onto pages and keep pages whose longest-matching rule allows
    (Allow wins ties; unmatched or rule-less hosts pass). With
    keep_col set, annotates instead of filtering (for audits).
    One broadcast join; the corpus side never shuffles."""
    path = _path_expr(F.col(url_col))
    joined = pages.withColumn("__host", host_expr(F.col(url_col))) \
        .join(F.broadcast(rules.withColumnRenamed("host", "__host")),
              "__host", "left")
    matched = F.filter(
        F.coalesce(F.col("rules"), F.array()),
        lambda r: F.regexp_like(path, r["rx"]))
    best = F.array_max(F.transform(
        matched,
        lambda r: F.struct(r["plen"].alias("plen"),
                           r["allow"].cast("int").alias("allow"))))
    verdict = F.coalesce(best["allow"] == 1, F.lit(True))
    if keep_col:
        return joined.withColumn(keep_col, verdict) \
            .drop("__host", "rules")
    return joined.filter(verdict).drop("__host", "rules")
