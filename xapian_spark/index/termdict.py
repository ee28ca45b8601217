"""Driver-side term dictionary: term → (tf, cf) without a job per query.

The reference gathers per-query term statistics from the sub-databases
(multimatch.cc prepare_sub_matches). Here a whole term_stats table
(term, tf, cf) is collected to the driver ONCE per index and cached by
the caller (Enquire over the flat index, SegmentIndex for WAND), so
stats gathering then costs no Spark job. Past TERM_DICT_CACHE_MAX
entries the dictionary is not kept and each lookup is one filtered
collect instead, which keeps driver memory bounded by design.
"""

from __future__ import annotations

from typing import Dict, Iterable, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TERM_DICT_CACHE_MAX = 2_000_000

TermFreqs = Dict[str, Tuple[int, int]]


def sql_string(s: str) -> str:
    """A Spark SQL string literal: the hex of its UTF-8 bytes cast to
    STRING, so quotes, backslashes and non-ASCII need no escaping. The
    cast folds to a literal at optimization."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def term_in_sql(terms: Iterable[str]) -> str:
    """SQL text of `term IN (...)` over the distinct sorted terms."""
    terms = sorted(set(terms))
    if not terms:
        return "false"
    return "term IN ({})".format(", ".join(sql_string(t) for t in terms))


def term_in(terms: Iterable[str]) -> Column:
    """`term IN (...)` built with a constant number of py4j calls.

    Column.isin makes one py4j literal per term (about 1 ms each); one
    SQL expression costs the same for 1 term or 1000. The scan still
    pushes down In(term, ...)."""
    return F.expr(term_in_sql(terms))


def collect_term_dict(term_stats: DataFrame) -> Optional[TermFreqs]:
    """The whole dictionary in ONE job, or None when it holds more than
    TERM_DICT_CACHE_MAX terms. The limit is pushed into the scan, so an
    over-budget dictionary stops after TERM_DICT_CACHE_MAX + 1 rows
    instead of being counted in full and then collected."""
    rows = term_stats.limit(TERM_DICT_CACHE_MAX + 1).collect()
    if len(rows) > TERM_DICT_CACHE_MAX:
        return None
    return {r["term"]: (r["tf"], r["cf"]) for r in rows}


def term_freqs(term_stats: DataFrame, full: Optional[TermFreqs],
               terms: Iterable[str]) -> TermFreqs:
    """(tf, cf) of each indexed term in `terms`: looked up in the
    collected dictionary `full`, or (when it was over the cap) one
    filtered collect of term_stats."""
    terms = set(terms)
    if full is not None:
        return {t: full[t] for t in terms if t in full}
    if not terms:
        return {}
    rows = term_stats.filter(term_in(terms)).collect()
    return {r["term"]: (r["tf"], r["cf"]) for r in rows}
