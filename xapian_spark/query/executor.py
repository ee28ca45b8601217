"""Query execution: Query tree → Spark plan → top-k MSet.

Spark restatement of the reference match
(xapian-core/matcher/multimatch.cc:376-1179 get_mset):

- stats gathering (prepare_sub_matches, :205-240) = a lookup in the
  driver-side term dictionary (index/termdict.py), collected once per
  index; termweights are computed driver-side in float64 exactly like
  BM25Weight::init.
- the PostList tree = a composition of relational operators (§2.2 SURVEY):
  AND → count-of-matching-children == n over one shared postings scan
  (or over a UNION ALL of heterogeneous children), OR → GROUP BY-sum,
  AND_NOT → LEFT ANTI JOIN, AND_MAYBE → LEFT JOIN + coalesce,
  XOR → odd count, FILTER → LEFT SEMI JOIN, SYNONYM → wdf-sum scored as
  one term, MAX → GROUP BY-max, PHRASE/NEAR → AND + a positions filter
  (the same "positional filters deferred" shape as
  api/queryinternal.cc:293-355).
- the bounded-heap top-k (:782-843) = ORDER BY score DESC, doc_id
  LIMIT k, which Spark executes as TakeOrderedAndProject — a
  per-partition bounded heap + driver merge, i.e. the same algorithm
  distributed.
- tiebreak: weight desc then docid ASC (msetcmp.cc:46-55, default
  docid_order ASCENDING) — required for rank-identity.

Every Query node renders as SQL text (`Enquire._sql`), over temp views
of the index tables and of posting sources (one view per DataFrame,
shared by every Enquire over it), so a query of any shape plans as ONE
statement: terms go in as UTF-8 hex literals, each term's tw as a
map(...)[term] lookup, and the score is the weight's one formula
(bm25.py) evaluated over `Sql` operands, which renders it as SQL text.
Building a Column tree instead costs one py4j round trip per literal
and operator (~300-600 per query, growing with the tree); the statement
plus `get_mset`'s orderBy/limit cost a constant handful, so `get_mset`
plans any query with at most 60 py4j calls whatever its size
(tests/test_plans.py pins this).

- a Term, or an And/Or/Synonym/Max over distinct plain Terms, is ONE
  postings scan (term IN (...)) + one GROUP BY doc_id, which shuffles
  nothing over a doc-partitioned index (build_index's postings) and at
  most once over any other;
- Phrase/Near add one position list per element to that aggregation
  and a WHERE over SQL higher-order functions checks the window, so no
  query runs a Python UDF;
- any other n-ary node UNION ALLs its children's statements tagged with
  the child index and groups them by doc_id; AndNot/Filter are LEFT
  ANTI/SEMI joins and AndMaybe a LEFT JOIN + coalesce.
"""

from __future__ import annotations

import bisect
import itertools
import math
import threading
import weakref
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xapian_spark.index.build import InvertedIndex
from xapian_spark.index.termdict import (
    TermFreqs, sql_string, term_freqs, term_in_sql,
)
from xapian_spark.query import ops
from xapian_spark.query.bm25 import BM25Weight, Sql, sql, sql_col, sql_double

# deterministic float summation: sort the collected parts before folding
# (fixes the summation order across shuffles/runs)
SUM_SCORES_SQL = ("aggregate(array_sort(collect_list(score)), 0.0D,"
                  " (acc, x) -> acc + x)")

EMPTY_SQL = ("SELECT CAST(NULL AS BIGINT) AS doc_id,"
             " CAST(NULL AS DOUBLE) AS score WHERE false")
EMPTY_N_SQL = ("SELECT CAST(NULL AS BIGINT) AS doc_id,"
               " CAST(NULL AS DOUBLE) AS score,"
               " CAST(NULL AS BIGINT) AS _n WHERE false")

_view_ids = itertools.count()
_views: "weakref.WeakKeyDictionary[DataFrame, str]" = \
    weakref.WeakKeyDictionary()
_registered: Dict[str, SparkSession] = {}  # views not yet dropped
_views_lock = threading.Lock()

# percent_scale's rounding slack (multimatch.cc:908-930, omenquire.cc)
DBL_EPSILON = 2.220446049250313e-16


def _view(df: DataFrame, kind: str) -> str:
    """The temp view SQL plans read `df` through: registered on first
    use as `xapian_<kind>_<n>`, a name unique to that DataFrame, and
    shared by every Enquire and query over it — the catalog holds one
    view per DataFrame, however many Enquires read it. Registering a
    view first drops those whose DataFrame was garbage-collected,
    through the session catalog: the public dropTempView would also
    uncache a plan that a live DataFrame may share."""
    with _views_lock:
        name = _views.get(df)
        if name is None:
            for dead in _registered.keys() - set(_views.values()):
                _registered.pop(dead)._jsparkSession.sessionState() \
                    .catalog().dropTempView(dead)
            name = f"xapian_{kind}_{next(_view_ids)}"
            df.createOrReplaceTempView(name)
            _views[df] = name
            _registered[name] = df.sparkSession
    return f"`{name}`"


def _literal(v) -> str:
    """A ValueRange end as a SQL literal: the parser's value-range
    processors pass str, NumberValueRangeProcessor(column=...) float,
    and callers int."""
    if isinstance(v, str):
        return sql_string(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return sql_double(v)
    raise TypeError(f"cannot render a {type(v).__name__} range end")


@dataclass
class _QueryStats:
    """Per-query collected statistics (Weight::Internal analog)."""

    termfreqs: Dict[str, Tuple[int, int]]  # term -> (tf, cf)
    collection_size: int
    average_length: float
    doclen_lbound: int
    wdf_ubound: int
    doclen_ubound: int = 0


class Enquire:
    """Xapian::Enquire analog: holds an index + weight, answers queries."""

    def __init__(self, index: InvertedIndex, weight: Optional[BM25Weight] = None):
        self.index = index
        self.weight = weight or BM25Weight()

    def _run(self, sql: str) -> DataFrame:
        return self.index.postings.sparkSession.sql(sql)

    # ------------------------------------------------------------------

    def _full_term_dict(self) -> Optional[TermFreqs]:
        """The whole term dictionary, collected once per index and
        shared by every Enquire over it; None past
        termdict.TERM_DICT_CACHE_MAX (stats gathering then runs one
        filtered collect per query)."""
        return self.index._term_dict

    def _gather_stats(self, terms: List[str]) -> _QueryStats:
        st = self.index.stats
        tfs = term_freqs(self.index.term_stats, self._full_term_dict(),
                         terms) if terms else {}
        return _QueryStats(
            termfreqs=tfs,
            collection_size=st.doccount,
            average_length=st.average_length,
            doclen_lbound=st.doclen_lbound,
            wdf_ubound=st.wdf_ubound,
            doclen_ubound=st.doclen_ubound,
        )

    def _termweight(self, term: str, wqf: int, stats: _QueryStats,
                    factor: float = 1.0) -> float:
        tf, _cf = stats.termfreqs.get(term, (0, 0))
        if tf == 0:
            return 0.0
        return self.weight.termweight(tf, stats.collection_size, wqf, factor)

    def _maxpart(self, term: str, stats: _QueryStats, wqf: int = 1,
                 factor: float = 1.0) -> float:
        """Per-term upper bound (bm25weight.cc get_maxpart): the sumpart
        at the doclen lower bound and the per-term wdf bound, which is
        min(cf, global wdf ubound) as in brass_database.cc:796-798."""
        tf, cf = stats.termfreqs.get(term, (0, 0))
        if tf == 0:
            return 0.0
        tw = self.weight.termweight(tf, stats.collection_size, wqf, factor)
        wdf_ub = min(cf, stats.wdf_ubound) if cf else stats.wdf_ubound
        lf = self.weight.len_factor(stats.average_length)
        return self.weight.sumpart(tw, wdf_ub, stats.doclen_lbound, lf)

    # ------------------------------------------------------------------

    def _scored_sql(
        self, terms: List[Tuple[str, int, float]], stats: _QueryStats,
        keep: Tuple[str, ...] = (),
    ) -> str:
        """SQL text of one scan of postings for the given (term, wqf,
        factor) leaves, with a per-row weight-part column `score` (and
        the `keep` columns). No shuffle."""
        w = self.weight
        if hasattr(w, "make_sumpart"):
            # generalized (non-separable) weights: per-term expression
            whens = []
            for t, wqf, factor in terms:
                tf, cf = stats.termfreqs.get(t, (0, 0))
                if tf == 0:
                    continue
                wdf_ub = min(cf, stats.wdf_ubound) if cf \
                    else stats.wdf_ubound
                fn = w.make_sumpart(
                    tf, cf, stats.collection_size,
                    stats.average_length, wqf, factor,
                    wdf_upper=wdf_ub,
                    doclen_lower=max(stats.doclen_lbound, 1),
                    doclen_upper=max(stats.doclen_ubound, 1))
                part = fn(sql_col("wdf"), sql_col("doclen"))
                whens.append(f"WHEN term = {sql_string(t)} THEN {sql(part)}")
            score = f"CASE {' '.join(whens)} ELSE 0.0D END" if whens \
                else "0.0D"
        else:
            tws = {t: self._termweight(t, wqf, stats, factor)
                   for t, wqf, factor in terms}
            tw = "map({})[term]".format(", ".join(
                f"{sql_string(t)}, {sql_double(v)}" for t, v in tws.items()))
            score = sql(w.sumpart(Sql(tw), sql_col("wdf"), sql_col("doclen"),
                                  w.len_factor(stats.average_length)))
        cols = ", ".join(("term", "doc_id", f"{score} AS score") + keep)
        postings = _view(self.index.postings, "postings")
        return (f"SELECT {cols} FROM {postings}"
                f" WHERE {term_in_sql(t for t, _w, _f in terms)}")

    # -- compile -----------------------------------------------------------

    def _is_flat(self, node: ops.Query) -> bool:
        flat_types = (ops.And, ops.Or, ops.Synonym, ops.Max)
        if not (isinstance(node, flat_types) and all(
                isinstance(c, ops.Term) for c in node.children)):
            return False
        if isinstance(node, ops.Synonym):
            return True  # synonym merges duplicates by definition
        # duplicate term leaves each contribute their own weight in the
        # reference ("beer beer" scores the term twice) — the one-scan
        # flat path would merge them, so route through _nary_sql
        return len({c.term for c in node.children}) == \
            len(node.children)

    def compile(self, node: ops.Query, stats: Optional[_QueryStats] = None,
                factor: float = 1.0) -> DataFrame:
        """node → DataFrame(doc_id LONG, score DOUBLE)."""
        if stats is None:
            stats = self._gather_stats(list(node.terms()))
        return self._run(self._sql(node, stats, factor))

    # -- helpers -----------------------------------------------------------

    def _max_weight(self, node: ops.Query, stats: _QueryStats) -> float:
        if isinstance(node, ops.Term):
            return self._maxpart(node.term, stats, node.wqf)
        return sum(self._maxpart(t, stats) for t in node.terms())

    def _sql(self, node: ops.Query, stats: _QueryStats,
             factor: float) -> str:
        """SQL text of the (doc_id, score) relation of any Query node,
        one statement over the index views."""
        if isinstance(node, ops.ScaleWeight):
            return self._sql(node.child, stats, factor * node.factor)
        if isinstance(node, ops.MatchNothing):
            return EMPTY_SQL
        if isinstance(node, ops.Term):
            if not stats.termfreqs.get(node.term, (0, 0))[0]:
                return EMPTY_SQL
            sp = self._scored_sql([(node.term, node.wqf, factor)], stats)
            return f"SELECT doc_id, score FROM ({sp})"
        if self._is_flat(node):
            return self._flat_sql(node, stats, factor)
        if isinstance(node, (ops.Phrase, ops.Near)):
            return self._positional_sql(node, stats, factor)
        if isinstance(node, (ops.And, ops.Or, ops.Xor, ops.Max,
                             ops.Synonym)):
            return self._nary_sql(node, stats, factor)

        if isinstance(node, ops.EliteSet):
            # keep the set_size children with the highest maxweight
            # (api/queryinternal.cc:164-174)
            ranked = sorted(
                enumerate(node.children),
                key=lambda ic: -self._max_weight(ic[1], stats),
            )
            kept = [c for _i, c in sorted(ranked[: node.set_size])]
            return self._sql(ops.Or(kept), stats, factor)

        if isinstance(node, (ops.AndNot, ops.Filter)):
            # the right side only selects docs: evaluate it weightless,
            # with its own term stats (its terms are not in node.terms())
            right = self._sql(
                node.right, self._gather_stats(list(node.right.terms())),
                0.0)
            how = "ANTI" if isinstance(node, ops.AndNot) else "SEMI"
            return (f"SELECT l.doc_id, l.score"
                    f" FROM ({self._sql(node.left, stats, factor)}) l"
                    f" LEFT {how} JOIN ({right}) r ON l.doc_id = r.doc_id")

        if isinstance(node, ops.AndMaybe):
            return (f"SELECT l.doc_id, l.score + coalesce(r.score, 0.0D)"
                    f" AS score FROM ({self._sql(node.left, stats, factor)})"
                    f" l LEFT JOIN ({self._sql(node.right, stats, factor)})"
                    " r ON l.doc_id = r.doc_id")

        if isinstance(node, ops.Wildcard):
            # expand against the term dictionary, then score as one
            # synonym group (1.3 FLAG_WILDCARD → OP_SYNONYM)
            terms = self._expand(node)
            return self._sql(ops.Synonym([ops.Term(t) for t in terms]),
                             self._gather_stats(terms), factor)

        if isinstance(node, ops.MatchAll):
            doclens = _view(self.index.doclens, "doclens")
            return f"SELECT doc_id, 0.0D AS score FROM {doclens}"

        if isinstance(node, ops.ValueRange):
            if self.index.docs is None:
                raise ValueError("ValueRange requires index.docs")
            col = "`{}`".format(node.column.replace("`", "``"))
            conds = [f"{col} {op} {_literal(v)}"
                     for op, v in ((">=", node.lo), ("<=", node.hi))
                     if v is not None]
            return (f"SELECT CAST(doc_id AS BIGINT) AS doc_id,"
                    f" 0.0D AS score FROM {_view(self.index.docs, 'docs')}"
                    f" WHERE {' AND '.join(conds) or 'true'}")

        if isinstance(node, ops.PostingSourceQuery):
            return (f"SELECT CAST(doc_id AS BIGINT) AS doc_id,"
                    f" score * {sql_double(factor)} AS score"
                    f" FROM {_view(node.source, 'source')}")

        raise TypeError(f"cannot compile {type(node).__name__}")

    def _expand(self, node: ops.Wildcard) -> List[str]:
        """The terms a wildcard expands to, sorted."""
        cap = node.max_expansion or ops.DEFAULT_MAX_WILDCARD_EXPANSION
        if node.limit == "most_frequent":
            # WILDCARD_LIMIT_MOST_FREQUENT (FLAG_PARTIAL default)
            return sorted(self._prefix_terms(node.prefix, cap, by_tf=True))
        terms = self._prefix_terms(node.prefix, cap + 1, by_tf=False)
        if len(terms) > cap and node.limit == "error":
            raise ops.WildcardError(
                f"Wildcard {node.prefix!r}* expands to more than {cap}"
                " terms")
        return terms[:cap]  # WILDCARD_LIMIT_FIRST

    def _prefix_terms(self, prefix: str, n: int, by_tf: bool) -> List[str]:
        """The first `n` terms starting with `prefix`, in term order or
        (`by_tf`) by tf descending, then term: a bisect of the held term
        dictionary (no job), or past TERM_DICT_CACHE_MAX one capped
        collect, so a short prefix never pulls unbounded terms."""
        tfs = self._full_term_dict()
        if tfs is None:
            term_stats = _view(self.index.term_stats, "term_stats")
            order = "tf DESC, term" if by_tf else "term"
            return [r["term"] for r in self._run(
                f"SELECT term FROM {term_stats}"
                f" WHERE startswith(term, {sql_string(prefix)})"
                f" ORDER BY {order} LIMIT {n}").collect()]
        terms = self.index._sorted_terms
        lo = bisect.bisect_left(terms, prefix)
        if not by_tf:
            return list(itertools.takewhile(
                lambda t: t.startswith(prefix), terms[lo:lo + n]))
        hi = bisect.bisect_right(terms, prefix, lo,
                                 key=lambda t: t[:len(prefix)])
        return sorted(terms[lo:hi], key=lambda t: (-tfs[t][0], t))[:n]

    def _flat_sql(self, node, stats: _QueryStats, factor: float,
                  keep_n: bool = False) -> str:
        """And/Or/Synonym/Max over distinct plain Terms: ONE scan + ONE
        GROUP BY doc_id. A doc has one postings row per term, so
        count(1) counts the distinct terms it matches. `keep_n` carries
        that count out of the aggregation (the percent/cutoff paths need
        it — computing it here avoids a second aggregation of the same
        postings)."""
        terms = [(c.term, c.wqf, factor) for c in node.children]
        # drop absent terms (matcher prunes empty postlists)
        present = [t for t in terms if stats.termfreqs.get(t[0], (0, 0))[0]]
        if ((isinstance(node, ops.And) and len(present) < len(terms))
                or not present):
            # an AND with an empty child matches nothing
            return EMPTY_N_SQL if keep_n else EMPTY_SQL

        if isinstance(node, ops.Synonym):
            return self._synonym_sql(node, stats, factor)

        sp = self._scored_sql(present, stats)
        if isinstance(node, ops.Max):
            n = ", count(1) AS _n" if keep_n else ""
            return (f"SELECT doc_id, max(score) AS score{n}"
                    f" FROM ({sp}) GROUP BY doc_id")
        agg = (f"SELECT doc_id, {SUM_SCORES_SQL} AS score,"
               f" CAST(count(1) AS BIGINT) AS _n"
               f" FROM ({sp}) GROUP BY doc_id")
        if isinstance(node, ops.And):
            agg = f"SELECT * FROM ({agg}) WHERE _n = {len(present)}"
        return f"SELECT doc_id, score{', _n' if keep_n else ''} FROM ({agg})"

    def _synonym_sql(self, node: ops.Synonym, stats: _QueryStats,
                     factor: float) -> str:
        """synonympostlist.cc:64-89 — wdf = Σ children wdf (clamped to
        doclen), one weight calc.  We use the exact unioned docfreq where
        the reference estimates it (exact counts are cheap in Spark).

        The unioned termfreq is computed INSIDE the plan (a 1-row
        aggregate broadcast back over the matches) rather than with a
        driver-side count(): compile stays lazy — no eager job and no
        executor-lifetime persist per synonym/wildcard node, and the
        whole query still runs as ONE Spark job at mset time."""
        terms = [c.term for c in node.children
                 if stats.termfreqs.get(c.term, (0, 0))[0] > 0]
        postings = _view(self.index.postings, "postings")
        base = (
            "SELECT doc_id, least(wdf_sum, CAST(doclen AS INT)) AS wdf,"
            " doclen FROM (SELECT doc_id,"
            " CAST(sum(wdf) AS INT) AS wdf_sum, first(doclen) AS doclen"
            f" FROM {postings} WHERE {term_in_sql(terms)}"
            " GROUP BY doc_id)")
        w = self.weight
        tw = w.termweight(sql_col("_syn_tf"), stats.collection_size, 1,
                          factor)
        score = sql(w.sumpart(tw, sql_col("wdf"), sql_col("doclen"),
                              w.len_factor(stats.average_length)))
        return (f"SELECT /*+ BROADCAST(t) */ doc_id, {score} AS score"
                f" FROM ({base}) CROSS JOIN (SELECT"
                f" CAST(count(1) AS BIGINT) AS _syn_tf FROM ({base})) t")

    def _nary_sql(self, node, stats: _QueryStats, factor: float) -> str:
        """n-ary And/Or/Xor/Max/Synonym over arbitrary children: their
        statements tagged with the child index, UNION ALL, then one
        GROUP BY doc_id that sums (or maxes) and counts the children
        each doc matched."""
        if not node.children:
            # emptyop semantics: an operator with no children matches
            # nothing (api_anydb.cc emptyop1)
            return EMPTY_SQL
        union = " UNION ALL ".join(
            f"SELECT doc_id, score, {i} AS _child"
            f" FROM ({self._sql(c, stats, factor)})"
            for i, c in enumerate(node.children))
        if isinstance(node, ops.Max):
            return (f"SELECT doc_id, max(score) AS score FROM ({union})"
                    " GROUP BY doc_id")
        having = ""
        if isinstance(node, ops.And):
            having = f" HAVING count(DISTINCT _child) = {len(node.children)}"
        elif isinstance(node, ops.Xor):
            having = " HAVING count(DISTINCT _child) % 2 = 1"
        return (f"SELECT doc_id, {SUM_SCORES_SQL} AS score FROM ({union})"
                f" GROUP BY doc_id{having}")

    def _positional_sql(self, node, stats: _QueryStats,
                        factor: float) -> str:
        """PHRASE/NEAR: the AND over the terms, then the positional check
        as a WHERE over one position list per element (the reference
        defers positional filters the same way,
        api/queryinternal.cc:293-355)."""
        # each element is a term, or a TUPLE of alternative terms (a
        # multi-prefix field in a positional context — the reference's
        # as_opwindow_query OR-per-prefix, queryparser.lemony:1605-1618)
        elems = [t if isinstance(t, tuple) else (t,)
                 for t in node.terms_]
        n = len(elems)
        if not elems or any(
                all(stats.termfreqs.get(t, (0, 0))[0] == 0 for t in e)
                for e in elems):
            return EMPTY_SQL
        if n == 1 and len(elems[0]) == 1:
            return self._sql(ops.Term(elems[0][0]), stats, factor)
        # default windows use the reference convention (stored window =
        # n_terms + w - 1, w defaulting to 10 — queryparser.lemony:1656)
        w = node.window or (n if isinstance(node, ops.Phrase) else n + 9)

        present = sorted({t for e in elems for t in e
                          if stats.termfreqs.get(t, (0, 0))[0] > 0})
        sp = self._scored_sql(
            [(t, 1, factor) for t in present], stats,
            keep=("positions",))
        # _p[i] = the positions of any of element i's terms; empty when
        # the doc has none of them or the index has no positions, and
        # the window check then fails
        lists = ", ".join(
            f"flatten(collect_list(CASE WHEN {term_in_sql(e)}"
            " THEN positions END))" for e in elems)
        return (f"SELECT doc_id, score FROM (SELECT doc_id,"
                f" {SUM_SCORES_SQL} AS score, array({lists}) AS _p"
                f" FROM ({sp}) GROUP BY doc_id) WHERE"
                f" {window_check_sql(n, w, isinstance(node, ops.Phrase))}")

    # -- the match ----------------------------------------------------------

    @staticmethod
    def _query_length(node: ops.Query) -> int:
        """Σ wqf over leaf terms (Weight's get_query_length)."""
        if isinstance(node, ops.Term):
            return node.wqf
        if isinstance(node, (ops.AndNot, ops.AndMaybe, ops.Filter)):
            return (Enquire._query_length(node.left)
                    + Enquire._query_length(node.right))
        if isinstance(node, ops.ScaleWeight):
            return Enquire._query_length(node.child)
        children = getattr(node, "children", ())
        if children:
            return sum(Enquire._query_length(c) for c in children)
        return len(node.terms())

    def _has_extra(self) -> bool:
        return bool(getattr(self.weight, "maxextra", lambda: 0.0)())

    def _scored(self, query: ops.Query, keep_n: bool = False) -> str:
        """SQL text of the scored relation (doc_id, score) every
        get_mset* entry point ranks: the query's statement plus the
        per-document extra weight (k2 ≠ 0), added once per matched doc
        as ExtraWeightPostList does (matcher/localsubmatch.cc:92-96).

        `keep_n` adds `_n`, the number of distinct query terms each doc
        matches (the percent scale needs it): flat queries carry it out
        of their one aggregation, other shapes LEFT JOIN a count over
        the postings (NULL for a doc that matches no query term)."""
        stats = self._gather_stats(list(query.terms()))
        qterms = set(query.terms())
        if not keep_n:
            scored = self._sql(query, stats, 1.0)
        elif (qterms and self._is_flat(query)
                and not isinstance(query, ops.Synonym)):
            scored = self._flat_sql(query, stats, 1.0, keep_n=True)
        else:
            postings = _view(self.index.postings, "postings")
            scored = (
                f"SELECT s.doc_id, s.score, m._n"
                f" FROM ({self._sql(query, stats, 1.0)}) s LEFT JOIN"
                f" (SELECT doc_id, count(1) AS _n"
                f" FROM {postings} WHERE {term_in_sql(qterms)}"
                " GROUP BY doc_id) m ON s.doc_id = m.doc_id")
        if not self._has_extra():
            return scored
        w = self.weight
        extra = sql(w.sumextra(sql_col("doclen"),
                               w.len_factor(stats.average_length),
                               self._query_length(query)))
        doclens = _view(self.index.doclens, "doclens")
        n = ", _n" if keep_n else ""
        return (f"SELECT doc_id, score + ({extra}) AS score{n}"
                f" FROM ({scored}) JOIN (SELECT doc_id, doclen"
                f" FROM {doclens}) USING (doc_id)")

    def get_mset(self, query: ops.Query, first: int = 0,
                 maxitems: int = 10, decider=None,
                 docid_order: str = "asc") -> DataFrame:
        """Top-k: DataFrame(doc_id, score) ordered by (score desc,
        docid tiebreak), offset by `first`.

        `decider` is the MatchDecider analog (enquire.h MatchDecider):
        a boolean Column over index.docs — docs failing it are excluded
        BEFORE the top-k bound, exactly like the reference applies the
        decider during the match. A left-semi join against the filtered
        docs table (broadcast when small) keeps the plan one pass.

        `docid_order` is Enquire::set_docid_order (msetcmp.cc:46-133):
        "asc" (default ASCENDING), "desc" (DESCENDING); DONT_CARE maps
        to ascending — with one logical collection the reference's
        DONT_CARE ordering is ascending too."""
        desc = docid_order == "desc"
        scored = self._run(self._scored(query))
        if decider is not None:
            if self.index.docs is None:
                raise ValueError("a decider requires index.docs")
            allowed = self.index.docs.filter(decider).select(
                F.col("doc_id").cast("long").alias("doc_id"))
            scored = scored.join(allowed, "doc_id", "left_semi")
        tiebreak = F.desc("doc_id") if desc else F.asc("doc_id")
        ordered = scored.orderBy(F.desc("score"), tiebreak)
        if first:
            # offset()+limit() stays a TakeOrderedAndProject of
            # first+maxitems rows; a global row_number() Window would
            # drag the ENTIRE scored set into one task.
            return ordered.offset(first).limit(maxitems)
        return ordered.limit(maxitems)

    def get_mset_collapse(self, query: ops.Query, key_col: str,
                          collapse_max: int = 1, first: int = 0,
                          maxitems: int = 10) -> DataFrame:
        """Collapse: keep the best `collapse_max` docs per key value
        (matcher/collapser.cc, used multimatch.cc:731-779).
        Returns (doc_id, score, <key_col>, collapse_count) where
        collapse_count on the best item = docs collapsed away."""
        from pyspark.sql.window import Window

        docs = self.index.docs
        if docs is None:
            raise ValueError("collapse requires index.docs")
        keyed = self._run(self._scored(query)).join(
            docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        key_col), "doc_id")
        w = Window.partitionBy(key_col).orderBy(
            F.desc("score"), F.asc("doc_id"))
        wc = Window.partitionBy(key_col)
        out = (
            keyed
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_nk", F.count(F.lit(1)).over(wc))
            .filter(F.col("_rn") <= collapse_max)
            .withColumn(
                "collapse_count",
                F.when(F.col("_rn") == 1,
                       F.greatest(F.col("_nk") - collapse_max, F.lit(0)))
                .otherwise(F.lit(0)).cast("int"))
            .select("doc_id", "score", key_col, "collapse_count")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
        if first:
            out = out.offset(first)
        return out.limit(maxitems)

    def get_mset_sorted(self, query: ops.Query, sort_col,
                        order: str = "val_rel", reverse: bool = False,
                        maxitems: int = 10) -> DataFrame:
        """Sort by a value key (Enquire::set_sort_by_value* +
        set_sort_by_key, matcher/msetcmp.cc):
        order = "val" | "val_rel" | "rel_val".

        `sort_col` is a single column (with the `reverse` flag — the
        ValueKeyMaker case) or a list of (column, reverse) pairs — the
        MultiValueKeyMaker composite key (include/xapian/
        keymaker.h:68-107: compare by the first key, ties by the
        second, ...). The composite stays a bounded
        TakeOrderedAndProject like the single-key path."""
        docs = self.index.docs
        if docs is None:
            raise ValueError("sort by value requires index.docs")
        if isinstance(sort_col, str):
            keys = [(sort_col, reverse)]
        else:
            keys = [(c, r) for c, r in sort_col]
        keyed = self._run(self._scored(query)).join(
            docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        *[c for c, _r in keys]), "doc_id")
        vals = [F.desc(c) if r else F.asc(c) for c, r in keys]
        if order == "val":
            cols = vals + [F.asc("doc_id")]
        elif order == "val_rel":
            cols = vals + [F.desc("score"), F.asc("doc_id")]
        elif order == "rel_val":
            cols = [F.desc("score")] + vals + [F.asc("doc_id")]
        else:
            raise ValueError(f"unknown sort order: {order!r}")
        return keyed.orderBy(*cols).limit(maxitems)

    def _topk_with_matched(self, query: ops.Query, first: int,
                           maxitems: int, weight_cutoff: float = 0.0):
        """ONE Spark job for everything the percent/cutoff paths need:
        the top first+maxitems (score, doc_id) rows WITH `_n` = the
        number of query terms each doc matches, collected, and the
        query's percent scale derived from them."""
        scored = self._run(self._scored(query, keep_n=True))
        if weight_cutoff > 0:
            scored = scored.filter(F.col("score") >= weight_cutoff)
        rows = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(first + maxitems).collect())
        return rows, _percent_scale(rows, set(query.terms()))

    def _local_mset(self, rows, schema: str) -> DataFrame:
        """Collected top-k rows → a LOCAL DataFrame. Built via pandas/
        Arrow so it becomes a LocalRelation — a plain createDataFrame
        of a driver list parallelizes into defaultParallelism
        Python-RDD slices and every downstream action pays a Python
        worker round-trip per slice."""
        import pandas as pd

        spark = self.index.postings.sparkSession
        rows = list(rows)
        if not rows:
            return spark.createDataFrame([], schema)
        names = [f.split()[0] for f in schema.split(",")]
        pdf = pd.DataFrame(rows, columns=names)
        return spark.createDataFrame(pdf, schema=schema)

    def get_mset_cutoff(self, query: ops.Query,
                        percent_cutoff: int = 0,
                        weight_cutoff: float = 0.0,
                        first: int = 0,
                        maxitems: int = 10) -> DataFrame:
        """Enquire::set_cutoff analog. weight_cutoff drops docs with
        score < the absolute threshold (multimatch.cc:573 min_weight
        init). percent_cutoff drops docs below percent_cutoff% via the
        post-match pass (multimatch.cc:908-930): min_wt =
        (pc/100 - DBL_EPSILON) / percent_scale with percent_scale =
        (subqueries matched by the greatest-weight doc / total
        subqueries) / greatest_wt — this threshold dominates the
        during-match wt*factor prune, so one final filter is exact.
        Because results are score-descending, the percent cutoff only
        truncates the tail — applied driver-side to the one collected
        top-k, not as a second Spark job."""
        rows, scale = self._topk_with_matched(
            query, first, maxitems, weight_cutoff)
        # scale 0 (see _percent_scale) means no prune, as in the
        # reference
        if percent_cutoff and scale:
            min_wt = (percent_cutoff / 100.0 - DBL_EPSILON) / scale
            rows = [r for r in rows if r["score"] >= min_wt]
        return self._local_mset(
            [(r["doc_id"], r["score"]) for r in rows[first:]],
            "doc_id long, score double")

    def get_mset_percent(self, query: ops.Query, first: int = 0,
                         maxitems: int = 10) -> DataFrame:
        """Top-k with the reference percent score: percent_scale =
        (subqueries matched by the greatest-weight doc / total
        subqueries) / greatest_wt (multimatch.cc:893-906), percent =
        int(wt·scale·100 + 100·DBL_EPSILON) clamped to [0,100], 0→1
        for wt>0 (omenquire.cc convert_to_percent_internal). One Spark
        job: the percent scale derives from the collected top-k
        itself (see _topk_with_matched)."""
        rows, scale = self._topk_with_matched(query, first, maxitems)
        percent_factor = scale * 100.0
        out = []
        for r in rows[first:]:
            pct = int(math.floor(r["score"] * percent_factor
                                 + 100.0 * DBL_EPSILON))
            pct = min(max(pct, 0), 100)
            if pct == 0 and r["score"] > 0:
                pct = 1
            out.append((r["doc_id"], r["score"], pct))
        return self._local_mset(out, "doc_id long, score double, percent int")


def _percent_scale(rows, qterms) -> float:
    """percent_scale (multimatch.cc:893-906) of a collected top-k:
    (distinct query terms the greatest-weight doc matches / distinct
    query terms) / greatest_wt. 0 when nothing has positive weight, the
    query has no terms, or the top doc matches none of them (it is
    carried by extra weight or a term-less branch)."""
    if not rows or not rows[0]["score"] > 0 or not qterms:
        return 0.0
    return (rows[0]["_n"] or 0) / len(qterms) / rows[0]["score"]


def window_check_sql(n: int, window, ordered: bool) -> str:
    """SQL predicate over `_p`, an array of n position lists: one
    position can be chosen from each list with max - min < window, in
    strictly increasing list order when `ordered`. Never true when a
    list is empty. `window` is rendered as given (an int literal in
    plans)."""
    if ordered:
        # from each start, the least later position in each next list
        # gives the shortest strictly increasing chain
        return (f"exists(_p[0], p0 -> aggregate(slice(_p, 2, {n - 1}), p0,"
                " (acc, l) -> array_min(filter(l, x -> x > acc)))"
                f" - p0 < {window})")
    # any choice within the window lies in [min, min + window)
    return ("exists(flatten(_p), m -> forall(_p, l -> exists(l,"
            f" x -> x >= m AND x < m + {window})))")
