"""Xapian BM25 weighting, exact formula.

Mirrors the reference implementation (xapian-core/weight/bm25weight.cc):

- termweight (init, :45-110):
      tw = (N - tf + 0.5) / (tf + 0.5)          # no relevance set
      if tw < 2: tw = tw * 0.5 + 1              # the "halving rule"
      termweight = log(tw) * factor
      if k3 != 0: termweight *= (k3 + 1) * wqf / (k3 + wqf)
- len_factor = 1 / average_doclen, or 0 when doc length can't matter
  (:116-125)
- per-posting part (get_sumpart, :162-172):
      normlen = max(doclen * len_factor, min_normlen)
      part = termweight * (k1 + 1) * wdf / (k1*(normlen*b + (1-b)) + wdf)
- upper bound (get_maxpart, :174-191) uses the doclen lower bound and the
  per-term wdf upper bound — the WAND pruning contract.

Defaults k1=1, k2=0, k3=1, b=0.5, min_normlen=0.5
(include/xapian/weight.h:525-528).

Driver-side scalar math is float64. The distributed per-posting part is
rendered as Spark SQL text (`*_sql`), so the executor plans a query as
one SQL statement (pure JVM, whole-stage codegen — no Python UDF in the
scoring hot path, and a constant number of py4j calls to build). Each
double constant is written with sql_double, which round-trips exactly,
and each rendering performs the same IEEE float64 operations in the same
order as its scalar twin.

Weight protocol (what query.executor.Enquire calls):
- separable weights (BM25Weight, TradWeight, BoolWeight): len_factor,
  termweight, maxpart and sumpart on the driver; termweight_sql and
  sumpart_sql in the plan; BM25Weight adds maxextra/sumextra_sql (k2).
- generalized weights (TF-IDF, the DFR family): make_sumpart(tf, cf, N,
  avlen, ...) returns fn(wdf_sql, doclen_sql) -> SQL text of the part.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


def sql_double(x: float) -> str:
    """A float64 as a Spark SQL literal that parses back to the same
    bits: repr() is the shortest round-tripping decimal, and the D
    suffix makes it a DOUBLE."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('{}Infinity' AS DOUBLE)".format("-" if x < 0 else "")
    return f"({x!r}D)" if math.copysign(1.0, x) < 0 else f"{x!r}D"


def _normlen_sql(doclen: str, len_factor: float, min_normlen: float) -> str:
    return (f"greatest((CAST({doclen} AS DOUBLE) * {sql_double(len_factor)}),"
            f" {sql_double(min_normlen)})")


@dataclass(frozen=True)
class BM25Weight:
    k1: float = 1.0
    k2: float = 0.0
    k3: float = 1.0
    b: float = 0.5
    min_normlen: float = 0.5

    def len_factor(self, average_length: float) -> float:
        if self.k2 == 0 and (self.b == 0 or self.k1 == 0):
            return 0.0
        return 1.0 / average_length if average_length != 0 else 0.0

    def termweight(
        self, termfreq: int, collection_size: int, wqf: int = 1,
        factor: float = 1.0,
    ) -> float:
        """The per-term document-independent weight (bm25weight.cc init)."""
        tw = (collection_size - termfreq + 0.5) / (termfreq + 0.5)
        if tw < 2.0:
            tw = tw * 0.5 + 1.0
        tw = math.log(tw) * factor
        if self.k3 != 0:
            tw *= (self.k3 + 1.0) * wqf / (self.k3 + wqf)
        return tw

    def termweight_sql(
        self, termfreq: str, collection_size: int, wqf: int = 1,
        factor: float = 1.0,
    ) -> str:
        """SQL twin of termweight(), for the one case where the
        termfreq is itself computed inside the plan (the synonym
        node's exact unioned docfreq) — keeps query compilation free
        of driver-side count() jobs. Spark's ln may differ from libm's
        log in the last bit; every other operation is identical."""
        tf = f"CAST({termfreq} AS DOUBLE)"
        tw = (f"((({sql_double(collection_size)} - {tf}) + 0.5D)"
              f" / ({tf} + 0.5D))")
        tw = f"CASE WHEN {tw} < 2.0D THEN (({tw} * 0.5D) + 1.0D) ELSE {tw} END"
        tw = f"(ln({tw}) * {sql_double(factor)})"
        if self.k3 != 0:
            k3_part = (self.k3 + 1.0) * wqf / (self.k3 + wqf)
            tw = f"({tw} * {sql_double(k3_part)})"
        return tw

    def sumpart_sql(
        self, termweight: str, wdf: str, doclen: str, len_factor: float,
    ) -> str:
        """get_sumpart as SQL text over the given SQL expressions:
        ((tw * (k1+1)) * wdf) / (k1 * (normlen*b + (1-b)) + wdf)."""
        wdf_d = f"CAST({wdf} AS DOUBLE)"
        normlen = _normlen_sql(doclen, len_factor, self.min_normlen)
        denom = (f"(({sql_double(self.k1)} * (({normlen} * "
                 f"{sql_double(self.b)}) + {sql_double(1.0 - self.b)}))"
                 f" + {wdf_d})")
        return (f"((({termweight} * {sql_double(self.k1 + 1.0)})"
                f" * {wdf_d}) / {denom})")

    def sumpart(
        self, termweight: float, wdf: int, doclen: float, len_factor: float
    ) -> float:
        """Scalar twin of sumpart_sql (tests / WAND kernel)."""
        normlen = max(doclen * len_factor, self.min_normlen)
        denom = self.k1 * (normlen * self.b + (1.0 - self.b)) + wdf
        return termweight * (self.k1 + 1.0) * wdf / denom

    def maxpart(
        self, termweight: float, wdf_upper: int, doclen_lower: float,
        len_factor: float,
    ) -> float:
        """get_maxpart — never underestimates any sumpart of the term."""
        denom = float(wdf_upper)
        if self.k1 != 0.0:
            if self.b != 0.0:
                normlen_lb = max(doclen_lower * len_factor, self.min_normlen)
                denom += self.k1 * (normlen_lb * self.b + (1.0 - self.b))
            else:
                denom += self.k1
        return termweight * (self.k1 + 1.0) * wdf_upper / denom

    def maxextra(self) -> float:
        return self.k2

    def sumextra_sql(self, doclen: str, len_factor: float,
                     query_length: int) -> str:
        """get_sumextra (bm25weight.cc:203-208): the k2 per-document
        extra weight, added once per matching doc
        (ExtraWeightPostList, matcher/localsubmatch.cc:92-96)."""
        num = 2.0 * self.k2 * query_length
        normlen = _normlen_sql(doclen, len_factor, self.min_normlen)
        return f"({sql_double(num)} / (1.0D + {normlen}))"

    def sumextra(self, doclen: float, len_factor: float,
                 query_length: int) -> float:
        """Scalar twin of sumextra_sql."""
        num = 2.0 * self.k2 * query_length
        return num / (1.0 + max(doclen * len_factor, self.min_normlen))


@dataclass(frozen=True)
class TfIdfWeight:
    """TF-IDF with Xapian's normalization string (weight/tfidfweight.cc):
    wdf norm ∈ {n,b,s,l}, idf norm ∈ {n,t,p}, wt norm = n.
    Not separable as termweight×sumpart — implements make_sumpart."""

    normalizations: str = "ntn"

    def __post_init__(self):
        n = self.normalizations
        if (len(n) != 3 or n[0] not in "nbsl" or n[1] not in "ntp"
                or n[2] != "n"):
            raise ValueError(f"invalid normalization string: {n!r}")

    def _idfn(self, tf: int, N: int) -> float:
        c = self.normalizations[1]
        if c == "n":
            return 1.0
        if c == "p":
            if N == tf:
                return 0.0
            return math.log((N - tf) / tf)
        return math.log(N / tf)

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     **_bounds):
        idf = self._idfn(tf, N)
        w = self.normalizations[0]

        def fn(wdf: str, doclen: str) -> str:
            d = f"CAST({wdf} AS DOUBLE)"
            if w == "b":
                wdfn = f"CASE WHEN {wdf} = 0 THEN 0.0D ELSE 1.0D END"
            elif w == "s":
                wdfn = f"({d} * {d})"
            elif w == "l":
                wdfn = (f"CASE WHEN {wdf} = 0 THEN 0.0D"
                        f" ELSE (1.0D + ln({d})) END")
            else:
                wdfn = d
            return f"(({wdfn} * {sql_double(idf)}) * {sql_double(factor)})"

        return fn

    def maxextra(self) -> float:
        return 0.0


def _unless_zero_wdf(wdf: str, part: str) -> str:
    return f"CASE WHEN {wdf} = 0 THEN 0.0D ELSE {part} END"


def _wdfn_sql(wdf: str, doclen: str, cl: float) -> str:
    """DFR normalization 2: wdf · log2(1 + c·avlen/len)."""
    return (f"(CAST({wdf} AS DOUBLE) * log2((1.0D + ({sql_double(cl)}"
            f" / CAST({doclen} AS DOUBLE)))))")


@dataclass(frozen=True)
class InL2Weight:
    """DFR InL2 (weight/inl2weight.cc): wdfn = wdf·log2(1 + c·avlen/len);
    weight = wqf · wdfn · 1/(wdfn+1) · log2((N+1)/(tf+0.5))."""

    c: float = 1.0

    def __post_init__(self):
        if self.c <= 0:
            raise ValueError("Parameter c is invalid.")

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     **_bounds):
        idf = math.log2((N + 1) / (tf + 0.5))
        cl = self.c * avlen

        def fn(wdf: str, doclen: str) -> str:
            wdfn = _wdfn_sql(wdf, doclen, cl)
            big_l = f"(1.0D / ({wdfn} + 1.0D))"
            return _unless_zero_wdf(
                wdf, f"(((({sql_double(wqf)} * {wdfn}) * {big_l})"
                     f" * {sql_double(idf)}) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


@dataclass(frozen=True)
class PL2Weight:
    """DFR PL2 (weight/pl2weight.cc): Poisson model with Laplace
    after-effect and length norm 2; per-term lower_bound subtraction
    exactly as the reference (init :56-90, get_sumpart :115-125)."""

    c: float = 1.0

    def __post_init__(self):
        if self.c <= 0:
            raise ValueError("Parameter c is invalid.")

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     wdf_upper=0, doclen_lower=1, doclen_upper=1):
        cl = self.c * avlen
        base_change = 1.0 / math.log(2.0)
        mean = cf / N
        p1 = mean * base_change + 0.5 * math.log2(2.0 * math.pi)
        p2 = math.log2(mean) + base_change
        lower_bound = 0.0
        if wdf_upper:
            wdfn_lower = math.log2(1 + cl / doclen_upper)
            wdfn_upper = wdf_upper * math.log2(1 + cl / doclen_lower)
            p_min = (p1 + (wdfn_lower + 0.5) * math.log2(wdfn_lower)
                     - p2 * wdfn_lower)
            lower_bound = wqf * p_min / (wdfn_upper + 1.0)

        def fn(wdf: str, doclen: str) -> str:
            wdfn = _wdfn_sql(wdf, doclen, cl)
            p = (f"(({sql_double(p1)} + (({wdfn} + 0.5D) * log2({wdfn})))"
                 f" - ({sql_double(p2)} * {wdfn}))")
            return _unless_zero_wdf(
                wdf, f"(((({sql_double(wqf)} * {p}) / ({wdfn} + 1.0D))"
                     f" - {sql_double(lower_bound)}) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


def _bernoulli_sql(wdfn: str, tf: int, cf: int) -> str:
    """The Bernoulli after-effect (cf + 1) / (tf · (wdfn + 1))."""
    return (f"({sql_double(cf + 1.0)} / ({sql_double(tf)}"
            f" * ({wdfn} + 1.0D)))")


@dataclass(frozen=True)
class IfB2Weight:
    """DFR IfB2 (weight/ifb2weight.cc:109-123): inverse term frequency
    with Bernoulli after-effect and normalization 2."""

    c: float = 1.0

    def __post_init__(self):
        if self.c <= 0:
            raise ValueError("Parameter c is invalid.")

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     **_bounds):
        idf = math.log2((N + 1.0) / (cf + 0.5))
        cl = self.c * avlen

        def fn(wdf: str, doclen: str) -> str:
            wdfn = _wdfn_sql(wdf, doclen, cl)
            b = _bernoulli_sql(wdfn, tf, cf)
            return _unless_zero_wdf(
                wdf, f"(((({wdfn} * {sql_double(wqf)}) * {b})"
                     f" * {sql_double(idf)}) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


@dataclass(frozen=True)
class IneB2Weight:
    """DFR IneB2 (weight/ineb2weight.cc:111-128): inverse expected
    document frequency with Bernoulli after-effect, normalization 2."""

    c: float = 1.0

    def __post_init__(self):
        if self.c <= 0:
            raise ValueError("Parameter c is invalid.")

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     **_bounds):
        mean = cf / N
        expected = N * (1.0 - math.exp(-mean))
        idf = math.log2((N + 1.0) / (expected + 0.5))
        cl = self.c * avlen

        def fn(wdf: str, doclen: str) -> str:
            wdfn = _wdfn_sql(wdf, doclen, cl)
            b = _bernoulli_sql(wdfn, tf, cf)
            return _unless_zero_wdf(
                wdf, f"(((({wdfn} * {sql_double(idf)}) * {sql_double(wqf)})"
                     f" * {b}) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


@dataclass(frozen=True)
class BB2Weight:
    """DFR BB2 (weight/bb2weight.cc:122-143): Bose-Einstein model with
    Bernoulli after-effect, normalization 2; stirling approximation
    exactly as :34-38."""

    c: float = 1.0

    def __post_init__(self):
        if self.c <= 0:
            raise ValueError("Parameter c is invalid.")

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     **_bounds):
        cl = self.c * avlen
        base_change = math.log(2.0)
        wt = -math.log2(N - 1.0) - (1.0 / base_change)

        def stirling(x, y: str) -> str:
            return (f"((({y} + 0.5D) * log2(({sql_double(x)} / {y})))"
                    f" + (({sql_double(x)} - {y})"
                    f" * {sql_double(math.log2(x))}))")

        def fn(wdf: str, doclen: str) -> str:
            wdfn = _wdfn_sql(wdf, doclen, cl)
            b = _bernoulli_sql(wdfn, tf, cf)
            y_all = f"({sql_double(N + cf - 2.0)} - {wdfn})"
            y_cf = f"({sql_double(cf)} - {wdfn})"
            st = (f"({stirling(N + cf - 1.0, y_all)}"
                  f" - {stirling(cf, y_cf)})")
            return _unless_zero_wdf(
                wdf, f"(({sql_double(wqf)} * ({b} * ({sql_double(wt)}"
                     f" + {st}))) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


def _dfr_info_sql(d: str, ln: str, avlen: float, nf: float) -> str:
    """d·log2((d·avlen/len)·N/cf), shared by DLH and DPH."""
    return (f"({d} * log2(((({d} * {sql_double(avlen)}) / {ln})"
            f" * {sql_double(nf)})))")


def _dfr_tail_sql(d: str, r: str) -> str:
    """0.5·log2(2π·d·(1 - r)), shared by DLH and DPH."""
    return (f"(0.5D * log2((({sql_double(2.0 * math.pi)} * {d})"
            f" * (1.0D - {r}))))")


@dataclass(frozen=True)
class DLHWeight:
    """DFR DLH hypergeometric model (weight/dlhweight.cc:94-109), with
    the reference's lower-bound subtraction (init)."""

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     wdf_upper=0, doclen_lower=1, doclen_upper=1):
        nf = N / cf
        wdf_lower = 1.0
        min_weight = (
            wdf_lower * math.log2((wdf_lower * avlen / doclen_upper)
                                  * nf)
            - 1.5 * math.log2(doclen_upper)
            + 0.5 * math.log2(2.0 * math.pi * wdf_lower)
        ) / (wdf_upper + 0.5) if wdf_upper else 0.0
        lower_bound = wqf * min_weight

        def fn(wdf: str, doclen: str) -> str:
            d = f"CAST({wdf} AS DOUBLE)"
            ln = f"CAST({doclen} AS DOUBLE)"
            r = f"({d} / {ln})"
            wt = (f"((({_dfr_info_sql(d, ln, avlen, nf)}"
                  f" + (({ln} - {d}) * log2((1.0D - {r}))))"
                  f" + {_dfr_tail_sql(d, r)}) / ({d} + 0.5D))")
            return _unless_zero_wdf(
                wdf, f"((({sql_double(wqf)} * {wt})"
                     f" - {sql_double(lower_bound)}) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


@dataclass(frozen=True)
class DPHWeight:
    """DFR DPH hypergeometric model, Popper normalization
    (weight/dphweight.cc:97-115), with the reference's lower-bound
    subtraction (init)."""

    def make_sumpart(self, tf, cf, N, avlen, wqf=1, factor=1.0,
                     wdf_upper=0, doclen_lower=1, doclen_upper=1):
        nf = N / cf
        wdf_lower = 1.0
        min_norm = ((1.0 / doclen_upper) ** 2) / (wdf_upper + 1.0) \
            if wdf_upper else 0.0
        min_weight = min_norm * (
            wdf_lower * math.log2((wdf_lower * avlen / doclen_upper)
                                  * nf)
            + 0.5 * math.log2(2.0 * math.pi * wdf_lower / doclen_upper))
        lower_bound = wqf * min_weight

        def fn(wdf: str, doclen: str) -> str:
            d = f"CAST({wdf} AS DOUBLE)"
            ln = f"CAST({doclen} AS DOUBLE)"
            r = f"({d} / {ln})"
            norm = f"(power((1.0D - {r}), 2.0D) / ({d} + 1.0D))"
            wt = (f"({norm} * ({_dfr_info_sql(d, ln, avlen, nf)}"
                  f" + {_dfr_tail_sql(d, r)}))")
            return _unless_zero_wdf(
                wdf, f"((({sql_double(wqf)} * {wt})"
                     f" - {sql_double(lower_bound)}) * {sql_double(factor)})")

        return fn

    def maxextra(self) -> float:
        return 0.0


@dataclass(frozen=True)
class BoolWeight:
    """All-zero weights (xapian-core/weight/boolweight.cc) — pure boolean
    retrieval; results order by docid via the standard tiebreak."""

    def len_factor(self, average_length: float) -> float:
        return 0.0

    def termweight(self, termfreq, collection_size, wqf=1, factor=1.0):
        return 0.0

    def termweight_sql(self, termfreq, collection_size, wqf=1,
                       factor=1.0) -> str:
        return "0.0D"

    def sumpart_sql(self, termweight, wdf, doclen, len_factor) -> str:
        return "0.0D"

    def sumpart(self, termweight, wdf, doclen, len_factor) -> float:
        return 0.0

    def maxpart(self, termweight, wdf_upper, doclen_lower,
                len_factor) -> float:
        return 0.0


@dataclass(frozen=True)
class TradWeight:
    """Traditional probabilistic weighting (weight/tradweight.cc):
    BM25(k1=k, k2=0, k3=0, b=1, min_normlen=0) is the exact equivalence
    the reference documents (weight.h: 'TradWeight(k) is equivalent to
    BM25Weight(k, 0, 0, 1, 0)')."""

    k: float = 1.0

    def _bm25(self) -> BM25Weight:
        return BM25Weight(self.k, 0.0, 0.0, 1.0, 0.0)

    def len_factor(self, average_length: float) -> float:
        return self._bm25().len_factor(average_length)

    def termweight(self, termfreq, collection_size, wqf=1, factor=1.0):
        return self._bm25().termweight(termfreq, collection_size, wqf,
                                       factor)

    def termweight_sql(self, termfreq, collection_size, wqf=1,
                       factor=1.0) -> str:
        return self._bm25().termweight_sql(termfreq, collection_size,
                                           wqf, factor)

    def sumpart_sql(self, termweight, wdf, doclen, len_factor) -> str:
        return self._bm25().sumpart_sql(termweight, wdf, doclen, len_factor)

    def sumpart(self, termweight, wdf, doclen, len_factor) -> float:
        return self._bm25().sumpart(termweight, wdf, doclen, len_factor)

    def maxpart(self, termweight, wdf_upper, doclen_lower, len_factor):
        return self._bm25().maxpart(termweight, wdf_upper, doclen_lower,
                                    len_factor)
