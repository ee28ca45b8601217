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
- upper bound (get_maxpart, :174-191) is that part evaluated at the
  per-term wdf upper bound and the doclen lower bound — the WAND
  pruning contract.

Defaults k1=1, k2=0, k3=1, b=0.5, min_normlen=0.5
(include/xapian/weight.h:525-528).

Each formula is written once, as plain Python arithmetic over its
operands, and runs on three kinds of operand:
- floats, on the driver (termweights, bounds, tests);
- numpy arrays, in the WAND kernel;
- `Sql`, the text of a Spark SQL DOUBLE expression, which the executor
  plans as one statement (pure JVM, whole-stage codegen, no Python UDF
  in the scoring hot path).
Python applies one binary operator at a time, left to right, and `Sql`
renders each operator as one parenthesized operation on DOUBLEs, with
every constant written by sql_double so it parses back to the same
bits. So all three evaluators perform the same IEEE float64 operations
in the same order, and the scores agree bit for bit by construction.
The functions the formulas call (maximum, where, ln, log2, power)
dispatch the same way; only ln/log2/power may differ from libm in the
last bit inside Spark.

Weight protocol (what query.executor.Enquire calls):
- separable weights (BM25Weight, TradWeight, BoolWeight): len_factor,
  termweight and sumpart; BM25Weight adds maxextra/sumextra (k2). The
  executor evaluates them over `Sql` operands, the WAND kernel sumpart
  over arrays, and get_maxpart is sumpart at (wdf upper bound, doclen
  lower bound).
- generalized weights (TF-IDF, the DFR family): make_sumpart(tf, cf, N,
  avlen, ...) returns fn(wdf, doclen) -> the part, over the same
  operands.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np


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


class Sql:
    """SQL text of a DOUBLE expression. Each arithmetic or comparison
    operator renders ONE parenthesized operation, so a formula written
    over Sql operands evaluates, in Spark, in the order Python applies
    its operators."""

    def __init__(self, text: str):
        self.text = text

    def __add__(self, o):
        return _op(self, "+", o)

    def __radd__(self, o):
        return _op(o, "+", self)

    def __sub__(self, o):
        return _op(self, "-", o)

    def __rsub__(self, o):
        return _op(o, "-", self)

    def __mul__(self, o):
        return _op(self, "*", o)

    def __rmul__(self, o):
        return _op(o, "*", self)

    def __truediv__(self, o):
        return _op(self, "/", o)

    def __rtruediv__(self, o):
        return _op(o, "/", self)

    def __lt__(self, o):
        return _op(self, "<", o)

    def __eq__(self, o):
        return _op(self, "=", o)


def sql(x) -> str:
    """SQL text of an operand: a Sql's text, or a number as a DOUBLE."""
    return x.text if isinstance(x, Sql) else sql_double(x)


def sql_col(name: str) -> Sql:
    """A column as a DOUBLE operand."""
    return Sql(f"CAST({name} AS DOUBLE)")


def _op(a, op: str, b) -> Sql:
    return Sql(f"({sql(a)} {op} {sql(b)})")


def _apply(args, sql_form: str, np_fn, py_fn):
    """One function over whichever operand kind is present: SQL text
    when any argument is Sql, np_fn when any is an array, else py_fn."""
    if any(isinstance(a, Sql) for a in args):
        return Sql(sql_form.format(*map(sql, args)))
    if any(isinstance(a, np.ndarray) for a in args):
        return np_fn(*args)
    return py_fn(*args)


def _py_log(name: str, x: float) -> float:
    """math.<name>(x), looked up per call (tests substitute Spark's ln
    for math.log). libm raises at x <= 0; give -inf and NaN there as
    numpy does, so a float formula can compute a branch where()
    discards."""
    if x > 0:
        return getattr(math, name)(x)
    return -math.inf if x == 0 else math.nan


def maximum(a, b):
    return _apply((a, b), "greatest({}, {})", np.maximum, max)


def where(cond, a, b):
    return _apply((cond, a, b), "CASE WHEN {} THEN {} ELSE {} END",
                  np.where, lambda c, x, y: x if c else y)


def ln(x):
    return _apply((x,), "ln({})", np.log, lambda v: _py_log("log", v))


def log2(x):
    return _apply((x,), "log2({})", np.log2, lambda v: _py_log("log2", v))


def power(x, y):
    return _apply((x, y), "power({}, {})", np.power, math.pow)


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

    def termweight(self, termfreq, collection_size: int, wqf: int = 1,
                   factor: float = 1.0):
        """The per-term document-independent weight (bm25weight.cc
        init). termfreq is a Sql operand for the one case where it is
        computed inside the plan (the synonym node's exact unioned
        docfreq), which keeps query compilation free of driver-side
        count() jobs."""
        tw = (collection_size - termfreq + 0.5) / (termfreq + 0.5)
        tw = where(tw < 2.0, tw * 0.5 + 1.0, tw)
        tw = ln(tw) * factor
        if self.k3 != 0:
            tw = tw * ((self.k3 + 1.0) * wqf / (self.k3 + wqf))
        return tw

    def _normlen(self, doclen, len_factor: float):
        return maximum(doclen * len_factor, self.min_normlen)

    def sumpart(self, termweight, wdf, doclen, len_factor: float):
        """get_sumpart: ((tw * (k1+1)) * wdf) / (k1 * (normlen*b +
        (1-b)) + wdf). At (wdf upper bound, doclen lower bound) it is
        get_maxpart, for every k1/b case."""
        denom = (self.k1 * (self._normlen(doclen, len_factor) * self.b
                            + (1.0 - self.b)) + wdf)
        return termweight * (self.k1 + 1.0) * wdf / denom

    def maxextra(self) -> float:
        return self.k2

    def sumextra(self, doclen, len_factor: float, query_length: int):
        """get_sumextra (bm25weight.cc:203-208): the k2 per-document
        extra weight, added once per matching doc
        (ExtraWeightPostList, matcher/localsubmatch.cc:92-96)."""
        return (2.0 * self.k2 * query_length
                / (1.0 + self._normlen(doclen, len_factor)))


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

        def fn(wdf, doclen):
            if w == "b":
                wdfn = where(wdf == 0, 0.0, 1.0)
            elif w == "s":
                wdfn = wdf * wdf
            elif w == "l":
                wdfn = where(wdf == 0, 0.0, 1.0 + ln(wdf))
            else:
                wdfn = wdf
            return wdfn * idf * factor

        return fn


def _wdfn(wdf, doclen, cl: float):
    """DFR normalization 2: wdf · log2(1 + c·avlen/len)."""
    return wdf * log2(1.0 + cl / doclen)


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

        def fn(wdf, doclen):
            wdfn = _wdfn(wdf, doclen, cl)
            part = wqf * wdfn * (1.0 / (wdfn + 1.0)) * idf * factor
            return where(wdf == 0, 0.0, part)

        return fn


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

        def fn(wdf, doclen):
            wdfn = _wdfn(wdf, doclen, cl)
            p = p1 + (wdfn + 0.5) * log2(wdfn) - p2 * wdfn
            part = (wqf * p / (wdfn + 1.0) - lower_bound) * factor
            return where(wdf == 0, 0.0, part)

        return fn


def _bernoulli(wdfn, tf: int, cf: int):
    """The Bernoulli after-effect (cf + 1) / (tf · (wdfn + 1))."""
    return (cf + 1.0) / (tf * (wdfn + 1.0))


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

        def fn(wdf, doclen):
            wdfn = _wdfn(wdf, doclen, cl)
            part = wdfn * wqf * _bernoulli(wdfn, tf, cf) * idf * factor
            return where(wdf == 0, 0.0, part)

        return fn


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

        def fn(wdf, doclen):
            wdfn = _wdfn(wdf, doclen, cl)
            part = wdfn * idf * wqf * _bernoulli(wdfn, tf, cf) * factor
            return where(wdf == 0, 0.0, part)

        return fn


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

        def stirling(x: float, y):
            return (y + 0.5) * log2(x / y) + (x - y) * math.log2(x)

        def fn(wdf, doclen):
            wdfn = _wdfn(wdf, doclen, cl)
            st = (stirling(N + cf - 1.0, (N + cf - 2.0) - wdfn)
                  - stirling(cf, cf - wdfn))
            part = wqf * (_bernoulli(wdfn, tf, cf) * (wt + st)) * factor
            return where(wdf == 0, 0.0, part)

        return fn


def _dfr_info(wdf, doclen, avlen: float, nf: float):
    """d·log2((d·avlen/len)·N/cf), shared by DLH and DPH."""
    return wdf * log2(wdf * avlen / doclen * nf)


def _dfr_tail(wdf, r):
    """0.5·log2(2π·d·(1 - r)), shared by DLH and DPH."""
    return 0.5 * log2(2.0 * math.pi * wdf * (1.0 - r))


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

        def fn(wdf, doclen):
            r = wdf / doclen
            wt = ((_dfr_info(wdf, doclen, avlen, nf)
                   + (doclen - wdf) * log2(1.0 - r) + _dfr_tail(wdf, r))
                  / (wdf + 0.5))
            return where(wdf == 0, 0.0, (wqf * wt - lower_bound) * factor)

        return fn


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

        def fn(wdf, doclen):
            r = wdf / doclen
            norm = power(1.0 - r, 2.0) / (wdf + 1.0)
            wt = norm * (_dfr_info(wdf, doclen, avlen, nf)
                         + _dfr_tail(wdf, r))
            return where(wdf == 0, 0.0, (wqf * wt - lower_bound) * factor)

        return fn


@dataclass(frozen=True)
class BoolWeight:
    """All-zero weights (xapian-core/weight/boolweight.cc) — pure boolean
    retrieval; results order by docid via the standard tiebreak."""

    def len_factor(self, average_length: float) -> float:
        return 0.0

    def termweight(self, termfreq, collection_size, wqf=1, factor=1.0):
        return 0.0

    def sumpart(self, termweight, wdf, doclen, len_factor) -> float:
        return 0.0


class TradWeight(BM25Weight):
    """Traditional probabilistic weighting (weight/tradweight.cc):
    BM25(k1=k, k2=0, k3=0, b=1, min_normlen=0) is the exact equivalence
    the reference documents (weight.h: 'TradWeight(k) is equivalent to
    BM25Weight(k, 0, 0, 1, 0)')."""

    def __init__(self, k: float = 1.0):
        super().__init__(k, 0.0, 0.0, 1.0, 0.0)
