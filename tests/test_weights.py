"""Weighting-scheme goldens from the reference api_weight.cc /
api_anydb.cc: BM25 parameter behaviors incl. the k2 extra weight,
InL2/PL2 (DFR), and TfIdf normalization strings."""

import math
import random

import pytest

from xapian_spark.query import bm25, ops
from xapian_spark.query.bm25 import (
    BB2Weight, BM25Weight, DLHWeight, DPHWeight, IfB2Weight, IneB2Weight,
    InL2Weight, PL2Weight, Sql, TfIdfWeight, TradWeight, sql, sql_col,
)
from xapian_spark.query.executor import Enquire

REL = 1e-12


def _mset(idx, weight, term, k=10):
    return Enquire(idx, weight).get_mset(ops.Term(term), 0, k).collect()


def test_bm25weight4_b0_no_doclen_effect(simpledata_index):
    # api_weight.cc:73-97 — BM25(1,0,1,0,0.5): wdf matters, doclen not
    rows = _mset(simpledata_index, BM25Weight(1, 0, 1, 0, 0.5),
                 "paragraph")
    assert len(rows) == 5
    w = [r["score"] for r in rows]
    assert w[0] > w[1]
    assert w[1] == pytest.approx(w[2], rel=REL)
    assert w[2] > w[3]
    assert w[3] == pytest.approx(w[4], rel=REL)

    # BM25(0,0,1,1,0.5): neither wdf nor doclen affects the weight
    rows = _mset(simpledata_index, BM25Weight(0, 0, 1, 1, 0.5),
                 "paragraph")
    assert len(rows) == 5
    assert rows[0]["score"] == pytest.approx(rows[4]["score"], rel=REL)


def test_bm25weight5_k2_extra(simpledata_index):
    # api_weight.cc:99-117 — BM25(0,1,1,0.5,0.5) on "paragraph":
    # wdf has no effect; shorter docs rank higher; order 3 5 1 4 2
    rows = _mset(simpledata_index, BM25Weight(0, 1, 1, 0.5, 0.5),
                 "paragraph")
    assert [r["doc_id"] for r in rows] == [3, 5, 1, 4, 2]
    w = [r["score"] for r in rows]
    assert w[0] == pytest.approx(w[1], rel=REL)
    assert w[1] > w[2] > w[3] > w[4]


def test_inl2weight3_golden(simpledata_index):
    # api_weight.cc:154-182 — InL2(2.0), query "banana" → doc 6,
    # weight 1.559711143842063
    rows = _mset(simpledata_index, InL2Weight(2.0), "banana")
    assert [r["doc_id"] for r in rows] == [6]
    assert rows[0]["score"] == pytest.approx(1.559711143842063, rel=REL)
    # OP_SCALE_WEIGHT multiplies
    enq = Enquire(simpledata_index, InL2Weight(2.0))
    scaled = enq.get_mset(
        ops.ScaleWeight(ops.Term("banana"), 15.0), 0, 10).collect()
    assert scaled[0]["score"] == pytest.approx(
        15.0 * rows[0]["score"], rel=REL)


def test_pl2weight3_golden(simpledata_index):
    # api_weight.cc:442-457 — PL2(2.0) on "paragraph":
    # mset[2] == mset[3] + 0.0086861771701328694
    rows = _mset(simpledata_index, PL2Weight(2.0), "paragraph")
    assert len(rows) == 5
    assert rows[2]["score"] - rows[3]["score"] == pytest.approx(
        0.0086861771701328694, rel=1e-9)


def test_tfidfweight3_goldens(simpledata_index):
    # api_weight.cc:525-570
    rows = _mset(simpledata_index, TfIdfWeight("ntn"), "word")
    assert [r["doc_id"] for r in rows] == [2, 4]
    assert rows[0]["score"] == pytest.approx(8.0 * math.log(6.0 / 2),
                                             rel=REL)
    rows = _mset(simpledata_index, TfIdfWeight("bnn"), "test")
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["score"] == pytest.approx(1.0, rel=REL)
    rows = _mset(simpledata_index, TfIdfWeight("lnn"), "word")
    assert [r["doc_id"] for r in rows] == [2, 4]
    assert rows[0]["score"] == pytest.approx(1 + math.log(8.0), rel=REL)
    assert rows[1]["score"] == pytest.approx(1.0, rel=REL)


def test_tfidf_invalid_normalization():
    with pytest.raises(ValueError):
        TfIdfWeight("xxx")
    with pytest.raises(ValueError):
        InL2Weight(0)
    with pytest.raises(ValueError):
        PL2Weight(-1)


def test_tradweight_is_bm25_special_case(simpledata_index):
    t = _mset(simpledata_index, TradWeight(1.0), "paragraph")
    b = _mset(simpledata_index, BM25Weight(1, 0, 0, 1, 0), "paragraph")
    assert [(r["doc_id"], r["score"]) for r in t] == \
        [(r["doc_id"], r["score"]) for r in b]


def test_dlhweight1_golden(simpledata_index):
    # api_weight.cc:380-408 — DLH on "paragraph":
    # mset[0] - mset[4] == 1.17790202016936130; scale multiplies
    from xapian_spark.query.bm25 import DLHWeight

    rows = _mset(simpledata_index, DLHWeight(), "paragraph")
    assert len(rows) == 5
    assert rows[0]["score"] - rows[4]["score"] == pytest.approx(
        1.17790202016936130, rel=1e-10)
    enq = Enquire(simpledata_index, DLHWeight())
    scaled = enq.get_mset(
        ops.ScaleWeight(ops.Term("paragraph"), 15.0), 0, 10).collect()
    for a, b in zip(rows, scaled):
        assert b["score"] == pytest.approx(15.0 * a["score"], rel=1e-10)


def test_dphweight1_golden(simpledata_index):
    # api_weight.cc:460-487 — DPH on "paragraph":
    # mset[2] - mset[4] == 0.542623617687990167
    from xapian_spark.query.bm25 import DPHWeight

    rows = _mset(simpledata_index, DPHWeight(), "paragraph")
    assert len(rows) == 5
    assert rows[2]["score"] - rows[4]["score"] == pytest.approx(
        0.542623617687990167, rel=1e-10)


def test_bernoulli_family_run(simpledata_index):
    from xapian_spark.query.bm25 import (
        BB2Weight, IfB2Weight, IneB2Weight,
    )

    for W in (IfB2Weight, IneB2Weight, BB2Weight):
        rows = _mset(simpledata_index, W(1.0), "paragraph")
        assert len(rows) == 5
        ws = [r["score"] for r in rows]
        assert ws == sorted(ws, reverse=True)
        assert all(w == w for w in ws)  # no NaN


# -- one formula, three operand kinds: Spark SQL == floats == numpy ------

import numpy as np  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _nonneg(hi):
    return st.floats(min_value=0.0, max_value=hi, allow_nan=False,
                     allow_infinity=False)


class _MathWith:
    """The `math` module with some functions replaced."""

    def __init__(self, **fns):
        self.__dict__.update(fns)

    def __getattr__(self, name):
        return getattr(math, name)


def _termweight_with_log(w, log, *args):
    """w.termweight(*args) with `log` in place of the math.log that
    xapian_spark.query.bm25 calls."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bm25, "math", _MathWith(log=log))
        return w.termweight(*args)


_param = st.one_of(_nonneg(10.0), _nonneg(1e300))
_weights = st.one_of(
    st.builds(BM25Weight, k1=_param, k2=_param, k3=_param,
              b=_nonneg(1.0), min_normlen=_param),
    st.builds(TradWeight, k=_param))


@given(w=_weights, lf=_param, n_docs=st.integers(1, 2 ** 53),
       wqf=st.integers(1, 1000), factor=_param,
       qlen=st.integers(1, 1000), data=st.data())
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_bm25_sql_is_bit_identical_to_scalar(spark, w, lf, n_docs, wqf,
                                             factor, qlen, data):
    rows = data.draw(st.lists(st.tuples(
        st.floats(allow_nan=False, allow_infinity=False),   # tw
        st.integers(1, 2 ** 31 - 1),                        # wdf
        st.integers(0, 2 ** 53),                            # doclen
        st.integers(1, n_docs),                             # tf
    ), min_size=1, max_size=20))
    # the argument termweight() takes the log of, per row
    args = []
    for _tw, _wdf, _dl, tf in rows:
        _termweight_with_log(w, lambda x: args.append(x) or 0.0,
                             tf, n_docs, wqf, factor)
    df = spark.createDataFrame(
        [r + (x,) for r, x in zip(rows, args)],
        "tw double, wdf int, doclen long, tf long, x double")
    wdf_c, doclen_c = sql_col("wdf"), sql_col("doclen")
    got = df.selectExpr(
        f"{sql(w.sumpart(Sql('tw'), wdf_c, doclen_c, lf))} AS sumpart",
        f"{sql(w.sumextra(doclen_c, lf, qlen))} AS sumextra",
        f"{sql(w.termweight(sql_col('tf'), n_docs, wqf, factor))}"
        " AS termweight",
        "ln(x) AS ln_x").collect()
    # the WAND kernel's operands: int64 arrays of wdf and doclen
    tws, wdfs, dls, _tfs = (np.array(c) for c in zip(*rows))
    with np.errstate(all="ignore"):
        vec = w.sumpart(tws, wdfs, dls, lf)
    for (tw, wdf, dl, tf), x, r, v in zip(rows, args, got, vec):
        assert r["sumpart"].hex() == w.sumpart(tw, wdf, dl, lf).hex() \
            == float(v).hex()
        assert r["sumextra"].hex() == w.sumextra(dl, lf, qlen).hex()
        # Spark's ln and libm's log differ in the last bit for a few
        # percent of arguments; every other operation must match
        spark_ln = {x: r["ln_x"]}.__getitem__
        want = _termweight_with_log(w, spark_ln, tf, n_docs, wqf, factor)
        assert r["termweight"].hex() == want.hex()


_GENERALIZED = ([TfIdfWeight(n + "tn") for n in "nbsl"]
                + [W(1.5) for W in (InL2Weight, PL2Weight, IfB2Weight,
                                    IneB2Weight, BB2Weight)]
                + [DLHWeight(), DPHWeight()])
# the functions whose Spark and libm results may differ in the last bit
_TRANSCENDENTAL = (("ln", "log"), ("log2", "log2"), ("power", "pow"))


def _render_recording(fn):
    """fn rendered over the wdf/doclen columns, plus (SQL function,
    math name, SQL text of the arguments) of every ln/log2/power call
    it makes."""
    calls = []
    with pytest.MonkeyPatch.context() as mp:
        for name, math_name in _TRANSCENDENTAL:
            def rec(*args, f=getattr(bm25, name), name=name,
                    math_name=math_name):
                calls.append((name, math_name, [sql(a) for a in args]))
                return f(*args)
            mp.setattr(bm25, name, rec)
        part = fn(sql_col("wdf"), sql_col("doclen"))
    return sql(part), calls


def _with_spark_math(fn, wdf, doclen, spark_results):
    """fn over floats, with Spark's value in place of libm's for every
    (math name, arguments) Spark evaluated in the same row."""
    def sub(math_name):
        def f(*a):
            got = spark_results.get((math_name, a))
            return getattr(math, math_name)(*a) if got is None else got
        return f

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bm25, "math", _MathWith(
            **{m: sub(m) for _n, m in _TRANSCENDENTAL}))
        return fn(float(wdf), float(doclen))


@pytest.mark.parametrize("weight", _GENERALIZED, ids=repr)
def test_generalized_sql_matches_floats(spark, weight):
    """make_sumpart's one formula gives the same bits rendered as SQL
    and run in Spark as evaluated on floats, once the float evaluation
    uses Spark's results for ln/log2/power (Spark's may differ from
    libm's in the last bit, and cancellation in the DFR formulas can
    amplify that to hundreds of ulp). The part is exactly 0 at
    wdf = 0. Where a log's argument reaches 0 (DLH and DPH at
    wdf = doclen) or goes negative (BB2 when wdfn > cf), Spark gives
    NULL and floats a non-finite value: the part is undefined on both
    sides."""
    rnd = random.Random(repr(weight))
    rows = [(0, 1), (0, 70), (1, 1), (3, 3), (1, 2), (2, 9), (7, 1000),
            (40, 41), (1000, 10 ** 5)]
    rows += [(w, max(w, rnd.randint(1, 10 ** 5)))
             for w in (rnd.randint(1, 1000) for _ in range(11))]
    cases = []  # 20 parameter sets: (fn, SQL text, recorded calls)
    for i in range(20):
        n_docs = rnd.choice([2, 3, 1000, rnd.randint(2, 10 ** 6)])
        tf = rnd.choice([1, n_docs, rnd.randint(1, n_docs)])
        dl_lo = rnd.randint(1, 100)
        fn = weight.make_sumpart(
            tf, rnd.choice([tf, rnd.randint(tf, 100 * tf)]), n_docs,
            rnd.uniform(1.0, 1000.0), rnd.randint(1, 5),
            rnd.choice([1.0, 0.5, 2.5]),
            wdf_upper=rnd.randint(1, 1000), doclen_lower=dl_lo,
            doclen_upper=rnd.randint(dl_lo, 10 ** 5))
        cases.append((fn,) + _render_recording(fn))
    cols = []
    for i, (_fn, text, calls) in enumerate(cases):
        cols.append(f"{text} AS part{i}")
        for j, (name, _m, args) in enumerate(calls):
            cols += [f"{a} AS arg{i}_{j}_{k}" for k, a in enumerate(args)]
            cols.append(f"{name}({', '.join(args)}) AS res{i}_{j}")
    got = spark.createDataFrame(rows, "wdf int, doclen int") \
        .selectExpr(*cols).collect()
    for (wdf, dl), r in zip(rows, got):
        for i, (fn, _text, calls) in enumerate(cases):
            spark_results = {
                (m, tuple(r[f"arg{i}_{j}_{k}"] for k in range(len(args)))):
                r[f"res{i}_{j}"] for j, (_n, m, args) in enumerate(calls)}
            want = _with_spark_math(fn, wdf, dl, spark_results)
            got_i = r[f"part{i}"]
            if wdf == 0:
                assert got_i == 0.0 and want == 0.0
            elif got_i is None:
                assert not math.isfinite(want), (i, wdf, dl, want)
            else:
                assert got_i.hex() == want.hex(), (i, wdf, dl)
