"""Soaktest-style randomized query trees (modeled on
xapian-core/tests/soaktest/soaktest_queries.cc:181-215): seeded random
trees over the apitest corpus and over the first 200 sf0.001 documents,
executed by the SQL executor and cross-checked against an independent
pure-Python reference scorer that re-implements the operator semantics
from first principles.

Also asserts the MSet-prefix property the reference soaktest checks:
get_mset(0, k) is a prefix of get_mset(0, k+m).
"""

import random

import pytest
from pyspark.sql import functions as F

from xapian_spark.query import ops
from xapian_spark.query.bm25 import BM25Weight
from xapian_spark.query.executor import Enquire


def _pydata(index):
    """In-memory copy: term → {doc: wdf}, doclens, stats."""
    postings = {}
    doclens = {}
    for r in index.postings.collect():
        postings.setdefault(r["term"], {})[r["doc_id"]] = r["wdf"]
        doclens[r["doc_id"]] = r["doclen"]
    return postings, doclens, index.stats


@pytest.fixture(scope="module")
def pydata(simpledata_index):
    return _pydata(simpledata_index)


@pytest.fixture(scope="module")
def sf_index(spark):
    from xapian_spark.index.build import build_index

    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(200))
    idx = build_index(docs, text_col="text", analyzer="simple")
    idx.postings = idx.postings.persist()
    return idx


@pytest.fixture(scope="module")
def sf_pydata(sf_index):
    return _pydata(sf_index)


def py_eval(node, pydata, w: BM25Weight, factor=1.0):
    """→ dict doc_id → list of weight parts (summed sorted later)."""
    postings, doclens, st = pydata
    lf = w.len_factor(st.average_length)

    def term_parts(term, wqf=1, f=factor):
        pl = postings.get(term, {})
        if not pl:
            return {}
        tw = w.termweight(len(pl), st.doccount, wqf, f)
        return {d: [w.sumpart(tw, wdf, doclens[d], lf)]
                for d, wdf in pl.items()}

    if isinstance(node, ops.Term):
        return term_parts(node.term, node.wqf)
    if isinstance(node, ops.ScaleWeight):
        return py_eval(node.child, pydata, w, factor * node.factor)
    if isinstance(node, ops.MatchNothing):
        return {}
    if isinstance(node, ops.MatchAll):
        return {d: [0.0] for d in doclens}
    if isinstance(node, (ops.And, ops.Or, ops.Xor, ops.Max)):
        kids = [py_eval(c, pydata, w, factor) for c in node.children]
        if not kids:
            return {}
        all_docs = set().union(*kids)
        out = {}
        for d in all_docs:
            hit = [k[d] for k in kids if d in k]
            if isinstance(node, ops.And) and len(hit) != len(kids):
                continue
            if isinstance(node, ops.Xor) and len(hit) % 2 == 0:
                continue
            if isinstance(node, ops.Max):
                out[d] = [max(sum(sorted(h)) for h in hit)]
            else:
                out[d] = [p for h in hit for p in h]
        return out
    if isinstance(node, ops.Synonym):
        terms = [c.term for c in node.children]
        docs = {}
        for t in terms:
            for d, wdf in postings.get(t, {}).items():
                docs[d] = docs.get(d, 0) + wdf
        if not docs:
            return {}
        tf = len(docs)
        tw = w.termweight(tf, st.doccount, 1, factor)
        return {d: [w.sumpart(tw, min(wdf, doclens[d]), doclens[d], lf)]
                for d, wdf in docs.items()}
    if isinstance(node, ops.AndNot):
        left = py_eval(node.left, pydata, w, factor)
        right = py_eval(node.right, pydata, w, factor)
        return {d: p for d, p in left.items() if d not in right}
    if isinstance(node, ops.Filter):
        left = py_eval(node.left, pydata, w, factor)
        right = py_eval(node.right, pydata, w, factor)
        return {d: p for d, p in left.items() if d in right}
    if isinstance(node, ops.AndMaybe):
        left = py_eval(node.left, pydata, w, factor)
        right = py_eval(node.right, pydata, w, factor)
        return {d: p + right.get(d, []) for d, p in left.items()}
    raise TypeError(type(node))


def py_mset(node, pydata, k=30):
    parts = py_eval(node, pydata, BM25Weight())
    scored = [(sum(sorted(p)), d) for d, p in parts.items()]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [(d, round(s, 9)) for s, d in scored[:k]]


def _random_tree(rng, vocab, depth=0):
    if depth >= 2 or rng.random() < 0.35:
        return ops.Term(rng.choice(vocab))
    kind = rng.randrange(10)
    kids = [_random_tree(rng, vocab, depth + 1)
            for _ in range(rng.randint(2, 3))]
    if kind == 0:
        return ops.And(kids)
    if kind == 1:
        return ops.Or(kids)
    if kind == 2:
        return ops.Xor(kids)
    if kind == 3:
        return ops.AndNot(kids[0], kids[1])
    if kind == 4:
        return ops.AndMaybe(kids[0], kids[1])
    if kind == 5:
        return ops.Filter(kids[0], kids[1])
    if kind == 6:
        return ops.Synonym([ops.Term(rng.choice(vocab))
                            for _ in range(2)])
    if kind == 7:
        return ops.Max(kids)
    if kind == 8:
        return ops.Or([kids[0], ops.MatchNothing()])
    return ops.ScaleWeight(kids[0], rng.choice([0.5, 2.0]))


def _check_random_trees(index, pydata, vocab, seed):
    vocab = vocab + ["absentterm1", "absentterm2"]
    rng = random.Random(seed)
    enq = Enquire(index)
    for _ in range(6):
        tree = _random_tree(rng, vocab)
        want = py_mset(tree, pydata)
        got = [(r["doc_id"], round(r["score"], 9))
               for r in enq.get_mset(tree, 0, 30).collect()]
        assert got == want, tree


@pytest.mark.parametrize("seed", [11, 23, 37, 51])
def test_random_trees_match_python_reference(simpledata_index, pydata,
                                             seed):
    vocab = sorted({r["term"] for r in
                    simpledata_index.term_stats.collect()})
    _check_random_trees(simpledata_index, pydata, vocab, seed)


@pytest.mark.parametrize("seed", [11, 23, 37, 51])
def test_random_trees_match_python_reference_sf0001(sf_index, sf_pydata,
                                                    seed):
    # the 40 most frequent terms, so nested And/Xor/Filter trees match
    # documents instead of being empty
    vocab = [r["term"] for r in sf_index.term_stats.orderBy(
        F.desc("tf"), "term").limit(40).collect()]
    _check_random_trees(sf_index, sf_pydata, vocab, seed)


def test_mset_prefix_property(simpledata_index):
    enq = Enquire(simpledata_index)
    q = ops.Or([ops.Term("this"), ops.Term("paragraph"),
                ops.Term("word")])
    full = [(r["doc_id"], round(r["score"], 9))
            for r in enq.get_mset(q, 0, 10).collect()]
    for k in (1, 2, 3, 5):
        part = [(r["doc_id"], round(r["score"], 9))
                for r in enq.get_mset(q, 0, k).collect()]
        assert part == full[:k]


def test_duplicate_term_scores_twice(simpledata_index, pydata):
    """"beer beer": each duplicate leaf contributes its own weight
    (the reference keeps separate QueryTerm leaves, wqf 1 each)."""
    enq = Enquire(simpledata_index)
    single = {r["doc_id"]: r["score"] for r in
              enq.get_mset(ops.Term("word"), 0, 10).collect()}
    double = {r["doc_id"]: r["score"] for r in
              enq.get_mset(ops.Or([ops.Term("word"),
                                   ops.Term("word")]), 0, 10).collect()}
    assert set(single) == set(double)
    for d, s in single.items():
        assert double[d] == pytest.approx(2 * s, rel=1e-12)
    # and the python reference agrees exactly
    want = py_mset(ops.Or([ops.Term("word"), ops.Term("word")]), pydata)
    got = [(r_d, round(r_s, 9)) for r_d, r_s in double.items()]
    assert sorted(got) == sorted(want)
