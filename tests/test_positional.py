"""Phrase/NEAR positional check: the SQL predicate the executor plans
with (executor.window_check_sql) against a brute-force reference, and
end to end on a tiny index."""

import random
from typing import List

import pytest

from xapian_spark.index.build import build_index
from xapian_spark.query import ops
from xapian_spark.query.executor import Enquire, window_check_sql


def _positions_match(plists: List[List[int]], window: int,
                     ordered: bool) -> bool:
    """True iff there's one position per list, all within `window`
    (max-min < window), and strictly increasing when `ordered`."""
    n = len(plists)

    def rec(i: int, chosen: List[int]) -> bool:
        if i == n:
            return max(chosen) - min(chosen) < window
        for p in plists[i]:
            if ordered and chosen and p <= chosen[-1]:
                continue
            if chosen and max(chosen + [p]) - min(chosen + [p]) >= window:
                continue
            if rec(i + 1, chosen + [p]):
                return True
        return False

    return rec(0, [])


def _cases(seed: int, count: int):
    """(position lists, window, ordered): 1-4 lists of 0-5 positions in
    1..30, some unsorted with duplicates (an element with alternative
    terms) and some repeated (a repeated term)."""
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        lists = []
        for _i in range(rng.randint(1, 4)):
            if lists and rng.random() < 0.2:
                lists.append(list(rng.choice(lists)))
                continue
            k = rng.randint(0, 5)
            ps = sorted(rng.sample(range(1, 31), k))
            if k and rng.random() < 0.2:
                j = rng.randint(0, k)
                ps = ps[j:] + sorted(rng.choices(range(1, 31), k=k - j))
            lists.append(ps)
        out.append((lists, rng.randint(1, 12), rng.random() < 0.5))
    return out


def test_window_check_sql_equals_reference(spark):
    import pandas as pd

    cases = _cases(seed=11, count=3000)
    pdf = pd.DataFrame({
        "id": range(len(cases)),
        "_p": [lists for lists, _w, _o in cases],
        "w": [w for _l, w, _o in cases],
        "ordered": [o for _l, _w, o in cases],
    })
    df = spark.createDataFrame(
        pdf, "id long, _p array<array<int>>, w int, ordered boolean")
    # one query for every case: the ordered check takes the list count
    # as a literal, so branch on it
    ordered = " ".join(f"WHEN {n} THEN {window_check_sql(n, 'w', True)}"
                       for n in range(1, 5))
    got = dict(df.selectExpr(
        "id", f"coalesce(IF(ordered, CASE size(_p) {ordered} END,"
        f" {window_check_sql(0, 'w', False)}), false) AS ok").collect())
    want = {i: _positions_match(lists, w, o)
            for i, (lists, w, o) in enumerate(cases)}
    assert got == want
    assert 0.2 < sum(want.values()) / len(want) < 0.8


@pytest.fixture(scope="module")
def tiny_enquire(spark):
    texts = ["a b a c", "a b c a", "b a b a", "x a b y a", "a c b a",
             "c b a", "a a b"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    return Enquire(build_index(docs, analyzer="simple")), texts


@pytest.mark.parametrize("query", [
    ops.Phrase(["a", "b", "a"]),
    ops.Phrase([("a", "c"), "b"]),
    ops.Phrase([("a", "c"), "b", "a"], window=4),
    ops.Near(["a", "b", "a"], window=2),
    ops.Near([("x", "c"), "b"], window=2),
], ids=["repeated", "alternatives", "alternatives_window", "near_repeated",
        "near_alternatives"])
def test_positional_query_end_to_end(tiny_enquire, query):
    enq, texts = tiny_enquire
    elems = [e if isinstance(e, tuple) else (e,) for e in query.terms_]
    n = len(elems)
    ordered = isinstance(query, ops.Phrase)
    window = query.window or (n if ordered else n + 9)
    want = []
    for doc_id, text in enumerate(texts):
        words = text.split()
        lists = [[i + 1 for i, t in enumerate(words) if t in e]
                 for e in elems]
        if all(lists) and _positions_match(lists, window, ordered):
            want.append(doc_id)
    got = enq.get_mset(query, 0, 100).collect()
    assert sorted(r["doc_id"] for r in got) == want
    assert want  # each query matches something on this corpus
    # the score is the OR of the query's terms, restricted to matches
    terms = sorted(set(query.terms()))
    scores = dict(enq.compile(ops.Or([ops.Term(t) for t in terms]))
                  .collect())
    assert {r["doc_id"]: r["score"] for r in got} == \
        {d: scores[d] for d in want}


@pytest.mark.parametrize("query, want", [
    (ops.AndNot("a", "c"), [2, 3, 6]),
    (ops.AndNot("a", ops.Phrase(["b", "a"])), [1, 3, 6]),
    (ops.Filter("a", ops.Phrase(["b", "a"])), [0, 2, 4, 5]),
    (ops.Filter("a", ops.Or(["x", "c"])), [0, 1, 3, 4, 5]),
], ids=["and_not_term", "and_not_phrase", "filter_phrase", "filter_or"])
def test_weightless_right_side(tiny_enquire, query, want):
    # the right side's terms are not weighted, so they are not among
    # the query's terms: it must still see their postings
    enq, _texts = tiny_enquire
    assert sorted(r["doc_id"] for r in enq.compile(query).collect()) \
        == want
