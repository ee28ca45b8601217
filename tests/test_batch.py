"""Batch query evaluation == the single-query path, per query.

The contract (WandEnquire.get_mset_batch): one job answering a whole
query workload over a chunk-encoded SegmentIndex must reproduce
Enquire.get_mset on the flat index exactly — same docids, same BM25
scores, same tiebreak — for every query in the batch, for OR and AND
semantics, wqf-merged duplicates, and unknown terms.
"""

import pytest

from xapian_spark.query import ops
from xapian_spark.query.executor import Enquire
from xapian_spark.query.wand import WandEnquire

SPECS = [
    ("or3", ["batch", "scan", "dup"], "or"),
    ("and2", ["join", "hash"], "and"),
    ("single", ["dup"], "or"),
    ("wqf", ["merge", "merge", "filter"], "or"),
    ("missing_and", ["batch", "zzzznotaterm"], "and"),
    ("missing_or", ["dup", "zzzznotaterm"], "or"),
    ("all_missing", ["zzzznotaterm"], "or"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def flat_index(docs):
    from xapian_spark.index.build import build_index

    idx = build_index(docs, analyzer="simple")
    idx.postings = idx.postings.persist()
    return idx


@pytest.fixture(scope="module")
def seg_index(docs, tmp_path_factory):
    from xapian_spark.index.segments import build_segments

    path = str(tmp_path_factory.mktemp("batch_seg"))
    return build_segments(docs, path, n_segments=4, analyzer="simple")


def _single(enq, terms, op, k):
    if op == "and":
        node = ops.And(list(terms))
    else:
        wqf = {}
        for t in terms:
            wqf[t] = wqf.get(t, 0) + 1
        ch = [ops.Term(t, wqf=w) for t, w in wqf.items()]
        node = ch[0] if len(ch) == 1 else ops.Or(ch)
    rows = enq.get_mset(node, 0, k).collect()
    return [(i + 1, r["doc_id"], round(r["score"], 9))
            for i, r in enumerate(rows)]


def _batch(seg, specs, k):
    res = WandEnquire(seg).get_mset_batch(
        [(q, t) for q, t, _o in specs], k,
        ops_by_id={q: o for q, _t, o in specs}).collect()
    out = {}
    for r in res:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for q in out:
        out[q].sort()
    return out


def test_wand_batch_matches_flat_single_path(seg_index, flat_index):
    enq = Enquire(flat_index)
    got = _batch(seg_index, SPECS, k=10)
    for qid, terms, op in SPECS:
        exp = _single(enq, terms, op, 10)
        assert got.get(qid, []) == exp, qid
    assert got["or3"] and got["and2"] and got["wqf"]
    assert "missing_and" not in got and "all_missing" not in got


def test_wand_batch_matches_single_wand(seg_index):
    wq = WandEnquire(seg_index)
    got = _batch(seg_index, SPECS, k=10)
    for qid, terms, op in SPECS:
        wqf = {}
        for t in terms:
            wqf[t] = wqf.get(t, 0) + 1
        rows = wq.get_mset(list(dict.fromkeys(terms)), 10, op=op,
                           wqf=wqf).collect()
        exp = [(i + 1, r["doc_id"], round(r["score"], 9))
               for i, r in enumerate(rows)]
        assert got.get(qid, []) == exp, qid


def test_wand_batch_k_truncates(seg_index):
    got = _batch(seg_index, [("or2", ["batch", "scan"], "or")], k=2)
    assert [r[0] for r in got["or2"]] == [1, 2]


def test_wand_batch_rejects_bad_op(seg_index):
    with pytest.raises(ValueError, match="unsupported batch op"):
        WandEnquire(seg_index).get_mset_batch(
            [("a", ["batch"])], 10, ops_by_id={"a": "xor"})
