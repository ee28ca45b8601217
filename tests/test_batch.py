"""Batch query evaluation == the single-query path, per query.

The contract (WandEnquire.get_mset_batch): one plan answering a whole
query workload over a chunk-encoded SegmentIndex must reproduce
Enquire.get_mset on the flat index exactly — same docids, same BM25
scores, same tiebreak — for every query in the batch, for OR and AND
semantics, wqf-merged duplicates, and unknown terms, also after
deletes and replaces. Planning it runs no Spark job once the term
dictionary is cached, and the kernel runs one task per segment.
"""

import re

import pytest
from pyspark.sql import functions as F

from xapian_spark.index import termdict
from xapian_spark.index.segments import (
    SegmentIndex, build_segments, delete_documents, replace_documents,
)
from xapian_spark.index.termdict import term_in
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


def _single_wand(seg, specs, k):
    wq = WandEnquire(seg)
    out = {}
    for qid, terms, op in specs:
        wqf = {}
        for t in terms:
            wqf[t] = wqf.get(t, 0) + 1
        rows = wq.get_mset(list(wqf), k, op=op, wqf=wqf).collect()
        if rows:
            out[qid] = [(i + 1, r["doc_id"], r["score"])
                        for i, r in enumerate(rows)]
    return out


def _exact_batch(seg, specs, k):
    res = WandEnquire(seg).get_mset_batch(
        [(q, t) for q, t, _o in specs], k,
        ops_by_id={q: o for q, _t, o in specs}).collect()
    out = {}
    for r in res:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def _batch(seg, specs, k):
    return {q: [(rank, d, round(score, 9)) for rank, d, score in v]
            for q, v in _exact_batch(seg, specs, k).items()}


def test_wand_batch_matches_flat_single_path(seg_index, flat_index):
    enq = Enquire(flat_index)
    got = _batch(seg_index, SPECS, k=10)
    for qid, terms, op in SPECS:
        exp = _single(enq, terms, op, 10)
        assert got.get(qid, []) == exp, qid
    assert got["or3"] and got["and2"] and got["wqf"]
    assert "missing_and" not in got and "all_missing" not in got


def test_wand_batch_matches_single_wand(seg_index):
    assert _exact_batch(seg_index, SPECS, 10) \
        == _single_wand(seg_index, SPECS, 10)


def test_wand_batch_k_truncates(seg_index):
    got = _batch(seg_index, [("or2", ["batch", "scan"], "or")], k=2)
    assert [r[0] for r in got["or2"]] == [1, 2]


def test_wand_batch_rejects_bad_op(seg_index):
    with pytest.raises(ValueError, match="unsupported batch op"):
        WandEnquire(seg_index).get_mset_batch(
            [("a", ["batch"])], 10, ops_by_id={"a": "xor"})


@pytest.mark.parametrize("churn", [False, True])
def test_wand_batch_equals_single_across_segment_layouts(
        spark, docs, tmp_path, churn):
    """3 segments (fewer than the session's 4 cores), and 4 segments
    after a delete and a 2-segment replace: the appended seg_ids 4 and
    5 wrap onto the partitions of segments 0 and 1, and tombstoned ids
    must drop out of the segments before the replace only."""
    seg = build_segments(docs, str(tmp_path), n_segments=4 if churn else 3,
                         analyzer="simple")
    if churn:
        top = [d for _r, d, _s in
               _single_wand(seg, SPECS[:2], 10)["or3"]]
        dead = top[:3] + [1, 2, 3]
        seg = delete_documents(seg, dead)
        a, b = [d for d in range(5, 20) if d not in top][:2]
        new = spark.createDataFrame(
            [(top[3], "batch scan dup dup"), (top[4], "join hash"),
             (a, "merge filter merge"), (b, "scan")],
            "doc_id long, text string")
        seg = replace_documents(seg, new, analyzer="simple", n_segments=2)
        assert seg._segment_span() == 6
    specs = SPECS + [
        ("or_many", ["batch", "scan", "join", "hash", "merge", "filter",
                     "dup"], "or"),
        ("and3", ["batch", "scan", "dup"], "and"),
    ]
    got = _exact_batch(seg, specs, 10)
    want = _single_wand(seg, specs, 10)
    assert got == want
    assert got["or_many"] and got["or3"]
    if churn:
        hits = {d for rows in got.values() for _r, d, _s in rows}
        assert hits.isdisjoint(dead)
        assert top[3] in {d for _r, d, _s in got["or3"]}


def test_term_in_matches_isin(spark, tmp_path):
    terms = ["it's", "back\\slash", 'dq"uote', "caf\u00e9", "\u65e5\u672c",
             "\u00e9" * 122 + "x", "plain", "''", "\\'"]
    assert len(terms[5].encode("utf-8")) == 245
    spark.createDataFrame([(t, i) for i, t in enumerate(terms + ["other"])],
                          "term string, i int").write.parquet(
        str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    probe = terms + ["absent", "caf"]
    got = sorted(r["term"] for r in df.filter(term_in(probe)).collect())
    want = sorted(r["term"] for r in
                  df.filter(F.col("term").isin(probe)).collect())
    assert got == want == sorted(terms)
    plan = df.filter(term_in(probe))._jdf.queryExecution() \
        .executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(term, ", plan)
    assert df.filter(term_in([])).count() == 0


def test_term_dict_over_cap_falls_back_to_filtered_collect(
        spark, seg_index, monkeypatch):
    specs = SPECS[:4]
    want = _exact_batch(seg_index, specs, 10)
    monkeypatch.setattr(termdict, "TERM_DICT_CACHE_MAX", 1)
    capped = SegmentIndex(spark, seg_index.path)
    assert capped._term_dict is None
    assert capped.term_freqs(["batch", "zzzznotaterm"]) \
        == seg_index.term_freqs(["batch", "zzzznotaterm"])
    assert _exact_batch(capped, specs, 10) == want


def test_wand_batch_plans_without_jobs_one_task_per_segment(
        spark, seg_index):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    queries = [(q, t) for q, t, _o in SPECS]
    wq = WandEnquire(seg_index)
    wq.get_mset_batch(queries, 10).collect()  # fills the index caches
    try:
        sc.setJobGroup("wand-plan", "plan")
        df = wq.get_mset_batch(queries, 10)
        wq.get_mset(["batch", "scan"], 10)
        sc.setJobGroup("wand-exec", "exec")
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(tracker.getJobIdsForGroup("wand-plan")) == []
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    kernel_tasks = []
    for job in tracker.getJobIdsForGroup("wand-exec"):
        for stage in tracker.getJobInfo(job).stageIds:
            a = store.lastStageAttempt(stage)
            # the kernel stage reads the chunk shuffle and writes the
            # per-query merge shuffle
            if (a.status().toString() == "COMPLETE"
                    and a.shuffleReadBytes() and a.shuffleWriteBytes()):
                kernel_tasks.append(a.numCompleteTasks())
    assert kernel_tasks == [4]
