"""Document delete / replace via tombstones
(BrassWritableDatabase::delete_document / replace_document,
backends/brass/brass_database.cc:1105-1230, re-expressed for immutable
segment storage + compaction purge).

The gold standard throughout: an index with deletes must answer every
query IDENTICALLY (ranks AND scores) to a fresh index built without
the deleted docs — which requires the stat deltas (doccount, avlen,
tf, cf) to be exact, not just the posting filter."""

import pytest
from pyspark.sql import functions as F

from xapian_spark.index.build import build_index
from xapian_spark.index.segments import (
    build_segments, compact, delete_documents, replace_documents,
)
from xapian_spark.query import ops
from xapian_spark.query.executor import Enquire
from xapian_spark.query.wand import WandEnquire


def _pairs(df):
    return [(r["doc_id"], round(r["score"], 12)) for r in df.collect()]


@pytest.fixture(scope="module")
def corpus(spark):
    return (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(120))


def test_delete_matches_fresh_build(spark, corpus, tmp_path):
    dead = [3, 7, 20, 55]
    seg = build_segments(corpus, str(tmp_path / "full"), n_segments=4,
                         analyzer="simple")
    seg = delete_documents(seg, dead)

    fresh_docs = corpus.filter(~F.col("doc_id").isin(dead))
    fresh = build_segments(fresh_docs, str(tmp_path / "fresh"),
                           n_segments=4, analyzer="simple")

    # exact global + term stats
    assert seg.stats().doccount == fresh.stats().doccount
    assert seg.stats().average_length == fresh.stats().average_length
    a = {r["term"]: (r["tf"], r["cf"])
         for r in seg.term_stats().collect()}
    b = {r["term"]: (r["tf"], r["cf"])
         for r in fresh.term_stats().collect()}
    assert a == b

    # WAND identical (scores too), OR and AND
    for terms, op in ((["the", "data", "batch"], "or"),
                      (["batch", "window"], "and")):
        got = _pairs(WandEnquire(seg).get_mset(terms, 10, op=op))
        exp = _pairs(WandEnquire(fresh).get_mset(terms, 10, op=op))
        assert got == exp, (terms, op)
        assert not any(d in dead for d, _ in got)

    # full executor algebra through to_inverted_index
    q = ops.Or([ops.Term("the"), ops.Term("data")])
    got = _pairs(Enquire(seg.to_inverted_index()).get_mset(q, 0, 10))
    exp = _pairs(Enquire(fresh.to_inverted_index()).get_mset(q, 0, 10))
    assert got == exp

    # doclens exclude the dead docs
    assert seg.doclens().filter(F.col("doc_id").isin(dead)).count() == 0


def test_delete_idempotent(spark, corpus, tmp_path):
    seg = build_segments(corpus, str(tmp_path / "idx"), n_segments=2,
                         analyzer="simple")
    seg = delete_documents(seg, [5, 6])
    st1 = seg.stats()
    seg = delete_documents(seg, [5, 6])  # replay: no double deltas
    st2 = seg.stats()
    assert (st1.doccount, st1.average_length) == \
        (st2.doccount, st2.average_length)


def test_replace_document(spark, corpus, tmp_path):
    seg = build_segments(corpus, str(tmp_path / "idx"), n_segments=4,
                         analyzer="simple")
    new = spark.createDataFrame(
        [(7, "zzzreplaced zzzreplaced unique text")],
        "doc_id long, text string")
    seg = replace_documents(seg, new, analyzer="simple")

    # same doccount; old postings of doc 7 dead, new ones live
    assert seg.stats().doccount == 120
    got = _pairs(WandEnquire(seg).get_mset(["zzzreplaced"], 10))
    assert [d for d, _ in got] == [7]

    # identical to a fresh build with the replaced text
    fresh_docs = corpus.filter(F.col("doc_id") != 7).unionByName(new)
    fresh = build_segments(fresh_docs, str(tmp_path / "fresh"),
                           n_segments=4, analyzer="simple")
    assert seg.stats().average_length == fresh.stats().average_length
    got = _pairs(WandEnquire(seg).get_mset(["the", "data"], 10))
    exp = _pairs(WandEnquire(fresh).get_mset(["the", "data"], 10))
    assert got == exp


def test_compact_purges_tombstones(spark, corpus, tmp_path):
    import os

    dead = [1, 2, 3]
    seg = build_segments(corpus, str(tmp_path / "idx"), n_segments=4,
                         analyzer="simple", keep_positions=True)
    seg = delete_documents(seg, dead)
    before = _pairs(WandEnquire(seg).get_mset(["the", "data"], 10))

    packed = compact(seg, str(tmp_path / "packed"), n_segments=2)
    # physically gone: no tombstone state, no postings for dead docs
    assert not os.path.exists(f"{packed.path}/tombstones")
    assert packed.tombstones() is None
    assert packed.doclens().filter(
        F.col("doc_id").isin(dead)).count() == 0
    assert packed.stats().doccount == seg.stats().doccount
    # query identity preserved through the purge
    assert _pairs(WandEnquire(packed).get_mset(["the", "data"], 10)) \
        == before


def test_metadata_kv(spark, corpus, tmp_path):
    """Generic user metadata K/V (brass_metadata.cc,
    database.h:371-387): last-write-wins, '' deletes, prefix
    iteration."""
    seg = build_segments(corpus.limit(10), str(tmp_path / "idx"),
                         n_segments=1, analyzer="simple")
    assert seg.get_metadata("nokey") == ""
    seg.set_metadata("sample", "abc")
    seg.set_metadata("other:x", "1")
    seg.set_metadata("sample", "def")  # overwrite
    assert seg.get_metadata("sample") == "def"
    assert seg.get_metadata("other:x") == "1"
    keys = [r["key"] for r in seg.metadata_keys().collect()]
    assert keys == ["other:x", "sample"]
    seg.set_metadata("sample", "")  # delete
    assert seg.get_metadata("sample") == ""
    keys = [r["key"] for r in seg.metadata_keys().collect()]
    assert keys == ["other:x"]
    assert [r["key"] for r in seg.metadata_keys("other").collect()] \
        == ["other:x"]


def test_delete_after_replace_kills_resurrected_doc(spark, tmp_path):
    """A tombstoned docid resurrected by replace must be deletable
    again (the skip guard compares before_seg against the CURRENT max
    segment, not mere tombstone existence)."""
    docs = spark.createDataFrame(
        [(i, f"common word{i}") for i in range(1, 9)],
        "doc_id long, text string")
    seg = build_segments(docs, str(tmp_path / "i"), n_segments=2,
                         analyzer="simple")
    rep = spark.createDataFrame([(3, "replaced text")],
                                "doc_id long, text string")
    seg = replace_documents(seg, rep, analyzer="simple")
    seg = delete_documents(seg, [3])
    wq = WandEnquire(seg)
    assert wq.get_mset(["replaced"], 10).collect() == []
    assert seg.stats().doccount == 7


def test_double_replace_single_live_copy(spark, tmp_path):
    """Replacing the same docid twice leaves exactly one live copy and
    exact stats (re-delete deltas count only segments newer than the
    prior tombstone)."""
    docs = spark.createDataFrame(
        [(i, f"common word{i}") for i in range(1, 9)],
        "doc_id long, text string")
    seg = build_segments(docs, str(tmp_path / "i"), n_segments=2,
                         analyzer="simple")
    for text in ("zebra one", "zebra two"):
        rep = spark.createDataFrame([(5, text)],
                                    "doc_id long, text string")
        seg = replace_documents(seg, rep, analyzer="simple")
    wq = WandEnquire(seg)
    hits = wq.get_mset(["zebra"], 10).collect()
    assert [r["doc_id"] for r in hits] == [5]
    assert seg.stats().doccount == 8
    flat = seg.to_inverted_index()
    live = {r["term"] for r in flat.postings.filter(
        F.col("doc_id") == 5).select("term").collect()}
    assert live == {"zebra", "two"}


def test_tombstone_queue_bound_enforced(spark, corpus, tmp_path):
    seg = build_segments(corpus, str(tmp_path / "bound"),
                         n_segments=2, analyzer="simple")
    seg = delete_documents(seg, [1, 2, 3, 4, 5])
    # shrink the bound on this instance: 5 tombstones > 3 must refuse
    seg.MAX_TOMBSTONES = 3
    with pytest.raises(RuntimeError, match="compact"):
        seg._dead_arrays()
    # compact() folds the deletes in; the purged index queries fine
    seg.MAX_TOMBSTONES = 3
    compacted = compact(seg, str(tmp_path / "bound_c"))
    WandEnquire(compacted).get_mset(["the"], 5, op="or").collect()


def test_dead_arrays_cached_per_view(spark, corpus, tmp_path):
    # the tombstone arrays WAND reads are collected once per index view:
    # a second call on a post-delete view runs no Spark job, and the
    # next delete's view sees the new tombstones
    seg = build_segments(corpus, str(tmp_path / "dead"), n_segments=2,
                         analyzer="simple")
    seg = delete_documents(seg, [7, 3])
    first = seg._dead_arrays()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("dead-warm", "second _dead_arrays call")
        second = seg._dead_arrays()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(tracker.getJobIdsForGroup("dead-warm")) == []
    assert second is first
    assert list(first[0]) == [3, 7]
    seg = delete_documents(seg, [5])
    assert list(seg._dead_arrays()[0]) == [3, 5, 7]
