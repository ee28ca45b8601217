"""Segmented chunk index + block-max WAND kernel tests.

Invariants:
- codec roundtrip (delta+vbyte triples, block-max metadata)
- a SegmentIndex decodes back to exactly the flat index's postings
- manifest lineage/metrics are consistent; resume skips built segments
- WAND top-k is rank- AND score-identical to the DataFrame executor
- pruning never changes the top-k (exhaustive == pruned), incl. on a
  Zipf-skewed corpus (soaktest-style randomized property)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xapian_spark.index.build import build_index
from xapian_spark.index.codec import (
    decode_chunk, encode_chunks, vbyte_decode, vbyte_encode,
)
from xapian_spark.index.segments import (
    DOCLEN_TERM, SegmentIndex, build_segments,
)
from xapian_spark.query import ops
from xapian_spark.query.bm25 import BM25Weight, TradWeight
from xapian_spark.query.executor import Enquire
from xapian_spark.query.wand import WandEnquire


def test_vbyte_roundtrip():
    rng = np.random.default_rng(3)
    for _ in range(50):
        n = int(rng.integers(0, 400))
        v = rng.integers(0, 2 ** int(rng.integers(1, 63)), size=n,
                         dtype=np.uint64)
        assert (vbyte_decode(vbyte_encode(v)) == v).all()
    for v in ([0], [127], [128], [16383], [16384], [2**63 - 1]):
        a = np.array(v, dtype=np.uint64)
        assert (vbyte_decode(vbyte_encode(a)) == a).all()


def test_chunk_roundtrip_and_blockmax():
    rng = np.random.default_rng(11)
    ids = np.cumsum(rng.integers(1, 9, size=5000)).astype(np.int64)
    w = rng.integers(1, 60, size=5000).astype(np.int64)
    dl = rng.integers(10, 4000, size=5000).astype(np.int64)
    chunks = encode_chunks(ids, w, dl)
    assert len(chunks) > 1
    out_ids, out_w, out_dl = [], [], []
    for c in chunks:
        a, b, d = decode_chunk(c.data)
        assert a[0] == c.first_doc_id and a[-1] == c.last_doc_id
        assert c.max_wdf == b.max() and c.min_doclen == d.min()
        out_ids.append(a), out_w.append(b), out_dl.append(d)
    assert (np.concatenate(out_ids) == ids).all()
    assert (np.concatenate(out_w) == w).all()
    assert (np.concatenate(out_dl) == dl).all()
    # chunk boundaries respect the ~2000-byte target
    body = [len(c.data) for c in chunks[:-1]]
    assert max(body) < 3000


@pytest.fixture(scope="module")
def seg_setup(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("segidx"))
    seg = build_segments(docs, path, n_segments=4, analyzer="simple",
                         input_desc="sf0.001/documents")
    flat = build_index(docs, analyzer="simple")
    return docs, seg, flat


def _decoded_postings(seg: SegmentIndex):
    rows = seg.postings_chunks.collect()
    out = {}
    for r in rows:
        ids, w, dl = decode_chunk(bytes(r["data"]))
        for i, d in enumerate(ids):
            out[(r["term"], int(d))] = (int(w[i]), int(dl[i]))
    return out


def test_segment_index_matches_flat(seg_setup):
    _docs, seg, flat = seg_setup
    dec = _decoded_postings(seg)
    flat_rows = {
        (r["term"], r["doc_id"]): (r["wdf"], r["doclen"])
        for r in flat.postings.collect()
    }
    assert dec == flat_rows
    # term dictionary identical
    seg_ts = {r["term"]: (r["tf"], r["cf"])
              for r in seg.term_stats().collect()}
    flat_ts = {r["term"]: (r["tf"], r["cf"])
               for r in flat.term_stats.collect()}
    assert seg_ts == flat_ts
    # global stats identical
    s, f = seg.stats(), flat.stats
    assert (s.doccount, s.total_doclen, s.doclen_lbound, s.doclen_ubound,
            s.wdf_ubound) == (f.doccount, f.total_doclen, f.doclen_lbound,
                              f.doclen_ubound, f.wdf_ubound)


def test_manifest_and_resume(seg_setup, spark):
    docs, seg, _flat = seg_setup
    man = seg.manifest().collect()
    assert {r["seg_id"] for r in man} == {0, 1, 2, 3}
    assert sum(r["n_docs"] for r in man) == docs.count()
    assert all(r["checksum"] > 0 and r["bytes"] > 0 for r in man)
    assert all(r["input_desc"] == "sf0.001/documents" for r in man)
    n_chunks_before = seg.chunks.count()
    # resume: same call again builds nothing new
    seg2 = build_segments(docs, seg.path, n_segments=4, analyzer="simple",
                          input_desc="sf0.001/documents", resume=True)
    assert seg2.chunks.count() == n_chunks_before
    assert seg2.manifest().count() == 4


def _pairs(df):
    return [(r["doc_id"], round(r["score"], 12)) for r in df.collect()]


_WAND_QUERIES = [
    (["batch"], "or"),
    (["batch", "scan", "spark"], "or"),
    (["batch", "window"], "and"),
    (["the", "batch", "window", "data"], "or"),
]
# (id suffix, weight); the default weight keeps the plain ids
_WAND_WEIGHTS = [
    ("", BM25Weight()),
    ("-bm25_k1.2_b.75", BM25Weight(k1=1.2, b=0.75)),
    ("-trad1.2", TradWeight(1.2)),
]


@pytest.mark.parametrize("terms,op,weight", [
    pytest.param(terms, op, weight, id=f"terms{i}-{op}{suffix}")
    for suffix, weight in _WAND_WEIGHTS
    for i, (terms, op) in enumerate(_WAND_QUERIES)
])
def test_wand_matches_executor(seg_setup, terms, op, weight):
    _docs, seg, flat = seg_setup
    wq = WandEnquire(seg, weight)
    enq = Enquire(flat, weight)
    q = ops.And([ops.Term(t) for t in terms]) if op == "and" \
        else ops.Or([ops.Term(t) for t in terms])
    expect = _pairs(enq.get_mset(q, 0, 10))
    got = _pairs(wq.get_mset(terms, 10, op=op))
    assert got == expect
    batch = wq.get_mset_batch([("q", terms)], 10, op=op).orderBy("rank")
    assert _pairs(batch) == expect


def test_wand_pruned_equals_exhaustive(seg_setup):
    _docs, seg, _flat = seg_setup
    wq = WandEnquire(seg)
    rows = (seg.term_stats().orderBy(F.desc("tf")).limit(12).collect())
    vocab = [r["term"] for r in rows]
    rng = np.random.default_rng(99)
    for trial in range(8):
        n = int(rng.integers(2, 6))
        terms = list(rng.choice(vocab, size=n, replace=False))
        k = int(rng.integers(1, 15))
        pruned = _pairs(wq.get_mset(terms, k, op="or"))
        exact = _pairs(wq.get_mset(terms, k, op="or", exhaustive=True))
        assert pruned == exact, (terms, k)


def test_doclen_pseudo_term_reserved(seg_setup):
    _docs, seg, _flat = seg_setup
    assert seg.term_stats().filter(
        F.col("term") == DOCLEN_TERM).count() == 0
    n_docs = seg.doclen_chunks.agg(F.sum("n")).head()[0]
    assert n_docs == seg.stats().doccount


def test_compact(seg_setup, spark, tmp_path):
    """xapian-compact analog: fewer, fuller segments; postings, term
    dictionary, stats, and WAND results all identical."""
    from xapian_spark.index.segments import compact

    _docs, seg, flat = seg_setup
    out = compact(seg, str(tmp_path / "compacted"), n_segments=2)
    assert {r["seg_id"] for r in out.manifest().collect()} == {0, 1}
    assert out.chunks.count() < seg.chunks.count()
    # postings identical after merge
    assert _decoded_postings(out) == _decoded_postings(seg)
    s1, s2 = seg.stats(), out.stats()
    assert (s1.doccount, s1.total_doclen, s1.wdf_ubound) == \
        (s2.doccount, s2.total_doclen, s2.wdf_ubound)
    ts1 = {(r["term"], r["tf"], r["cf"])
           for r in seg.term_stats().collect()}
    ts2 = {(r["term"], r["tf"], r["cf"])
           for r in out.term_stats().collect()}
    assert ts1 == ts2
    before = _pairs(WandEnquire(seg).get_mset(
        ["batch", "scan", "spark"], 10))
    after = _pairs(WandEnquire(out).get_mset(
        ["batch", "scan", "spark"], 10))
    assert before == after
    assert all(r["input_desc"].startswith("compact of")
               for r in out.manifest().collect())


def test_to_inverted_index_full_algebra(seg_setup):
    """The chunk index answers arbitrary executor trees through
    to_inverted_index() — results identical to the flat build."""
    from xapian_spark.index.build import build_index

    _docs, seg, flat = seg_setup
    view = seg.to_inverted_index()
    q = ops.AndMaybe(ops.Xor([ops.Term("batch"), ops.Term("scan")]),
                     ops.Term("spark"))
    a = _pairs(Enquire(view).get_mset(q, 0, 15))
    b = _pairs(Enquire(flat).get_mset(q, 0, 15))
    assert a == b and a


def test_positions_in_segment_index(spark, tmp_path):
    """keep_positions=True: per-chunk pos_data (brass position-table
    analog) round-trips, and phrase queries over the chunk index match
    the flat positional index exactly — including after compaction."""
    from xapian_spark.index.segments import compact

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    seg = build_segments(docs, str(tmp_path / "pidx"), n_segments=4,
                         analyzer="simple", keep_positions=True)
    flat = build_index(docs, analyzer="simple", keep_positions=True)

    view = seg.to_inverted_index()
    got = {(r["term"], r["doc_id"]): list(r["positions"] or [])
           for r in view.postings.collect()}
    want = {(r["term"], r["doc_id"]): list(r["positions"] or [])
            for r in flat.postings.collect()}
    assert got == want

    q = ops.Phrase(["batch", "window"])
    a = _pairs(Enquire(view).get_mset(q, 0, 10))
    b = _pairs(Enquire(flat).get_mset(q, 0, 10))
    assert a == b and a

    # compaction preserves positions
    out = compact(seg, str(tmp_path / "pidx2"), n_segments=2)
    c = _pairs(Enquire(out.to_inverted_index()).get_mset(q, 0, 10))
    assert c == b


# ---------------------------------------------------------------------------
# one encoder, one docid→segment rule: byte identity across build paths
# ---------------------------------------------------------------------------

def _manifest(seg: SegmentIndex):
    """Per-segment manifest metrics plus a pos_data checksum."""
    pos = {r["seg_id"]: r["p"] for r in seg.chunks.groupBy("seg_id").agg(
        F.sum(F.crc32(F.coalesce("pos_data", F.lit(b"")))).alias("p"))
        .collect()}
    return [(r["seg_id"], r["n_docs"], r["n_postings"], r["n_chunks"],
             r["bytes"], r["checksum"], pos[r["seg_id"]])
            for r in seg.manifest().orderBy("seg_id").collect()]


@pytest.mark.parametrize("keep_positions", [False, True])
def test_compact_equals_fresh_build(spark, tmp_path, keep_positions):
    """compact(build(n=4), n=2) with no deletes writes the same chunk
    bytes as build(n=2): both encode through one chunk encoder and
    place docs with one docid→segment rule. The corpus holds doc_id 0,
    which that rule puts in the last segment."""
    from xapian_spark.index.segments import compact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert docs.filter(F.col("doc_id") == 0).count() == 1
    four = build_segments(docs, str(tmp_path / "four"), n_segments=4,
                          analyzer="simple", keep_positions=keep_positions)
    two = build_segments(docs, str(tmp_path / "two"), n_segments=2,
                         analyzer="simple", keep_positions=keep_positions)
    out = compact(four, str(tmp_path / "compacted"), n_segments=2)
    assert _manifest(out) == _manifest(two)


def test_build_independent_of_input_partitioning(spark, tmp_path):
    """The same docs from one input partition and from four shuffled
    partitions build byte-identical segments."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    one = build_segments(docs.coalesce(1), str(tmp_path / "one"),
                         n_segments=4, analyzer="simple",
                         keep_positions=True)
    shuffled = build_segments(docs.repartition(4, F.rand(seed=7)),
                              str(tmp_path / "shuffled"), n_segments=4,
                              analyzer="simple", keep_positions=True)
    assert _manifest(one) == _manifest(shuffled)


def test_simple_overlong_term_dropped_by_both_builds(spark, tmp_path):
    """build_index and build_segments share one analyze step: a
    300-byte "simple" token is dropped by both, and the doclen counts
    only the kept terms."""
    long_tok = "x" * 300
    docs = spark.createDataFrame(
        [(1, f"alpha {long_tok} beta"), (2, "alpha gamma")],
        "doc_id long, text string")
    flat = build_index(docs, analyzer="simple")
    seg = build_segments(docs, str(tmp_path / "seg"), n_segments=1,
                         analyzer="simple")
    cols = ["term", "doc_id", "wdf", "doclen"]
    got_flat = sorted(tuple(r) for r in flat.postings.select(*cols)
                      .collect())
    got_seg = sorted(tuple(r) for r in seg.to_postings().select(*cols)
                     .collect())
    assert got_flat == got_seg == [
        ("alpha", 1, 1, 2), ("alpha", 2, 1, 2), ("beta", 1, 1, 2),
        ("gamma", 2, 1, 2)]


def test_empty_term_dropped_by_both_builds(spark, tmp_path):
    """The empty term is reserved for the doclen pseudo-term: an
    analyzer that emits it has it dropped by both builds, so it is
    neither a posting nor a second doclen row, and doclen counts only
    the kept terms."""
    from xapian_spark.index.build import simple_analyzer

    def with_empty(text):
        return simple_analyzer(text) + [("", 1, [99])]

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma alpha")],
        "doc_id long, text string")
    flat = build_index(docs, analyzer=with_empty)
    seg = build_segments(docs, str(tmp_path / "seg"), n_segments=1,
                         analyzer=with_empty)
    cols = ["term", "doc_id", "wdf", "doclen"]
    want = [("alpha", 1, 1, 2), ("alpha", 2, 2, 3), ("beta", 1, 1, 2),
            ("gamma", 2, 1, 3)]
    assert sorted(tuple(r) for r in flat.postings.select(*cols)
                  .collect()) == want
    assert sorted(tuple(r) for r in seg.to_postings().select(*cols)
                  .collect()) == want
    for idx in (flat, seg.to_inverted_index()):
        assert sorted(tuple(r) for r in idx.doclens.collect()) == \
            [(1, 2), (2, 3)]
        assert (idx.stats.doccount, idx.stats.total_doclen) == (2, 5)


# ---------------------------------------------------------------------------
# one segment pipeline: the input is evaluated once, in a pinned job count
# ---------------------------------------------------------------------------

def _counting_udf(spark, dtype):
    """(identity pandas UDF over a `dtype` column, accumulator of the
    rows it evaluated)."""
    import pandas as pd

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf(dtype)
    def counted(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    return counted, acc


def _job_ids(spark, group, action):
    """(action(), the ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_build_and_compact_evaluate_input_once(spark, tmp_path):
    """build_segments routes (doc_id, text, seg_id) rows by seg_id with
    no sampling pass, and tokenizes after the shuffle: each input row
    is evaluated once. compact decodes each chunk once."""
    from xapian_spark.index.segments import compact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()
    counted, acc = _counting_udf(spark, "string")
    seg = build_segments(docs.withColumn("text", counted("text")),
                         str(tmp_path / "seg"), n_segments=4,
                         analyzer="simple")
    assert acc.value == n_docs
    assert seg.stats().doccount == n_docs

    n_chunks = seg.chunks.count()
    counted_bin, acc_bin = _counting_udf(spark, "binary")
    src = SegmentIndex(spark, seg.path)
    src.chunks = src.chunks.withColumn("data", counted_bin("data"))
    out = compact(src, str(tmp_path / "compacted"), n_segments=2)
    assert acc_bin.value == n_chunks
    assert _decoded_postings(out) == _decoded_postings(seg)


def test_build_and_compact_job_counts(spark, tmp_path):
    """A fresh build_segments and a compact run a pinned number of
    Spark jobs (the status-tracker pattern of
    test_wand_batch_plans_without_jobs_one_task_per_segment)."""
    from xapian_spark.index.segments import compact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seg, build_jobs = _job_ids(
        spark, "seg-build",
        lambda: build_segments(docs, str(tmp_path / "seg"), n_segments=4,
                               analyzer="simple"))
    _out, compact_jobs = _job_ids(
        spark, "seg-compact",
        lambda: compact(seg, str(tmp_path / "compacted"), n_segments=2))
    assert (len(build_jobs), len(compact_jobs)) == (10, 10)
