"""Physical-plan hygiene: the properties that keep the engine fast at
100 TB, asserted on the actual Catalyst plans.

- term filters reach the parquet scan (PushedFilters / partition-range
  pruning on the saved postings table)
- column pruning: scoring never reads the positions column
- the flat scoring path contains no Python UDF (BatchEvalPython) —
  BM25 is pure JVM expression work inside WholeStageCodegen
- single-term scoring is shuffle-free (no Exchange before the top-k),
  and over build_index's doc-partitioned postings every flat query is
  one shuffle-free job
"""

import re
import threading

import pytest
from pyspark.sql import functions as F

from xapian_spark.index.build import InvertedIndex, build_index
from xapian_spark.query import ops
from xapian_spark.query.bm25 import BM25Weight
from xapian_spark.query.executor import Enquire


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _query_plan(df) -> str:
    """The current physical plan of `df` (AQE's final plan once it has
    run), without the plans that build the cached relations it reads."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    lines, cut = [], None
    for line in plan.toString().splitlines():
        depth = len(line) - len(line.lstrip(" +-:"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        lines.append(line)
    return "\n".join(lines)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def flat_index(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return build_index(docs, analyzer="simple")


@pytest.fixture(scope="module")
def disk_index(spark, flat_index, tmp_path_factory):
    # flat_index's postings, written sorted by term and read back: the
    # same rows with no known partitioning
    idx = flat_index
    path = str(tmp_path_factory.mktemp("diskidx"))
    idx.postings.sort("term", "doc_id").write.parquet(f"{path}/postings")
    idx.doclens.write.parquet(f"{path}/doclens")
    idx.term_stats.write.parquet(f"{path}/term_stats")
    return InvertedIndex(spark.read.parquet(f"{path}/postings"),
                         spark.read.parquet(f"{path}/doclens"),
                         spark.read.parquet(f"{path}/term_stats"),
                         idx.stats)


def test_term_filter_pushed_to_parquet(disk_index):
    df = disk_index.postings.filter(F.col("term") == "batch")
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(term), EqualTo(term,batch)]" in \
        plan or "EqualTo(term,batch)" in plan, plan


def test_scoring_prunes_positions_column(disk_index):
    enq = Enquire(disk_index)
    df = enq.compile(ops.Or([ops.Term("batch"), ops.Term("scan")]))
    plan = _formatted(df)
    scan = [b for b in plan.split("\n\n") if "ReadSchema" in b]
    assert scan, plan
    assert all("positions" not in s.split("ReadSchema:")[1].split("\n")[0]
               for s in scan if "postings" in s)


def test_flat_scoring_has_no_python_udf(disk_index):
    # positional checks included: phrase and NEAR plan in the JVM
    terms = ["batch", "scan", "spark"]
    for query in (ops.Or([ops.Term(t) for t in terms]),
                  ops.Phrase(terms), ops.Near(terms),
                  ops.Phrase(terms, window=4)):
        plan = _plan(Enquire(disk_index).compile(query))
        assert "BatchEvalPython" not in plan, query
        assert "ArrowEvalPython" not in plan, query
        # and the multi-term filter reaches the scan as one In() pushdown
        assert "In(term, [batch,scan,spark])" in plan, query


def test_single_term_topk_no_shuffle(disk_index):
    enq = Enquire(disk_index)
    df = enq.get_mset(ops.Term("batch"), 0, 10)
    plan = _plan(df)
    # TakeOrderedAndProject = per-partition heap + driver merge;
    # a lone Exchange would mean the postings were shuffled to score
    assert "TakeOrderedAndProject" in plan
    before_top = plan.split("TakeOrderedAndProject")[1]
    assert "Exchange" not in before_top, plan


def _jobs(spark, group, action):
    """(action(), the ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _flat_shapes(a, b, c):
    return {
        "term": ops.Term(a),
        "or": ops.Or([ops.Term(a), ops.Term(b), ops.Term(c)]),
        "and": ops.And([ops.Term(a), ops.Term(b)]),
        "phrase": ops.Phrase([a, b]),
        "near": ops.Near([a, b, c]),
    }


def test_doc_partitioned_queries_run_one_job_without_exchange(
        spark, flat_index):
    # build_index hash-partitions the persisted postings by doc_id, so
    # every GROUP BY doc_id of a flat query is partition-local: each
    # get_mset is one job (scan + score + per-partition top-k) and the
    # driver merge, with no Exchange
    idx = flat_index
    enq = Enquire(idx)
    assert enq._full_term_dict()  # the stats below gather without a job
    shapes = _flat_shapes("table", "scan", "merge")
    warm = {}
    for name, q in shapes.items():
        df = enq.get_mset(q, 0, 10)
        warm[name], jobs = _jobs(spark, f"warm-{name}", df.collect)
        assert warm[name], name
        assert len(jobs) == 1, (name, jobs)
        assert "Exchange" not in _query_plan(df), (name, _query_plan(df))
    # a first query, before any action has materialized the cache, runs
    # the jobs that build it and then one of its own: a grouped query
    # runs as many jobs as a one-term scan, with no Exchange once AQE
    # sees the cached partitioning
    cold = {}
    for name, q in shapes.items():
        idx.postings.unpersist(blocking=True)
        idx.postings.persist()
        df = enq.get_mset(q, 0, 10)
        rows, jobs = _jobs(spark, f"cold-{name}", df.collect)
        assert rows == warm[name], name
        assert "Exchange" not in _query_plan(df), (name, _query_plan(df))
        cold[name] = len(jobs)
    assert set(cold.values()) == {cold["term"]}, cold


def test_and_over_unpartitioned_postings_shuffles_once(disk_index):
    # one row per (term, doc_id), so AND counts matched terms with
    # count(1): over postings with no known partitioning (read back
    # from parquet) its plan shuffles once, by doc_id, not twice as
    # a count(DISTINCT term) aggregation would
    q = ops.And([ops.Term("table"), ops.Term("scan")])
    enq = Enquire(disk_index)
    for df in (enq.get_mset(q, 0, 10),
               enq._run(enq._scored(q, keep_n=True))):
        assert len(re.findall(r"\bExchange\b", _plan(df))) == 1, _plan(df)


def test_results_do_not_depend_on_postings_partitioning(
        flat_index, disk_index):
    # the same queries over the doc-partitioned postings and over the
    # same rows read back from parquet: equal ids, order and bits
    shapes = dict(_flat_shapes("table", "scan", "merge"))
    shapes.update({
        "and_not": ops.AndNot(ops.Term("table"), ops.Term("scan")),
        "xor": ops.Xor([ops.Term(t) for t in ("table", "scan", "merge")]),
        "synonym": ops.Synonym([ops.Term("table"), ops.Term("scan")]),
    })

    def run(idx):
        out = {}
        for k2 in (0.0, 1.0):
            enq = Enquire(idx, BM25Weight(k2=k2))
            for name, q in shapes.items():
                out[name, k2] = [(r["doc_id"], r["score"].hex()) for r in
                                 enq.get_mset(q, 0, 20).collect()]
            for name in ("or", "and", "phrase"):
                out[name, k2, "%"] = [
                    (r["doc_id"], r["score"].hex(), r["percent"])
                    for r in enq.get_mset_percent(
                        shapes[name], 0, 20).collect()]
        return out

    got = run(flat_index)
    assert all(got.values()), [k for k, v in got.items() if not v]
    assert got == run(disk_index)


def test_fresh_enquire_over_warm_index_runs_no_extra_jobs(
        spark, disk_index):
    # the term dictionary is cached on the index, not the Enquire: an
    # Enquire built per request gathers stats and expands wildcards
    # without collecting it again
    q = ops.Or([ops.Term("table"), ops.Term("scan")])
    warm = Enquire(disk_index)
    warm.get_mset(q, 0, 10).collect()
    want, warm_jobs = _jobs(spark, "warm-enquire",
                            lambda: warm.get_mset(q, 0, 10).collect())
    got, fresh_jobs = _jobs(
        spark, "fresh-enquire",
        lambda: Enquire(disk_index).get_mset(q, 0, 10).collect())
    assert got == want
    assert len(fresh_jobs) == len(warm_jobs), (fresh_jobs, warm_jobs)
    terms, jobs = _jobs(spark, "fresh-wildcard",
                        lambda: Enquire(disk_index)._expand(
                            ops.Wildcard("s")))
    assert "scan" in terms and jobs == []


def test_segment_views_reuse_the_index_term_dict(spark, tmp_path):
    # a SegmentIndex hands the term dictionary it already holds to each
    # to_inverted_index() view, so a view's Enquire collects no second
    # copy after a warm WandEnquire query
    from xapian_spark.index.segments import build_segments
    from xapian_spark.query.wand import WandEnquire

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seg = build_segments(docs, str(tmp_path / "seg"), n_segments=4,
                         analyzer="simple")
    WandEnquire(seg).get_mset(["table", "scan"], 10).collect()
    for i in range(2):
        view = seg.to_inverted_index()
        tfs, jobs = _jobs(spark, f"view-dict-{i}",
                          Enquire(view)._full_term_dict)
        assert tfs is seg._term_dict and jobs == []


def test_value_range_pushdown(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    on_disk = spark.read.parquet(p)
    idx = build_index(on_disk, analyzer="simple")
    enq = Enquire(idx)
    df = enq.compile(ops.ValueRange("n_chars", 100, 300))
    plan = _formatted(df)
    assert "GreaterThanOrEqual(n_chars,100)" in plan, plan
    assert "LessThanOrEqual(n_chars,300)" in plan, plan


def test_percent_flat_path_has_no_join(spark):
    # the matched-term count rides the one flat aggregation — the
    # percent/cutoff path must not add a second postings aggregation
    # joined back in (one shuffle saved on the common query shape)
    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(200))
    idx = build_index(docs, text_col="text", analyzer="simple")
    enq = Enquire(idx)
    q = ops.Or([ops.Term("the"), ops.Term("data")])
    stats = enq._gather_stats(list(q.terms()))
    flat = enq._run(enq._flat_sql(q, stats, 1.0, keep_n=True))
    assert "Join" not in _plan(flat)


def _py4j_calls(spark, plan):
    """(plan(), the py4j round trips it made): every gateway command
    goes through the shared client's send_command. py4j's finalizer
    thread releases dead Java references through it too, so only the
    calling thread's commands count."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    calls = []

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        out = plan()
    finally:
        client.send_command = send
    return out, len(calls)


def test_get_mset_plans_with_constant_py4j_calls(spark, disk_index):
    # every query is planned as ONE SQL statement: the py4j round
    # trips per get_mset do not grow with the number of terms or the
    # size of the tree (a Column tree costs one per literal and
    # operator: 300-600 per query)
    from xapian_spark.query.posting_sources import (
        value_weight_posting_source,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enq = Enquire(InvertedIndex(disk_index.postings, disk_index.doclens,
                                disk_index.term_stats, disk_index.stats,
                                docs=docs))
    top = [r["term"] for r in disk_index.term_stats.orderBy(
        F.desc("tf"), "term").limit(12).collect()]
    a, b = top[0], top[1]
    ps = value_weight_posting_source(docs, "n_chars")
    pairs = [ops.And([ops.Term(top[i]), ops.Term(top[i + 1])])
             for i in range(0, 6, 2)]
    shapes = {
        "term": ops.Term(a),
        "or": ops.Or([ops.Term(t) for t in top[:3]]),
        "and": ops.And([ops.Term(a), ops.Term(b)]),
        "phrase": ops.Phrase([a, b]),
        "near": ops.Near([a, b]),
        "phrase_window": ops.Phrase([a, b], window=4),
        "or2": ops.Or([ops.Term(t) for t in top[:2]]),
        "or12": ops.Or([ops.Term(t) for t in top]),
        "and_not": ops.AndNot(ops.Term(a), ops.Term(b)),
        "filter": ops.Filter(ops.Term(a), ops.Term(b)),
        "and_maybe": ops.AndMaybe(ops.Term(a), ops.Term(b)),
        "xor": ops.Xor([ops.Term(t) for t in top[:3]]),
        "match_all": ops.MatchAll(),
        "value_range": ops.ValueRange("n_chars", 100, 300),
        "nested2": ops.Or(pairs[:2]),
        "nested3": ops.Or(pairs),
        "and_maybe_source": ops.AndMaybe(ops.Term(a), ps),
    }
    for q in shapes.values():
        enq.get_mset(q, 0, 10)  # term dict + views
    plans, calls = [], {}
    for name, q in shapes.items():
        df, calls[name] = _py4j_calls(
            spark, lambda: enq.get_mset(q, 0, 10))
        plans.append(df)  # kept alive: no release inside a later count
    assert all(n <= 60 for n in calls.values()), calls
    assert calls["nested2"] == calls["nested3"], calls
    # phrase and NEAR are one statement too: they plan like AND
    assert calls["phrase"] == calls["near"] == calls["phrase_window"] \
        == calls["and"], calls
    assert calls["or2"] == calls["or"] == calls["or12"], calls
    # and the flat plan is still a bounded top-k over one aggregation
    assert "TakeOrderedAndProject" in _plan(plans[1])
    assert "Join" not in _plan(plans[1])


def _views(spark, prefix="xapian_"):
    return {t.name for t in spark.catalog.listTables()
            if t.name.startswith(prefix)}


def test_enquires_over_one_index_share_one_view(spark, disk_index):
    # the SQL plans read postings through a temp view keyed to the
    # postings DataFrame, not to the Enquire: an Enquire per request
    # (or per weighting scheme) must not grow the session catalog
    from xapian_spark.query.posting_sources import (
        value_weight_posting_source,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = InvertedIndex(disk_index.postings.select("*"),
                        disk_index.doclens, disk_index.term_stats,
                        disk_index.stats, docs=docs)
    before = _views(spark, "xapian_postings_")
    q = ops.Or([ops.Term("batch"), ops.Term("scan")])
    rows = Enquire(idx).get_mset(q, 0, 10).collect()
    assert Enquire(idx, BM25Weight(k1=2.0)).get_mset(q, 0, 10).collect()
    assert Enquire(idx).get_mset(q, 0, 10).collect() == rows
    assert len(_views(spark, "xapian_postings_") - before) == 1
    # so do the views of the doclens, docs, term_stats and a posting
    # source: a second query over them registers nothing
    deep = ops.AndMaybe(
        ops.Filter(ops.Or([q, ops.Wildcard("sca"), ops.MatchAll()]),
                   ops.ValueRange("n_chars", 100, None)),
        value_weight_posting_source(docs, "n_chars"))
    assert Enquire(idx).get_mset(deep, 0, 10).collect()
    views = _views(spark)
    assert Enquire(idx).get_mset(deep, 0, 10).collect()
    assert _views(spark) == views


def test_posting_source_views_dropped_once_collected(spark, disk_index):
    # a posting source built per request registers a view for its
    # DataFrame; once that DataFrame is garbage-collected, the next
    # registration drops the view, so the catalog does not grow with
    # the number of requests
    import gc

    from xapian_spark.query.posting_sources import (
        value_weight_posting_source,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enq = Enquire(disk_index)
    for _ in range(20):
        ps = value_weight_posting_source(docs, "n_chars")
        enq.get_mset(ops.AndMaybe(ops.Term("batch"), ps), 0, 10).collect()
    del ps
    gc.collect()
    assert len(_views(spark, "xapian_source_")) <= 2


def test_concurrent_queries_keep_their_posting_source_views(
        spark, disk_index):
    # threads planning at once register and drop views concurrently:
    # none may drop a view that another is still planning over
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from xapian_spark.query.posting_sources import (
        value_weight_posting_source,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enq = Enquire(disk_index)

    def query(_):
        ps = value_weight_posting_source(docs, "n_chars")
        return enq.get_mset(
            ops.AndMaybe(ops.Term("batch"), ps), 0, 10).collect()

    want = query(0)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(query, range(24), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert got == [want] * 24


def test_warm_wildcard_expands_without_jobs(spark, monkeypatch):
    # with the term dictionary held by the index, wildcard expansion
    # bisects it on the driver: no Spark job, and exactly the terms the
    # SQL path (dictionary over TERM_DICT_CACHE_MAX) returns
    from xapian_spark.index import termdict

    words = ["café", "cafés", "cafe", "cafeteria", "cafétéria", "caf",
             "naïve", "naïveté", "日本", "日本語", "日本人", "zebra"]
    docs = spark.createDataFrame(
        [(i, " ".join(words[:i % len(words) + 1]))
         for i in range(1, 25)], "doc_id long, text string")
    idx = build_index(docs, analyzer="xapian")
    enq = Enquire(idx)
    enq._expand(ops.Wildcard("caf"))  # collects the term dictionary
    cases = [ops.Wildcard(p, max_expansion=m, limit=lim)
             for p in ("caf", "café", "日本", "naï", "Z", "Zcaf", "", "x")
             for m in (1, 2, 100)
             for lim in ("first", "most_frequent", "error")]

    def expand_all(e):
        out = []
        for w in cases:
            try:
                out.append(e._expand(w))
            except ops.WildcardError:
                out.append("error")
        return out

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    held = expand_all(enq)
    assert len(tracker.getJobIdsForGroup(None) or []) == before
    monkeypatch.setattr(termdict, "TERM_DICT_CACHE_MAX", 1)
    capped = Enquire(InvertedIndex(idx.postings, idx.doclens,
                                   idx.term_stats, idx.stats))
    assert capped._full_term_dict() is None
    assert expand_all(capped) == held
    assert held[cases.index(ops.Wildcard("日本", 100, "first"))] \
        == ["日本", "日本人", "日本語"]


def test_synonym_scalar_is_broadcast(spark):
    # the synonym's exact unioned termfreq is a 1-row aggregate
    # broadcast over the matches (BroadcastNestedLoopJoin), NOT an
    # eager driver count — compile must also trigger no Spark job
    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(200))
    idx = build_index(docs, text_col="text", analyzer="simple")
    enq = Enquire(idx)
    enq._gather_stats(["the", "data"])  # warm the once-per-index
    # term-dict cache so only the synonym compile itself is measured
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    syn = enq.compile(ops.Synonym([ops.Term("the"), ops.Term("data")]))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # compile is fully lazy
    assert "BroadcastNestedLoopJoin" in _plan(syn)


def test_posting_source_mset_is_take_ordered(spark):
    from xapian_spark.query.posting_sources import (
        value_weight_posting_source,
    )

    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "n_chars").limit(200))
    idx = build_index(docs, text_col="text", analyzer="simple")
    ps = value_weight_posting_source(docs, "n_chars")
    m = Enquire(idx).get_mset(ops.AndMaybe(ops.Term("the"), ps), 0, 5)
    assert "TakeOrderedAndProject" in _plan(m)


def test_pii_stats_is_pure_narrow_codegen(spark):
    """PII scrub must stay a per-row projection: no shuffle, no Python
    workers — the 100 TB pass is scan-bound or it's wrong."""
    from xapian_spark.pipeline.pii import pii_stats, redact_pii

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (pii_stats(docs), redact_pii(docs),
               pii_stats(docs, include_redacted_md5=True)):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # codegen stages render as "*(1) Project ..." in this string form
        assert plan.lstrip().startswith("*("), plan


def test_unigram_lm_no_python_and_broadcast_total(spark):
    """LM scoring stays JVM-side; the 1-row corpus total arrives by
    broadcast, never by shuffling the scored side."""
    from xapian_spark.pipeline.textstats import unigram_lm_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(unigram_lm_scores(docs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total


def test_decontaminate_broadcasts_eval_side(spark):
    """The train side must never shuffle: eval shingles arrive by
    broadcast-hash join (at 100 TB train x tiny eval, a sort-merge
    join would shuffle the whole training corpus)."""
    from pyspark.sql import functions as F

    from xapian_spark.pipeline.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    tr = docs.filter(F.col("doc_id") % 7 != 0)
    plan = _plan(decontaminate(tr, ev, n=4))
    assert "BroadcastHashJoin" in plan, plan
    # the only Exchange below the broadcast join is on the eval side /
    # the final contaminated-rows groupBy — assert the join itself is
    # not sort-merge
    assert "SortMergeJoin" not in plan, plan


def test_c4_and_gopher_are_pure_narrow_codegen(spark):
    """C4 cleaning and the Gopher rules are per-row projections over
    higher-order array expressions: no shuffle, no Python workers —
    at 100 TB both passes must stay scan-bound."""
    from xapian_spark.pipeline.heuristics import c4_clean, gopher_quality

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (c4_clean(docs), gopher_quality(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_mixture_sample_broadcasts_rate_table(spark):
    """Temperature resampling must never shuffle the corpus side: the
    per-domain rate table (|domains| rows) arrives by broadcast-hash
    join; the only Exchange feeds the tiny domain-count aggregate."""
    from xapian_spark.pipeline.heuristics import mixture_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(mixture_sample(docs, domain_col="lang"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bpe_encode_broadcasts_vocab(spark):
    """Encoding rides a broadcast word->pieces join: the corpus side
    must never shuffle by word (at 100 TB the token explode dwarfs the
    bounded vocab) and must stay out of Python."""
    from xapian_spark.pipeline.bpe import (encode_with_vocab, train_bpe,
                                           vocab_pieces, word_counts)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wc = word_counts(docs)
    vocab = vocab_pieces(spark, wc, train_bpe(wc, 4))
    plan = _plan(encode_with_vocab(docs, vocab))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_dedup_spans_no_python_no_cartesian(spark):
    """Span dedup is joins + aggregations over md5 windows: no Python
    workers, no cartesian product, and the gram text itself never
    shuffles (only 32-hex hashes and int positions cross the wire)."""
    from xapian_spark.pipeline.dedup import dedup_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup_spans(docs, n=4))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_single_shard_shuffle(spark):
    """Packing is one shuffle keyed by the hash shard feeding a
    per-shard window cumsum — no global (empty-key) window, which
    would serialize the corpus through one task."""
    from xapian_spark.pipeline.curate import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_sequences(docs, seq_len=32, n_shards=8))
    assert "BatchEvalPython" not in plan
    # the window partitions by shard, never by the empty key
    assert "Window [" in plan and "partitionspec=[]" not in plan.lower()


def test_top_ngrams_is_take_ordered(spark):
    """Top-k n-grams must plan as TakeOrderedAndProject — a global
    sort of the gram table at web scale would be the bottleneck."""
    from xapian_spark.pipeline.textstats import top_ngrams

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(top_ngrams(docs, n=3, k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_bigram_lm_no_python(spark):
    from xapian_spark.pipeline.textstats import bigram_lm_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bigram_lm_scores(docs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ccnet_default_path_has_no_global_window(spark):
    """ccnet_buckets(thresholds=None) derives EXACT rank thresholds
    via grid binary search with count-probe aggregates — the plan of
    the returned frame (and every probe job) must never contain a
    Window, whose empty partitionspec would pull the whole scored
    corpus into one task."""
    from xapian_spark.pipeline.textstats import ccnet_buckets

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    out = ccnet_buckets(docs)
    plan = _plan(out)
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # and the thresholds it picked are the true rank-based ones
    rows = sorted(out.collect(),
                  key=lambda r: (r.bits_per_token, r.doc_id))
    n = len(rows)
    r1, r2 = (n - 1) // 3, 2 * (n - 1) // 3
    t1, t2 = rows[r1].bits_per_token, rows[r2].bits_per_token
    for i, r in enumerate(rows):
        want = ("head" if r.bits_per_token <= t1
                else "middle" if r.bits_per_token <= t2 else "tail")
        assert r.bucket == want, (i, r)
