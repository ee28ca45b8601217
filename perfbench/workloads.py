"""The workloads and the layer calls they make.

Every call into a library layer goes through a `Bench` method that opens
a span named after the layer, so the traced run can split each
end-to-end number by layer. The workloads use the public API only.

Both workloads share one set-up: write the corpus to parquet and build
a segment index from its HTML (the indexer's job); `interactive` also
builds a flat index with its term-dict cache. Set-up runs SETUPS times,
each into fresh directories, after one untimed warm-up on a tiny
corpus. Then one closed-loop client (the driver thread) draws whole
rounds of operations for a third of the run's seconds and runs that
list PASSES times (`replay`). Sizes are fixed here and documented in
perfbench/README.md.
"""

from __future__ import annotations

import os
import random
import sys
import time
from collections import Counter
from typing import Dict, List, Tuple

N_DOCS = 400           # corpus size of every workload
WARMUP_DOCS = 16       # untimed warm-up set-up: JVM, Python workers
SETUPS = 2             # timed set-ups per run; setup_s is their median
PASSES = 3             # runs of each measured op; its time is the fastest
HEAD_RANKS = 500       # query terms come from the top vocabulary ranks
BATCH_SIZE = 1000      # queries per get_mset_batch call
BATCH_CHECKED = 4      # batch queries re-run singly per invocation
CHURN_DOCS = 20        # docs deleted, and docs replaced, per update cycle
READS_PER_CYCLE = 3    # WAND reads after the update cycle
FINAL_CHECKED = 2      # queries compared with a fresh build after churn
SHAPES = ("term", "or", "and", "phrase")
SHAPE_WEIGHTS = (3, 3, 2, 2)


class Failures:
    """Operations attempted and failed; a failed check counts too."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: List[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


def du(path: str) -> int:
    """Bytes of every file below path."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def pairs(rows) -> List[Tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def same_ranking(a, b) -> bool:
    """Same doc ids in the same order, scores equal to 1e-12."""
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= 1e-12 * max(1.0, abs(sa))
        for (da, sa), (db, sb) in zip(a, b))


class QueryGen:
    """Seeded query strings over io.pages vocabulary ranks.

    Term and OR queries draw ranks log-uniformly from the top
    HEAD_RANKS, so head terms dominate. AND and phrase queries take two
    words from one generated page (adjacent ones for a phrase), so they
    always match at least one document."""

    def __init__(self, qp, seed: int, n_docs: int):
        from xapian_spark.io.pages import _vocab

        self.qp = qp
        self.rng = random.Random(seed * 7919 + 1)
        self.words = _vocab()[1]
        self.seed = seed
        self.n_docs = n_docs

    def head_word(self) -> str:
        return self.words[int(HEAD_RANKS ** self.rng.random()) - 1]

    def page_words(self) -> List[List[str]]:
        from xapian_spark.io.pages import generate_page

        text = generate_page(self.rng.randrange(self.n_docs),
                             self.seed)["text"]
        return [s.split() for s in text.lower().split(".")
                if len(s.split()) >= 2]

    def round(self) -> List[Tuple[str, str]]:
        """One round of queries: SHAPE_WEIGHTS of each shape, shuffled,
        so every round has the same mix."""
        shapes = [s for s, n in zip(SHAPES, SHAPE_WEIGHTS)
                  for _ in range(n)]
        self.rng.shuffle(shapes)
        return [(s, self.query(s)) for s in shapes]

    def query(self, shape: str) -> str:
        """A query string of this shape whose parsed terms are distinct:
        the executor weights a repeated leaf twice, WAND merges it."""
        while True:
            text = self._query(shape)
            terms = list(self.qp.parse_query(text).terms())
            if len(set(terms)) == len(terms):
                return text

    def _query(self, shape: str) -> str:
        if shape == "term":
            return self.head_word()
        if shape == "or":
            return " ".join(self.head_word() for _ in range(3))
        sents = self.page_words()
        s = sents[self.rng.randrange(len(sents))]
        i = self.rng.randrange(len(s) - 1)
        if shape == "phrase":
            return f'"{s[i]} {s[i + 1]}"'
        j = self.rng.randrange(len(s))
        a, b = s[i], s[j if j != i else i + 1]
        return f"+{a} +{b}"

    def batch(self, size: int):
        """(queries, ops_by_id): 1-3 head terms each, a quarter AND."""
        queries, ops_by_id = [], {}
        for i in range(size):
            text = " ".join(self.head_word()
                            for _ in range(1 + self.rng.randrange(3)))
            terms = list(self.qp.parse_query(text).terms())
            queries.append((f"q{i}", terms))
            if i % 4 == 0:
                ops_by_id[f"q{i}"] = "and"
        return queries, ops_by_id


class Bench:
    """State of one run plus the layer calls, each inside a span."""

    def __init__(self, spark, tracer, work: str, seed: int, cores: int):
        from xapian_spark.query.parser import QueryParser

        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.cores = cores
        self.qp = QueryParser()
        self.n_docs = N_DOCS
        self.qgen = self.new_qgen()
        self.fail = Failures()
        self.pages = None
        self.seg = None       # SegmentIndex (batch reads, checks, churn)
        self.flat = None      # InvertedIndex (interactive reads)
        self.enq = None
        self.index_totals: Dict[str, float] = {}
        self._n = 0
        self._t0 = time.perf_counter()

    def new_qgen(self) -> QueryGen:
        """The run's query stream, from its start."""
        return QueryGen(self.qp, self.seed, N_DOCS)

    def log(self, what: str) -> None:
        """Progress on stderr: seconds since the run started."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {what}",
              file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}{self._n}")

    # -- set-up ------------------------------------------------------------

    def write_corpus(self, n_docs: int):
        from xapian_spark.io.pages import generate_pages

        path = self.path("pages")
        generate_pages(self.spark, n_docs, self.seed,
                       partitions=self.cores).write.parquet(path)
        self.pages = self.spark.read.parquet(path)

    def text_bytes(self) -> int:
        from pyspark.sql import functions as F

        return self.pages.agg(F.sum(F.octet_length("text"))).head()[0]

    def build_segments(self) -> float:
        """pages -> extract_text_udf -> build_segments -> term_stats
        materialized; returns the wall time."""
        from pyspark.sql import functions as F

        from xapian_spark.analysis.htmlparse import extract_text_udf
        from xapian_spark.index.segments import build_segments

        docs = self.pages.select(
            "doc_id", extract_text_udf(F.col("html")).alias("text"))
        t0 = time.perf_counter()
        with self.tr.span("index.segments.build"):
            seg = build_segments(docs, self.path("seg"),
                                 n_segments=self.cores)
        with self.tr.span("index.segments.term_stats"):
            seg.term_stats().count()
        self.seg = seg
        return time.perf_counter() - t0

    def manifest_totals(self) -> Dict[str, float]:
        from pyspark.sql import functions as F

        row = self.seg.manifest().agg(
            F.sum("n_docs").alias("docs"), F.sum("n_chunks").alias("chunks"),
            F.sum("n_postings").alias("postings"),
            F.sum("bytes").alias("bytes"),
            F.sum("checksum").alias("checksum")).head()
        self.index_totals = row.asDict()
        return self.index_totals

    def build_flat(self):
        from xapian_spark.index.build import build_index
        from xapian_spark.query.executor import Enquire

        if self.flat is not None:
            self.flat.postings.unpersist()
        with self.tr.span("index.build.build_index"):
            flat = build_index(self.pages.select("doc_id", "text"))
            flat.postings.count()
            enq = Enquire(flat)
            enq._full_term_dict()  # the driver-side term cache queries use
        self.flat, self.enq = flat, enq

    def setup(self, n_docs: int, flat: bool) -> Tuple[float, float]:
        """Corpus -> segment index from HTML (-> flat index), into fresh
        directories. Returns (set-up seconds, segment-build seconds)."""
        t0 = time.perf_counter()
        self.write_corpus(n_docs)
        build_s = self.build_segments()
        if flat:
            self.build_flat()
        return time.perf_counter() - t0, build_s

    # -- reads -------------------------------------------------------------

    def query(self, shape: str, text: str):
        """Parse, plan and run one top-10 query on the flat index."""
        t0 = time.perf_counter()
        q = self.qp.parse_query(text)
        with self.tr.span("query.executor.plan", shape=shape):
            df = self.enq.get_mset(q, 0, 10)
        with self.tr.span("query.executor.exec", shape=shape):
            rows = df.collect()
        return q, rows, time.perf_counter() - t0

    def wand(self, seg, terms, op: str = "or", exhaustive: bool = False,
             wqf=None):
        from xapian_spark.query.wand import WandEnquire

        with self.tr.span("query.wand.single.plan"):
            df = WandEnquire(seg).get_mset(terms, 10, op=op, wqf=wqf,
                                           exhaustive=exhaustive)
        with self.tr.span("query.wand.single.exec"):
            return pairs(df.collect())

    def wand_batch(self, queries, ops_by_id) -> int:
        from xapian_spark.query.wand import WandEnquire

        with self.tr.span("query.wand.batch.plan"):
            df = WandEnquire(self.seg).get_mset_batch(
                queries, 10, ops_by_id=ops_by_id)
        with self.tr.span("query.wand.batch.exec"):
            return df.count()

    # -- writes ------------------------------------------------------------

    def churn_cycle(self, state: dict) -> None:
        """Delete CHURN_DOCS docs, replace CHURN_DOCS others with bodies
        from another seed, then read READS_PER_CYCLE times; no read may
        return a deleted id. state tracks deleted ids, replaced texts
        and bytes written."""
        from xapian_spark.index.segments import (delete_documents,
                                                  replace_documents)
        from xapian_spark.io.pages import generate_page

        rng = state["rng"]
        live = sorted(set(range(1, self.n_docs + 1)) - state["deleted"])
        gone = rng.sample(live, CHURN_DOCS)
        rest = sorted(set(live) - set(gone))
        new = {d: generate_page(d - 1, self.seed + 1000)["text"]
               for d in rng.sample(rest, CHURN_DOCS)}
        before = du(self.seg.path)
        with self.tr.span("index.segments.delete"):
            self.seg = delete_documents(self.seg, gone)
        state["deleted"] |= set(gone)
        rep = self.spark.createDataFrame(sorted(new.items()),
                                         "doc_id long, text string")
        with self.tr.span("index.segments.replace"):
            self.seg = replace_documents(self.seg, rep)
        state["replaced"].update(new)
        state["bytes_written"] += du(self.seg.path) - before
        state["docs_updated"] += 2 * CHURN_DOCS
        for _ in range(READS_PER_CYCLE):
            terms = list(self.qp.parse_query(
                f"{self.qgen.head_word()} {self.qgen.head_word()}").terms())
            got = self.wand(self.seg, terms)
            self.fail.check(not any(d in state["deleted"] for d, _s in got),
                            f"deleted id returned for {terms}")

    def compact(self, state: dict) -> None:
        """Compact the churned index into CORES fresh segments."""
        from xapian_spark.index.segments import compact

        state["churned_bytes"] = du(self.seg.path)
        with self.tr.span("index.segments.compact"):
            self.seg = compact(self.seg, self.path("compact"),
                               n_segments=self.cores)


def new_churn_state(seed: int) -> dict:
    return {"rng": random.Random(seed * 31 + 7), "deleted": set(),
            "replaced": {}, "bytes_written": 0, "docs_updated": 0}


def setups(b: Bench, flat: bool) -> Dict[str, List[float]]:
    """One untimed warm-up set-up on WARMUP_DOCS docs, then SETUPS timed
    ones on the run's corpus; each set-up must index every doc into
    identical bytes."""
    with b.tr.paused():
        b.setup(WARMUP_DOCS, flat)
    setup_s, build_s, sums = [], [], []
    for _ in range(SETUPS):
        s, bs = b.setup(N_DOCS, flat)
        setup_s.append(s)
        build_s.append(bs)
        sums.append(b.manifest_totals())
    for s in sums:
        b.fail.check(s["docs"] == b.n_docs, f"built {s['docs']} docs")
        b.fail.check((s["checksum"], s["bytes"])
                     == (sums[0]["checksum"], sums[0]["bytes"]),
                     "rebuilding one corpus changed the index bytes")
    b.log(f"set-ups {[round(t, 2) for t in setup_s]}")
    return {"setup_s": setup_s, "build_s": build_s}


# -- measured loops ----------------------------------------------------------
#
# One closed-loop client replays a list of operations in PASSES passes.
# An operation's time is its fastest run. The passes are seconds apart,
# and on a shared host other tenants slow the program in bursts of
# 10-30 s (with CPU steal at a tenth of the box, batch latency doubled
# within one Spark session): a burst slows one pass, not every pass.
# Slow spells of a minute or more still move whole runs. Timing is wall
# time from submit to result on the driver.


def replay(seconds: float, draw, do) -> dict:
    """The first pass draws operations with `draw` (whole rounds) until
    seconds / PASSES have passed; the other passes run the same
    operations again, in the same order. `do(op)` returns (output,
    seconds). Returns the ops, every run's output, and each op's
    fastest time ("lat")."""
    ops, outs, times = [], [], []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds / PASSES:
        for op in draw():
            out, t = do(op)
            ops.append(op)
            outs.append([out])
            times.append([t])
    for _ in range(PASSES - 1):
        for i, op in enumerate(ops):
            out, t = do(op)
            outs[i].append(out)
            times[i].append(t)
    return {"ops": ops, "outs": outs, "lat": [min(t) for t in times],
            "runs": PASSES * len(ops)}


def loop_interactive(b: Bench, seconds: float) -> dict:
    """parse -> get_mset(0, 10) -> collect, one query at a time; rounds
    of SHAPE_WEIGHTS queries. A query's latency is its fastest run."""
    def do(op):
        q, rows, t = b.query(*op)
        return (q, pairs(rows)), t

    res = replay(seconds, b.qgen.round, do)
    res["queries"] = len(res["ops"])
    return res


def loop_batch(b: Bench, seconds: float) -> dict:
    """get_mset_batch(BATCH_SIZE queries).count(), one batch at a time.
    A query's latency is its batch's fastest run."""
    def do(op):
        t = time.perf_counter()
        n = b.wand_batch(*op)
        return n, time.perf_counter() - t

    res = replay(seconds, lambda: [b.qgen.batch(BATCH_SIZE)], do)
    res["queries"] = BATCH_SIZE * len(res["ops"])
    res["first"] = res["ops"][0]
    return res


def warm_interactive(b: Bench) -> None:
    """One untimed query of each shape: lets plan caches fill."""
    gen = QueryGen(b.qp, b.seed + 1, N_DOCS)
    for shape in SHAPES:
        b.query(shape, gen.query(shape))


def warm_batch(b: Bench) -> None:
    """One untimed batch: lets the segment index's caches fill."""
    b.wand_batch(*QueryGen(b.qp, b.seed + 1, N_DOCS).batch(BATCH_SIZE))


# -- output checks (outside the timed loops) --------------------------------


def check_replays(b: Bench, res: dict, same) -> None:
    """Each measured op counts as an operation; each of its replays
    must give the output of its first run."""
    for outs in res["outs"]:
        b.fail.attempted += 1
        for out in outs[1:]:
            b.fail.check(same(out, outs[0]), "a replay changed the output")


def check_interactive(b: Bench, res: dict) -> None:
    """OR/AND top-10 of the first round against exhaustive WAND over the
    segment index of the same corpus; every phrase hit against the
    analyzer's positions."""
    from xapian_spark.index.build import xapian_analyzer
    from xapian_spark.io.pages import generate_page

    check_replays(b, res, lambda x, y: same_ranking(x[1], y[1]))
    for i, ((shape, _text), outs) in enumerate(zip(res["ops"],
                                                   res["outs"])):
        q, got = outs[0]
        if shape in ("or", "and") and i < sum(SHAPE_WEIGHTS):
            want = b.wand(b.seg, list(q.terms()), op=shape, exhaustive=True)
            b.fail.check(same_ranking(got, want),
                         f"{shape} {q.terms()}: {got} != {want}")
        elif shape == "phrase":
            a, c = q.terms_
            b.fail.check(bool(got), f"phrase {a} {c} matched nothing")
            for doc, _s in got:
                text = generate_page(doc - 1, b.seed)["text"]
                pos = {t: set(p) for t, _w, p in xapian_analyzer(text)}
                b.fail.check(any(p + 1 in pos.get(c, ())
                                 for p in pos.get(a, ())),
                             f"doc {doc} lacks phrase {a} {c}")


def check_batch(b: Bench, res: dict) -> None:
    """Every batch returns rows; batch rows of a sample of the first
    batch's queries equal single get_mset results."""
    from pyspark.sql import functions as F

    from xapian_spark.query.wand import WandEnquire

    check_replays(b, res, lambda x, y: x == y)
    for outs in res["outs"]:
        b.fail.check(outs[0] > 0, "batch returned no rows")
    queries, ops_by_id = res["first"]
    sample = random.Random(b.seed).sample(queries, BATCH_CHECKED)
    ids = [qid for qid, _t in sample]
    rows = (WandEnquire(b.seg).get_mset_batch(queries, 10,
                                               ops_by_id=ops_by_id)
            .filter(F.col("query_id").isin(ids))
            .orderBy("query_id", "rank").collect())
    for qid, terms in sample:
        got = pairs(r for r in rows if r["query_id"] == qid)
        want = b.wand(b.seg, terms, op=ops_by_id.get(qid, "or"),
                      wqf=dict(Counter(terms)))
        b.fail.check(same_ranking(got, want), f"batch {qid} {terms}")


def check_update(b: Bench, state: dict) -> None:
    """Top-k after churn and compact equals a fresh build of the final
    corpus."""
    from pyspark.sql import functions as F

    from xapian_spark.index.segments import build_segments

    changed = sorted(state["deleted"] | set(state["replaced"]))
    final = (b.pages.select("doc_id", "text")
             .filter(~F.col("doc_id").isin(changed))
             .unionByName(b.spark.createDataFrame(
                 sorted(state["replaced"].items()),
                 "doc_id long, text string")))
    fresh = build_segments(final, b.path("fresh"), n_segments=b.cores)
    for _ in range(FINAL_CHECKED):
        terms = list(b.qp.parse_query(
            f"{b.qgen.head_word()} {b.qgen.head_word()}").terms())
        want = b.wand(fresh, terms)
        got = b.wand(b.seg, terms)
        b.fail.check(same_ranking(got, want), f"after churn {terms}")


# name -> (flat index in set-up, warm-up, measured loop, output check)
WORKLOADS = {
    "interactive": (True, warm_interactive, loop_interactive,
                    check_interactive),
    "batch": (False, warm_batch, loop_batch, check_batch),
}


def run(b: Bench, workload: str, seconds: float) -> dict:
    """Set up, warm up, measure, check. A traced run splits its seconds
    between two measurements of the same query stream, traced and then
    untraced, so the difference is the tracing overhead."""
    flat, warm, loop, check = WORKLOADS[workload]
    res = setups(b, flat)
    with b.tr.paused():
        warm(b)
    if b.tr.enabled:
        seconds /= 2
    res.update(loop(b, seconds))
    b.log(f"{workload}: {res['runs']} runs of {len(res['lat'])} ops, "
          f"fastest "
          f"{[round(t, 2) for t in res['lat']]}")
    if b.tr.enabled:
        b.qgen = b.new_qgen()
        with b.tr.paused():
            res["untraced_lat"] = loop(b, seconds)["lat"]
    with b.tr.paused():
        check(b, res)
    b.log("checks done")
    return res
