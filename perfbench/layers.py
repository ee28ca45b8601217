"""Per-layer metrics of a traced run.

Spark-side figures come from the spans `workloads.Bench` opens around
each layer call: times are the median over calls, counts those of the
first call (so they repeat exactly for one seed). Driver-side kernels
(tokenizer, codec, parser) are timed on fixed seeded samples.

Every traced run reports every metric. A layer the workload does not
call is called once by `probe_idle_layers`, after the measured phase,
on the workload's own corpus and index.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, List

import workloads as W

UNITS = {
    "analysis.htmlparse.extract_s": "s",
    "analysis.tokenizer.us_per_doc": "us",
    "index.codec.encode_ns_per_posting": "ns",
    "index.codec.decode_ns_per_posting": "ns",
    "index.codec.chunks": "count",
    "index.codec.postings": "count",
    "index.codec.postings_per_chunk": "ratio",
    "index.codec.bytes": "bytes",
    "index.codec.bytes_per_text_byte": "ratio",
    "index.segments.build_s": "s",
    "index.segments.build_jobs": "count",
    "index.segments.build_stages": "count",
    "index.segments.build_tasks": "count",
    "index.segments.build_executor_run_s": "s",
    "index.segments.build_executor_cpu_s": "s",
    "index.segments.build_shuffle_bytes": "bytes",
    "index.segments.build_spill_bytes": "bytes",
    "index.segments.term_stats_s": "s",
    "index.segments.term_stats_jobs": "count",
    "index.build.build_index_s": "s",
    "query.parser.parse_us": "us",
    "query.executor.plan_s": "s",
    "query.executor.exec_s": "s",
    **{f"query.executor.{shape}.{k}": u for shape in W.SHAPES
       for k, u in (("jobs", "count"), ("stages", "count"),
                    ("exec_p50_s", "s"))},
    "query.executor.and.shuffle_bytes": "bytes",
    "query.executor.phrase.shuffle_bytes": "bytes",
    "query.executor.busy_frac": "ratio",
    "query.wand.batch.plan_s": "s",
    "query.wand.batch.exec_s": "s",
    "query.wand.batch.jobs": "count",
    "query.wand.batch.stages": "count",
    "query.wand.batch.tasks": "count",
    "query.wand.batch.executor_run_s": "s",
    "query.wand.batch.executor_cpu_s": "s",
    "query.wand.batch.shuffle_bytes": "bytes",
    "query.wand.batch.chunks_read": "count",
    "query.wand.batch.postings_decoded": "count",
    "query.wand.batch.term_share": "ratio",
    "index.segments.delete_s": "s",
    "index.segments.delete_jobs": "count",
    "index.segments.replace_s": "s",
    "index.segments.replace_jobs": "count",
    "index.segments.bytes_written_per_updated_doc": "bytes",
    "index.segments.compact_s": "s",
    "index.segments.compact_shuffle_bytes": "bytes",
    "index.segments.compact_bytes_rewritten": "bytes",
    "index.segments.space_amp": "ratio",
    "index.segments.live_segments": "count",
    "index.segments.tombstones": "count",
    "query.wand.single.plan_s": "s",
    "query.wand.single.exec_s": "s",
    "query.wand.single.jobs": "count",
    "trace.traced_op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_frac": "ratio",
}

# metrics where a larger value is the better one; every other is lower
HIGHER = {"index.codec.postings_per_chunk", "query.executor.busy_frac"}


def _median_time(reps: int, fn) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def kernel_metrics(b: "W.Bench") -> Dict[str, float]:
    """Tokenizer, codec and parser on fixed seeded driver-side samples."""
    import numpy as np

    from xapian_spark.index.build import xapian_analyzer
    from xapian_spark.index.codec import decode_chunk, encode_chunks
    from xapian_spark.io.pages import generate_page

    texts = [generate_page(i, b.seed)["text"] for i in range(40)]
    tok = _median_time(3, lambda: [xapian_analyzer(t) for t in texts])

    rng = np.random.default_rng(b.seed)
    n = 50_000
    ids = np.cumsum(rng.integers(1, 9, n)).astype(np.int64)
    wdf = rng.integers(1, 20, n).astype(np.int64)
    dl = rng.integers(50, 400, n).astype(np.int64)
    chunks = encode_chunks(ids, wdf, dl)
    enc = _median_time(3, lambda: encode_chunks(ids, wdf, dl))
    dec = _median_time(3, lambda: [decode_chunk(c.data) for c in chunks])

    gen = W.QueryGen(b.qp, b.seed + 1, b.n_docs)
    strings = [text for _ in range(20) for _s, text in gen.round()]
    parse = _median_time(3, lambda: [b.qp.parse_query(s) for s in strings])
    return {"analysis.tokenizer.us_per_doc": tok / len(texts) * 1e6,
            "index.codec.encode_ns_per_posting": enc / n * 1e9,
            "index.codec.decode_ns_per_posting": dec / n * 1e9,
            "query.parser.parse_us": parse / len(strings) * 1e6}


def force_extract(b: "W.Bench") -> None:
    """The HTML extract pass alone, over the workload's corpus."""
    from pyspark.sql import functions as F

    from xapian_spark.analysis.htmlparse import extract_text_udf

    with b.tr.span("analysis.htmlparse.extract"):
        b.pages.select(F.sum(F.length(
            extract_text_udf(F.col("html"))))).collect()


def probe_idle_layers(b: "W.Bench", res: dict) -> None:
    """Call once each layer the workload left idle, on its own corpus
    and index: the flat index and query shapes, or the batch kernel;
    and always the update path (one delete+replace cycle with reads,
    then compact)."""
    tr = b.tr
    if b.enq is None:
        b.build_flat()
    for shape in W.SHAPES:
        if not tr.named("query.executor.exec", shape=shape):
            b.query(shape, b.qgen.query(shape))
    if not tr.named("query.wand.batch.exec"):
        queries, ops_by_id = b.qgen.batch(W.BATCH_SIZE)
        n = b.wand_batch(queries, ops_by_id)
        res["first"] = (queries, ops_by_id)
        with tr.paused():
            W.check_batch(b, {"first": res["first"], "outs": [[n]]})
    res["batch"] = batch_counts(b, res["first"][0])
    state = W.new_churn_state(b.seed)
    b.churn_cycle(state)
    state["counts"] = churn_counts(b, state)
    b.compact(state)
    with tr.paused():
        W.check_update(b, state)
    res["churn"] = state


def churn_counts(b: "W.Bench", state: dict) -> Dict[str, float]:
    t = b.seg.tombstones()
    return {"live_segments": b.seg.chunks.select("seg_id").distinct().count(),
            "tombstones": t.count() if t is not None else 0,
            "bytes_written_per_updated_doc":
                state["bytes_written"] / state["docs_updated"]}


def batch_counts(b: "W.Bench", queries) -> Dict[str, float]:
    """Chunks and postings the batch kernel decodes (every chunk of
    every term in the batch), and distinct terms per query term."""
    from pyspark.sql import functions as F

    union = sorted({t for _q, terms in queries for t in terms})
    row = (b.seg.postings_chunks.filter(F.col("term").isin(union))
           .agg(F.count(F.lit(1)), F.sum("n")).head())
    return {"query.wand.batch.chunks_read": row[0],
            "query.wand.batch.postings_decoded": row[1],
            "query.wand.batch.term_share":
                len(union) / sum(len(terms) for _q, terms in queries)}


def _first(spans, field: str) -> float:
    return spans[0].counts[field] if spans else 0


def _p50(spans) -> float:
    return statistics.median(s.wall_s for s in spans) if spans else 0.0


def span_metrics(b: "W.Bench", res: dict) -> Dict[str, float]:
    tr, m = b.tr, {}
    m["analysis.htmlparse.extract_s"] = _p50(
        tr.named("analysis.htmlparse.extract"))

    build = tr.named("index.segments.build")
    m["index.segments.build_s"] = _p50(build)
    for k in ("jobs", "stages", "tasks"):
        m[f"index.segments.build_{k}"] = _first(build, k)
    for k in ("executor_run_s", "executor_cpu_s"):
        m[f"index.segments.build_{k}"] = statistics.median(
            s.counts[k] for s in build)
    m["index.segments.build_shuffle_bytes"] = build[0].shuffle_bytes
    m["index.segments.build_spill_bytes"] = _first(build, "spill_bytes")
    ts = tr.named("index.segments.term_stats")
    m["index.segments.term_stats_s"] = _p50(ts)
    m["index.segments.term_stats_jobs"] = _first(ts, "jobs")

    tot = b.index_totals
    m["index.codec.chunks"] = tot["chunks"]
    m["index.codec.postings"] = tot["postings"]
    m["index.codec.postings_per_chunk"] = tot["postings"] / tot["chunks"]
    m["index.codec.bytes"] = tot["bytes"]
    m["index.codec.bytes_per_text_byte"] = tot["bytes"] / b.text_bytes()

    m["index.build.build_index_s"] = _p50(tr.named("index.build.build_index"))

    plans, execs = (tr.named("query.executor.plan"),
                    tr.named("query.executor.exec"))
    m["query.executor.plan_s"] = _p50(plans)
    m["query.executor.exec_s"] = _p50(execs)
    for shape in W.SHAPES:
        p = tr.named("query.executor.plan", shape=shape)
        e = tr.named("query.executor.exec", shape=shape)
        m[f"query.executor.{shape}.jobs"] = p[0].counts["jobs"] \
            + e[0].counts["jobs"]
        m[f"query.executor.{shape}.stages"] = p[0].counts["stages"] \
            + e[0].counts["stages"]
        m[f"query.executor.{shape}.exec_p50_s"] = _p50(e)
        if shape in ("and", "phrase"):
            m[f"query.executor.{shape}.shuffle_bytes"] = \
                p[0].shuffle_bytes + e[0].shuffle_bytes
    q_spans = plans + execs
    m["query.executor.busy_frac"] = (
        sum(s.counts["executor_run_s"] for s in q_spans)
        / (sum(s.wall_s for s in q_spans) * b.cores))

    bp, be = (tr.named("query.wand.batch.plan"),
              tr.named("query.wand.batch.exec"))
    m["query.wand.batch.plan_s"] = _p50(bp)
    m["query.wand.batch.exec_s"] = _p50(be)
    for k in ("jobs", "stages", "tasks"):
        m[f"query.wand.batch.{k}"] = _first(bp, k) + _first(be, k)
    for k in ("executor_run_s", "executor_cpu_s"):
        m[f"query.wand.batch.{k}"] = statistics.median(
            s.counts[k] for s in be)
    m["query.wand.batch.shuffle_bytes"] = bp[0].shuffle_bytes \
        + be[0].shuffle_bytes
    m.update(res["batch"])

    for op in ("delete", "replace"):
        sp = tr.named(f"index.segments.{op}")
        m[f"index.segments.{op}_s"] = _p50(sp)
        m[f"index.segments.{op}_jobs"] = _first(sp, "jobs")
    first = res["churn"]["counts"]
    for k in ("bytes_written_per_updated_doc", "live_segments",
              "tombstones"):
        m[f"index.segments.{k}"] = first[k]
    comp = tr.named("index.segments.compact")
    m["index.segments.compact_s"] = _p50(comp)
    m["index.segments.compact_shuffle_bytes"] = comp[0].shuffle_bytes
    m["index.segments.compact_bytes_rewritten"] = W.du(b.seg.path)
    m["index.segments.space_amp"] = \
        res["churn"]["churned_bytes"] / W.du(b.seg.path)

    sp, se = (tr.named("query.wand.single.plan"),
              tr.named("query.wand.single.exec"))
    m["query.wand.single.plan_s"] = _p50(sp)
    m["query.wand.single.exec_s"] = _p50(se)
    m["query.wand.single.jobs"] = _first(sp, "jobs") + _first(se, "jobs")
    return m


def layer_metrics(b: "W.Bench", res: dict) -> Dict[str, float]:
    force_extract(b)
    probe_idle_layers(b, res)
    m = {**kernel_metrics(b), **span_metrics(b, res)}
    traced = statistics.median(res["lat"])
    untraced = statistics.median(res["untraced_lat"])
    m["trace.traced_op_p50_s"] = traced
    m["trace.untraced_op_p50_s"] = untraced
    m["trace.overhead_frac"] = (traced - untraced) / untraced
    if set(m) != set(UNITS):
        raise RuntimeError(f"metrics do not match UNITS: {set(m) ^ set(UNITS)}")
    return m


# figures that repeat exactly for one seed (perfbench/test_counts.py).
# Shuffle and file sizes are left out: they depend on row order, which
# Spark does not fix, through compression.
COUNT_METRICS: List[str] = [
    k for k, u in UNITS.items() if u == "count"] + [
    "index.codec.bytes", "index.codec.bytes_per_text_byte",
    "index.codec.postings_per_chunk"]
