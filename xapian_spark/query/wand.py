"""Block-max MaxScore/WAND top-k over a chunk-encoded SegmentIndex.

The distributed restatement of the reference match loop
(xapian-core/matcher/multimatch.cc:603-888): each SEGMENT plays the role
of one sub-database (multimatch's LocalSubMatch per sub-DB), scored
independently in parallel by an Arrow-batched kernel; the per-segment
top-k results are then merged globally — exactly the reference's
multi-DB merge, but set-at-a-time and vectorized.

Pruning (SURVEY §4.2): the reference raises min_weight from the heap
floor and skips via coarse per-term maxweights (bm25weight.cc
get_maxpart). We implement the MaxScore family with BLOCK-max bounds:
- per-term maxpart from the segment's chunk metadata
  (max over chunks of tw·sumpart(max_wdf, min_doclen)) — tighter than
  the reference's global bound;
- terms processed in descending maxpart order; once the summed maxparts
  of the unprocessed tail is strictly below the current kth-best partial
  score θ, no unseen doc can reach the top-k, so the tail terms decode
  ONLY chunks whose [first_doc_id, last_doc_id] range contains a
  surviving candidate (block skipping);
- candidates whose upper bound falls strictly below θ are dropped.

Safety contract (never changes the top-k): bounds never underestimate,
and all prune comparisons are STRICT (<) so score ties — which the
final order breaks by docid ascending — are never pruned away.

Score identity with the executor: per-doc parts are summed in ascending
part-value order (matching executor.SUM_SCORES_SQL's array_sort + fold),
and each part is the weight's one sumpart formula evaluated over numpy
arrays — the same code the executor evaluates over SQL operands, so the
two perform the same IEEE float64 operations in the same order by
construction (bm25.py).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xapian_spark.index.codec import decode_chunk
from xapian_spark.index.segments import SegmentIndex, _route_segments
from xapian_spark.index.termdict import term_in
from xapian_spark.query.bm25 import BM25Weight


def _sum_parts_sorted(docs: np.ndarray, parts: np.ndarray
                      ) -> Tuple[np.ndarray, np.ndarray]:
    """Per-doc sum with parts added in ascending value order (the
    executor's deterministic-summation rule)."""
    if docs.size == 0:
        return docs, parts
    order = np.lexsort((parts, docs))
    d = docs[order]
    p = parts[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    sums = np.add.reduceat(p, starts)
    return d[starts], sums


class _TermCursor:
    """One query term's chunks within a segment, lazily decodable."""

    def __init__(self, weight: BM25Weight, tw: float, len_factor: float,
                 firsts, lasts, max_wdfs, min_doclens, datas,
                 dead: Optional[np.ndarray] = None):
        order = np.argsort(firsts, kind="stable")
        self.firsts = np.asarray(firsts)[order]
        self.lasts = np.asarray(lasts)[order]
        self.max_wdfs = np.asarray(max_wdfs)[order]
        self.min_doclens = np.asarray(min_doclens)[order]
        self.datas = [datas[i] for i in order]
        self.tw = tw
        self.weight = weight
        self.len_factor = len_factor
        self.dead = dead  # sorted tombstoned docids for this segment

    def upper_bound(self) -> float:
        """Segment-level maxpart: max over chunks of the chunk bound.
        get_maxpart(wdf_ub, doclen_lb) is sumpart evaluated AT
        (wdf_ub, doclen_lb) for every k1/b case (bm25weight.cc:174-191),
        so sumpart over the chunk metadata arrays gives every chunk
        bound."""
        if not self.datas:
            return 0.0
        return float(self.weight.sumpart(
            self.tw, self.max_wdfs, self.min_doclens,
            self.len_factor).max())

    def decode(self, keep_docs: Optional[np.ndarray] = None
               ) -> Tuple[np.ndarray, np.ndarray]:
        """(doc_ids, parts). With keep_docs (sorted), decodes only
        chunks whose docid range contains a kept doc (block skipping),
        then filters rows to kept docs."""
        ids_l: List[np.ndarray] = []
        w_l: List[np.ndarray] = []
        dl_l: List[np.ndarray] = []
        for i in range(len(self.datas)):
            if keep_docs is not None:
                lo = np.searchsorted(keep_docs, self.firsts[i], "left")
                if lo >= keep_docs.size or keep_docs[lo] > self.lasts[i]:
                    continue  # no candidate falls in this chunk's range
            ids, wdf, dl = _decode_live(self.datas[i], self.dead)
            if ids.size == 0:
                continue
            if keep_docs is not None:
                m = _member_sorted(ids, keep_docs)
                if not m.any():
                    continue
                ids, wdf, dl = ids[m], wdf[m], dl[m]
            ids_l.append(ids)
            w_l.append(wdf)
            dl_l.append(dl)
        if not ids_l:
            e = np.empty(0, dtype=np.int64)
            return e, e.astype(np.float64)
        ids = np.concatenate(ids_l)
        parts = self.weight.sumpart(self.tw, np.concatenate(w_l),
                                    np.concatenate(dl_l), self.len_factor)
        return ids, parts


def _member_sorted(ids: np.ndarray, keep_sorted: np.ndarray
                   ) -> np.ndarray:
    """Membership mask of ids in a SORTED unique array — O(n log m)
    searchsorted, much cheaper than np.isin's sort-based path."""
    idx = np.searchsorted(keep_sorted, ids)
    m = idx < keep_sorted.size
    m[m] = keep_sorted[idx[m]] == ids[m]
    return m


def _segment_dead(dead, seg_id: int) -> Optional[np.ndarray]:
    """Sorted docids tombstoned in segment seg_id (`dead` is
    SegmentIndex._dead_arrays()), or None when none are."""
    if dead is None:
        return None
    ids, before = dead
    seg_dead = ids[before >= seg_id]
    return seg_dead if seg_dead.size else None


def _decode_live(data: bytes, seg_dead: Optional[np.ndarray]
                 ) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """decode_chunk minus the segment's tombstoned docids — the one
    tombstone-aware decode both kernels use."""
    ids, wdf, dl = decode_chunk(data)
    if seg_dead is not None:
        m = ~_member_sorted(ids, seg_dead)
        if not m.all():
            ids, wdf, dl = ids[m], wdf[m], dl[m]
    return ids, wdf, dl


def _segment_topk(
    cursors: List[_TermCursor], k: int, op: str, exhaustive: bool,
    n_query_terms: int = 0,
) -> Tuple[np.ndarray, np.ndarray]:
    """MaxScore over one segment → (top-k doc_ids, scores).

    n_query_terms is the number of terms in the WHOLE query: a segment
    may hold chunks for only a subset (a term can be entirely absent
    from one segment while present in others), in which case an AND can
    match nothing in this segment — intersecting just the present terms
    would wrongly admit docs lacking the absent term."""
    if (not cursors) or (op == "and"
                         and len(cursors) < n_query_terms):
        e = np.empty(0, dtype=np.int64)
        return e, e.astype(np.float64)

    if op == "and":
        # least-frequent-first intersection (multiandpostlist.h:127-128)
        cursors = sorted(cursors, key=lambda c: sum(map(len, c.datas)))
        docs, parts = cursors[0].decode()
        pair_docs = [docs]
        pair_parts = [parts]
        cand = docs
        for cur in cursors[1:]:
            ids, parts = cur.decode(keep_docs=cand)
            cand = ids  # intersection so far (decode filters to cand)
            pair_docs.append(ids)
            pair_parts.append(parts)
            if cand.size == 0:
                break
        e = np.empty(0, dtype=np.int64)
        if cand.size == 0:
            return e, e.astype(np.float64)
        all_d = np.concatenate(
            [d[_member_sorted(d, cand)] for d in pair_docs])
        all_p = np.concatenate(
            [p[_member_sorted(d, cand)]
             for d, p in zip(pair_docs, pair_parts)])
        docs, scores = _sum_parts_sorted(all_d, all_p)
        return _take_topk(docs, scores, k)

    # OR / MaxScore
    order = sorted(range(len(cursors)),
                   key=lambda i: -cursors[i].upper_bound())
    cursors = [cursors[i] for i in order]
    maxparts = [c.upper_bound() for c in cursors]
    tail_max = np.concatenate(
        (np.cumsum(maxparts[::-1])[::-1][1:], [0.0]))

    pair_docs: List[np.ndarray] = []
    pair_parts: List[np.ndarray] = []
    cand: Optional[np.ndarray] = None  # None = still admitting new docs
    # running per-doc partial sums (θ bound only — final scores are
    # recomputed with the deterministic summation below). Maintained
    # INCREMENTALLY: one sorted merge per term, not a from-scratch
    # re-aggregation of every pair array each iteration.
    cur_docs = np.empty(0, dtype=np.int64)
    cur_scores = np.empty(0, dtype=np.float64)
    for i, cur in enumerate(cursors):
        ids, parts = cur.decode(keep_docs=cand)
        pair_docs.append(ids)
        pair_parts.append(parts)
        if exhaustive:
            continue
        if ids.size:
            # ids are docid-ascending (chunks are sorted and disjoint
            # within a segment); merge into the running aggregate
            idx = np.searchsorted(cur_docs, ids)
            hit = idx < cur_docs.size
            hit[hit] = cur_docs[idx[hit]] == ids[hit]
            np.add.at(cur_scores, idx[hit], parts[hit])
            if (~hit).any():
                new_ids = ids[~hit]
                new_parts = parts[~hit]
                at = np.searchsorted(cur_docs, new_ids)
                cur_docs = np.insert(cur_docs, at, new_ids)
                cur_scores = np.insert(cur_scores, at, new_parts)
        if cur_docs.size >= k and i + 1 < len(cursors):
            theta = np.partition(cur_scores, cur_docs.size - k)[
                cur_docs.size - k]
            if tail_max[i] < theta:
                # no unseen doc can reach top-k; shrink candidates to
                # those whose upper bound can still matter
                ub = cur_scores + tail_max[i]
                keep = ub >= theta  # keep ties (docid tiebreak)
                cand = cur_docs[keep]
                cur_docs = cand
                cur_scores = cur_scores[keep]

    docs, scores = _sum_parts_sorted(
        np.concatenate(pair_docs), np.concatenate(pair_parts))
    return _take_topk(docs, scores, k)


def _take_topk(docs: np.ndarray, scores: np.ndarray, k: int
               ) -> Tuple[np.ndarray, np.ndarray]:
    """(score desc, doc asc) top-k — msetcmp.cc default order."""
    if docs.size == 0:
        return docs, scores
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def _per_segment(index: SegmentIndex, chunk_rows: DataFrame, kernel,
                 schema: str) -> DataFrame:
    """kernel(seg_id, pdf) → pandas rows, run once per segment over
    that segment's chunk rows, through the build's segment router
    (segments._route_segments): one task per segment, up to the
    session's parallelism (seg_ids past it share a task, modulo the
    partition count)."""
    n = max(1, min(index._segment_span(),
                   index.spark.sparkContext.defaultParallelism))
    return _route_segments(chunk_rows, n, kernel, schema)


class WandEnquire:
    """Enquire over a SegmentIndex: flat OR/AND term queries via the
    block-max kernel. Term statistics come from the index's cached
    driver-side dictionary (no job to plan); chunk rows of the query
    terms shuffle to one task per segment, and the per-segment top-k
    merge to the global top-k. Postings are never decoded before the
    kernel, so only compressed chunks cross the shuffle."""

    def __init__(self, index: SegmentIndex,
                 weight: Optional[BM25Weight] = None):
        self.index = index
        self.weight = weight or BM25Weight()

    def get_mset(self, terms: List[str], maxitems: int = 10,
                 op: str = "or", wqf: Optional[Dict[str, int]] = None,
                 exhaustive: bool = False) -> DataFrame:
        spark = self.index.spark
        terms = list(dict.fromkeys(terms))  # dedupe, keep order
        wqf = wqf or {}
        st = self.index.stats()
        tfs = self.index.term_freqs(terms)
        present = [t for t in terms if t in tfs]
        if (not present) or (op == "and" and len(present) < len(terms)):
            return spark.createDataFrame([], "doc_id long, score double")

        lf = self.weight.len_factor(st.average_length)
        tws = {
            t: self.weight.termweight(tfs[t][0], st.doccount,
                                      wqf.get(t, 1))
            for t in present
        }
        weight = self.weight
        k = maxitems
        n_query_terms = len(present)
        dead = self.index._dead_arrays()  # (sorted ids, before_seg)|None

        chunk_rows = (
            self.index.postings_chunks
            .filter(term_in(present))
            .select("term", "seg_id", "first_doc_id", "last_doc_id",
                    "max_wdf", "min_doclen", "data")
        )

        out_schema = "doc_id long, score double"

        def kernel(seg, pdf):
            import pandas as pd

            seg_dead = _segment_dead(dead, seg)
            cursors = []
            for t, g in pdf.groupby("term"):
                cursors.append(_TermCursor(
                    weight, tws[t], lf,
                    g["first_doc_id"].to_numpy(),
                    g["last_doc_id"].to_numpy(),
                    g["max_wdf"].to_numpy(),
                    g["min_doclen"].to_numpy(),
                    list(g["data"]),
                    dead=seg_dead,
                ))
            docs, scores = _segment_topk(cursors, k, op, exhaustive,
                                         n_query_terms)
            return pd.DataFrame({"doc_id": docs, "score": scores})

        per_seg = _per_segment(self.index, chunk_rows, kernel, out_schema)
        return (per_seg
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k))

    def get_mset_batch(self, queries, maxitems: int = 10,
                       op: str = "or",
                       ops_by_id: Optional[Dict[str, str]] = None
                       ) -> DataFrame:
        """Batch serving over the chunk-encoded index: a whole query
        workload in one plan, answered by one task per segment.

        queries: iterable of (query_id, [term, ...]) — duplicate terms
        merge into wqf; per-query OP_AND via ops_by_id.  Returns
        (query_id, rank, doc_id, score), identical per query to
        get_mset (same kernels, same deterministic summation, same
        tiebreak).

        Trade-off vs the single-query path: block-max pruning is
        per-query, but a workload's head terms repeat across queries —
        so the batch kernel decodes each term's chunks ONCE per
        segment (term-pruned to the workload's union), then scores
        every query vectorized against the decoded arrays.  Decode
        amortization beats per-query block skipping as soon as terms
        are shared.  Only compressed chunk rows shuffle (to their
        segment's task) and only per-(segment, query) top-k rows reach
        the merge; planning runs no Spark job once the index's term
        dictionary is cached."""
        from pyspark.sql import Window

        spark = self.index.spark
        ops_map = ops_by_id or {}
        workload = []
        union_terms: set = set()
        for qid, terms in queries:
            wqf: Dict[str, int] = {}
            for t in terms:
                wqf[t] = wqf.get(t, 0) + 1
            q_op = ops_map.get(qid, op)
            if q_op not in ("or", "and"):
                raise ValueError(f"unsupported batch op {q_op!r}")
            workload.append((qid, wqf, q_op == "and"))
            union_terms |= set(wqf)

        st = self.index.stats()
        tfs = self.index.term_freqs(union_terms)
        lf = self.weight.len_factor(st.average_length)

        # per-query plan: (qid, {term: termweight}, n_terms, is_and);
        # same empty-result rule as get_mset — a query with no indexed
        # term, or an AND missing any term, yields no rows
        plan = []
        for qid, wqf, is_and in workload:
            tws_q = {
                t: self.weight.termweight(tfs[t][0], st.doccount, w)
                for t, w in wqf.items() if t in tfs
            }
            if tws_q and not (is_and and len(tws_q) < len(wqf)):
                plan.append((qid, tws_q, len(tws_q), is_and))
        out_schema = "query_id string, doc_id long, score double"
        if not plan:
            return spark.createDataFrame(
                [], "query_id string, rank int, doc_id long, score double")

        needed = {t for _q, tws_q, _n, _a in plan for t in tws_q}
        weight = self.weight
        k = maxitems
        dead = self.index._dead_arrays()
        chunk_rows = (
            self.index.postings_chunks
            .filter(term_in(needed))
            .select("term", "seg_id", "data")
        )

        def kernel(seg, pdf):
            import pandas as pd

            seg_dead = _segment_dead(dead, seg)
            decoded = {}
            for t, g in pdf.groupby("term"):
                ids_l, w_l, dl_l = [], [], []
                for data in g["data"]:
                    ids, wdf, dl = _decode_live(data, seg_dead)
                    if ids.size:
                        ids_l.append(ids)
                        w_l.append(wdf)
                        dl_l.append(dl)
                if ids_l:
                    decoded[t] = (np.concatenate(ids_l),
                                  np.concatenate(w_l),
                                  np.concatenate(dl_l))
            q_out, d_out, s_out = [], [], []
            for qid, tws_q, n_terms, is_and in plan:
                ids_l, parts_l = [], []
                for t, tw in tws_q.items():
                    hit = decoded.get(t)
                    if hit is None:
                        continue
                    ids, wdf, dl = hit
                    ids_l.append(ids)
                    parts_l.append(weight.sumpart(tw, wdf, dl, lf))
                if not ids_l or (is_and and len(ids_l) < n_terms):
                    continue
                docs = np.concatenate(ids_l)
                udocs, scores = _sum_parts_sorted(
                    docs, np.concatenate(parts_l))
                if is_and:
                    # udocs is sorted unique, aligned with np.unique
                    _ud, cnt = np.unique(docs, return_counts=True)
                    m = cnt == n_terms
                    udocs, scores = udocs[m], scores[m]
                topd, tops = _take_topk(udocs, scores, k)
                q_out.extend([qid] * topd.size)
                d_out.append(topd)
                s_out.append(tops)
            return pd.DataFrame({
                "query_id": q_out,
                "doc_id": np.concatenate(d_out) if d_out
                else np.empty(0, dtype=np.int64),
                "score": np.concatenate(s_out) if s_out
                else np.empty(0, dtype=np.float64),
            })

        per_seg = _per_segment(self.index, chunk_rows, kernel, out_schema)
        win = (Window.partitionBy("query_id")
               .orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        return (per_seg
                .withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score"))
