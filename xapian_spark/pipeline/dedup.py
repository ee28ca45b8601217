"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), n-gram Jaccard (shingle self-join — no cross
product), MinHash + LSH banding, and SimHash — each expressed with
built-in pyspark.sql.functions so the plan stays JVM-side and scales:

- exact:     one shuffle (groupBy fingerprint)
- jaccard:   explode shingles → self-join on shingle → pair counts.
             The join is on the shingle key, so only docs *sharing a
             shingle* ever meet — at web scale you put the MinHash/LSH
             candidate filter in front (minhash_lsh_pairs) and verify
             only candidates.
- minhash:   k independent permutation hashes over shingle md5s,
             banded into LSH buckets; bucket self-join yields candidates.
- simhash:   64-bit sign-aggregated token-hash fingerprint; near-dups
             differ in few bits (hamming ≤ k via xor + popcount).

Deterministic: all hashing is md5-based (stable across runs/engines) —
no Python UDFs, no RNG at runtime.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^61 - 1: classic universal-hash modulus
_MERSENNE = (1 << 61) - 1


def _norm_text(text_col: str) -> Column:
    return F.regexp_replace(
        F.trim(F.lower(F.col(text_col))), r"\s+", " ")


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization)
    documents: (fingerprint, n_docs, keep_doc_id, dup_doc_ids)."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(_norm_text(text_col)).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token-array column.

    Delegates to textstats._all_ngrams — the n-slices/zip_with
    formulation whose every subexpression evaluates O(1) times PER
    DOCUMENT (the naive transform(i -> slice/element_at(toks, i..))
    forms re-evaluate the token expression per SHINGLE via
    CollapseProject inlining, which made the whole stage quadratic —
    measured 10x slower). Keep that property in ONE place."""
    from xapian_spark.pipeline.textstats import _all_ngrams

    return F.array_distinct(_all_ngrams(toks, n))


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    toks = F.filter(
        F.split(_norm_text(text_col), "[^a-z0-9]+"), lambda t: t != ""
    )
    return _shingles_of(toks, n)


def shingle_df(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded, plus per-doc shingle-set size."""
    from xapian_spark.index.build import spread_input

    docs = spread_input(docs)
    # materialize the token array once per row so the shingle
    # transform's element_at calls hit a computed array, not a
    # re-evaluated split+filter expression
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(_norm_text(text_col), "[^a-z0-9]+"),
                 lambda t: t != "").alias("_toks"),
    ).select(
        "doc_id",
        _shingles_of(F.col("_toks"), n).alias("shingles"),
    )
    # explode_outer + null-filter instead of explode: Catalyst's
    # InferFiltersFromGenerate would add a size(shingles)>0 filter to
    # a plain explode and push it BELOW the repartition exchange,
    # re-evaluating the whole shingle expression serially on the
    # unspread input (measured: the entire stage collapsed to 1 task)
    return (base.select(
        "doc_id",
        F.size("shingles").alias("set_size"),
        F.explode_outer("shingles").alias("shingle"),
    ).filter(F.col("shingle").isNotNull()))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.6) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets, computed by
    self-joining on the shingle (docs that share nothing never meet):
    (doc_id_a < doc_id_b, intersection, jaccard)."""
    s = shingle_df(docs, text_col, id_col, n)
    a = s.alias("a")
    b = s.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    jac = F.col("intersection").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("intersection")
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "intersection", "jaccard")
    )


def _hash_params(num_hashes: int, seed: int = 42) -> List[Tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p.
    Derived from md5 of the seed+index (stable everywhere)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-{seed}-{i}".encode()).hexdigest()
        # a < 2^28 and shingle hashes < 2^32 keep a*h + b < 2^62:
        # no silent long wrap in Spark, no bigint overflow error in DuckDB
        a = (int(d[:7], 16) % ((1 << 28) - 1)) + 1
        b = int(d[7:22], 16) % _MERSENNE
        out.append((a, b))
    return out


def shingle_hash(shingle: Column) -> Column:
    """Stable 32-bit integer hash of a shingle string: md5 hex prefix
    (small enough that universal-hash products stay in 63-bit range)."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long")


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 32, seed: int = 42,
                       shingles: DataFrame = None) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[num_hashes]) MinHash signatures.
    Documents with fewer than `n` tokens get an empty signature.
    `shingles` lets a caller reuse an already-built (ideally persisted)
    shingle_df — the tokenize+explode scan is the dominant cost at
    corpus scale and must not run twice."""
    params = _hash_params(num_hashes, seed)
    s = shingles if shingles is not None \
        else shingle_df(docs, text_col, id_col, n)
    h = s.select(
        "doc_id", shingle_hash(F.col("shingle")).alias("h"))
    aggs = [
        F.min(
            (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MERSENNE)
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = h.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      seed: int = 42,
                      shingles: DataFrame = None) -> DataFrame:
    """LSH candidate pairs: signatures split into `bands` bands of
    num_hashes/bands rows; docs sharing any band bucket become a pair.
    (doc_id_a < doc_id_b, n_bands_shared)."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, n, num_hashes, seed,
                             shingles=shingles)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.md5(F.concat_ws(
                        ",",
                        *[F.col("sig")[bi * rows + ri].cast("string")
                          for ri in range(rows)],
                    )).alias("bucket"),
                )
                for bi in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def minhash_dedup_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        num_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.6,
                        seed: int = 42) -> DataFrame:
    """The full near-dup pipeline: LSH candidates → exact-Jaccard verify.
    This is the shape that scales: the expensive verify only runs on
    bucket-collision candidates, and the shingle scan (tokenize +
    explode of the whole corpus — the single most expensive input) is
    built ONCE and persisted, shared by the signature and verify
    stages instead of being recomputed.

    Runs EAGERLY: the verified pairs (output-sized, tiny next to the
    corpus) are materialized with localCheckpoint and the corpus-scale
    shingle cache is dropped before returning — a caller holding the
    result does not pin the shingle table in executor storage for the
    session's lifetime. Compose shingle_df/minhash_signatures/
    minhash_lsh_pairs directly (they stay lazy, with a `shingles`
    pass-through) to manage the cache lifecycle yourself."""
    from pyspark import StorageLevel

    s = shingle_df(docs, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK)
    cand = minhash_lsh_pairs(docs, text_col, id_col, n, num_hashes, bands,
                             seed, shingles=s
                             ).select("doc_id_a", "doc_id_b")
    sa = s.select(F.col("doc_id").alias("doc_id_a"), "shingle",
                  F.col("set_size").alias("size_a"))
    sb = s.select(F.col("doc_id").alias("doc_id_b"), "shingle",
                  F.col("set_size").alias("size_b"))
    # candidate-driven verify: explode candidates by A's shingles, then
    # keep B matches — shingles of NON-candidate docs never meet (the
    # all-pairs shingle self-join they'd otherwise go through is the
    # part that can't scale)
    inter = (
        cand.join(sa, "doc_id_a")
        .join(sb, ["doc_id_b", "shingle"])
        .groupBy("doc_id_a", "doc_id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    jac = F.col("intersection").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("intersection"))
    pairs = (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    s.unpersist()
    return pairs


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash_hi, simhash_lo, simhash_hex): 64-bit
    sign-aggregated token-hash fingerprint, as two unsigned 32-bit halves
    (overflow-safe in any engine) plus the 16-hex-digit string.

    Token hash = first 64 bits of md5(token); each bit votes +wdf / -wdf;
    simhash bit = 1 iff the vote is positive. Pure SQL (explode + two
    groupBys) — no Python."""
    from xapian_spark.index.build import spread_input

    docs = spread_input(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(_norm_text(text_col), "[^a-z0-9]+"),
                     lambda t: t != "")
        ).alias("token"),
    )
    wdf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("wdf"))
    h = wdf.select(
        "doc_id", "wdf",
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
        .cast("long").alias("h_hi"),
        F.conv(F.substring(F.md5(F.col("token")), 9, 8), 16, 10)
        .cast("long").alias("h_lo"),
    )
    votes = []
    for half in ("hi", "lo"):
        for i in range(32):
            bit = F.shiftright(F.col(f"h_{half}"), i) % 2
            votes.append(
                F.sum(
                    F.when(bit == 1, F.col("wdf")).otherwise(-F.col("wdf"))
                ).alias(f"v_{half}_{i}")
            )
    agg = h.groupBy("doc_id").agg(*votes)
    out = {}
    for half in ("hi", "lo"):
        acc = F.lit(0).cast("long")
        for i in range(32):
            acc = acc + F.when(
                F.col(f"v_{half}_{i}") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        out[half] = acc
    return agg.select(
        "doc_id",
        out["hi"].alias("simhash_hi"),
        out["lo"].alias("simhash_lo"),
        F.concat(
            F.lpad(F.conv(out["hi"].cast("string"), 10, 16), 8, "0"),
            F.lpad(F.conv(out["lo"].cast("string"), 10, 16), 8, "0"),
        ).alias("simhash_hex"),
    )


def simhash_neardup_pairs(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming:
    simhash_pairs over the fingerprints of `docs`."""
    return simhash_pairs(simhash(docs, text_col, id_col), max_hamming)


def simhash_pairs(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_id_a < doc_id_b, hamming) for fingerprints
    (doc_id, simhash_hi, simhash_lo) within max_hamming bits.
    Candidate generation: docs sharing any of the 4 16-bit blocks of the
    64-bit simhash collide (pigeonhole: ≤3 differing bits ⇒ at least one
    of 4 blocks identical) — a block-join, not a cross product."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "pigeonhole over 4 blocks needs max_hamming in [0, 3]")
    blocks = sh.select(
        "doc_id", "simhash_hi", "simhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block"),
                        (F.shiftright(F.col(c), off) % F.lit(1 << 16))
                        .alias("key"),
                    )
                    for bi, (c, off) in enumerate(
                        [("simhash_lo", 0), ("simhash_lo", 16),
                         ("simhash_hi", 0), ("simhash_hi", 16)])
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash_hi", "simhash_lo", "b.block", "b.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            (F.bit_count(
                F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi")))
             + F.bit_count(
                 F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
             ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def deduplicate_exact(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """The apply step: drop exact duplicates, keeping the lowest doc_id
    per normalized-text fingerprint (the usual training-data policy).
    One shuffle; returns the surviving rows of `docs` unchanged."""
    from pyspark.sql.window import Window

    fp = F.md5(_norm_text(text_col))
    w = Window.partitionBy(fp).orderBy(F.col(id_col).asc())
    return (docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def dedup_report(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Corpus duplication report — the dashboard number a curation run
    is judged by: the histogram of exact-duplicate cluster sizes.
    (cluster_size, n_clusters, n_docs, pct_docs): n_docs =
    cluster_size · n_clusters, pct_docs = that share of the corpus
    (rounded to 6). Two aggregations over the md5 fingerprint (one
    shuffle each, both with map-side combine); the corpus total rides
    in as a broadcast 1-row aggregate, so the plan stays fully lazy
    and never collects."""
    fp = F.md5(_norm_text(text_col))
    sizes = (docs.select(fp.alias("fp"))
             .groupBy("fp").agg(F.count(F.lit(1)).alias("cluster_size")))
    total = docs.agg(
        F.count(F.lit(1)).cast("long").alias("_total"))
    n_docs = (F.col("cluster_size") * F.col("n_clusters")).cast("long")
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
            .crossJoin(F.broadcast(total))
            .select(
                "cluster_size", "n_clusters",
                n_docs.alias("n_docs"),
                F.round(n_docs / F.col("_total"), 6).alias("pct_docs")))


def deduplicate_minhash(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        num_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.8,
                        seed: int = 42) -> DataFrame:
    """Near-dup apply: per verified pair (Jaccard >= threshold) the
    higher doc_id is dropped — transitive chains collapse onto their
    lowest member via iterated pair removal (union-find is overkill at
    the usual thresholds; each kept doc has no verified duplicate with
    a lower id that also survived... the standard greedy policy)."""
    pairs = minhash_dedup_pairs(docs, text_col, id_col, n, num_hashes,
                                bands, threshold, seed)
    drop = pairs.select(F.col("doc_id_b").alias(id_col)).distinct()
    return docs.join(drop, id_col, "left_anti")


def decontaminate(train: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """Train/test decontamination: flag training documents that share
    any word n-gram with an evaluation set (the GPT-3/PaLM-style
    overlap rule — production pipelines use 8-13 grams; `n` is the
    knob). Returns one row per CONTAMINATED train doc:
    (doc_id, n_eval_docs, n_shared_shingles).

    Scale shape: the eval set is tiny relative to a 100 TB train
    corpus, so its distinct shingles are broadcast and the train-side
    shingle stream filters through one broadcast-hash join — no
    shuffle of train data, no all-pairs work. The groupBy shuffles
    only the matched (contaminated) rows, which are rare by
    construction."""
    tr = shingle_df(train, text_col, id_col, n).select("doc_id", "shingle")
    ev = shingle_df(eval_docs, text_col, id_col, n).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle")
    return (tr.join(F.broadcast(ev), "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("eval_doc_id").alias("n_eval_docs"),
                 F.countDistinct("shingle").alias("n_shared_shingles")))


def decontaminate_apply(train: DataFrame, eval_docs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 8) -> DataFrame:
    """The apply step: train corpus with contaminated docs removed."""
    flagged = decontaminate(train, eval_docs, text_col, id_col, n)
    return train.join(
        flagged.select(F.col("doc_id").alias(id_col)), id_col, "left_anti")


def decontaminate_fuzzy(train: DataFrame, eval_docs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Fuzzy train/test decontamination (the Dolma/FineWeb-style
    complement to the exact n-gram rule): flag a training document
    when its n-gram shingle set's JACCARD similarity with any eval
    document reaches `threshold` — catching lightly-paraphrased or
    partially-overlapping eval leaks that share no single long n-gram
    (the `decontaminate` rule's blind spot; that rule's long-n
    exactness is in turn what a low-Jaccard single-quote leak needs,
    so production runs both).

    Returns one row per (train doc, eval doc) pair over threshold:
    (doc_id, eval_doc_id, intersection, jaccard).

    Scale shape: the eval side is tiny next to a 100 TB train corpus,
    so its shingles arrive by BROADCAST — exact Jaccard without LSH,
    with no shuffle of train data: train docs sharing no shingle with
    any eval doc never leave their scan task, and the groupBy only
    shuffles matched (train, eval) shingle hits, rare by
    construction. (For train-vs-train near-dup at scale, where neither
    side broadcasts, use minhash_dedup_pairs.)"""
    tr = shingle_df(train, text_col, id_col, n)
    ev = (shingle_df(eval_docs, text_col, id_col, n)
          .select(F.col("doc_id").alias("eval_doc_id"),
                  F.col("set_size").alias("eval_set_size"), "shingle"))
    inter = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "eval_doc_id", "set_size", "eval_set_size")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    jac = F.col("intersection").cast("double") / (
        F.col("set_size") + F.col("eval_set_size")
        - F.col("intersection"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "eval_doc_id", "intersection", "jaccard")
    )


def decontaminate_fuzzy_apply(train: DataFrame, eval_docs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              threshold: float = 0.5) -> DataFrame:
    """The apply step: train corpus minus fuzzily-contaminated docs."""
    flagged = decontaminate_fuzzy(train, eval_docs, text_col, id_col,
                                  n, threshold)
    return train.join(
        flagged.select(F.col("doc_id").alias(id_col)).distinct(),
        id_col, "left_anti")


def connected_components(pairs: DataFrame, a_col: str = "doc_id_a",
                         b_col: str = "doc_id_b",
                         max_iter: int = 20) -> DataFrame:
    """(node, component) over the undirected pair graph — component =
    the smallest node id reachable from `node`.

    Iterative min-label propagation: each round every node adopts the
    minimum label in its closed neighborhood; converges in O(graph
    diameter) rounds (near-dup graphs are shallow — chains longer than
    a handful of hops are vanishingly rare at usual thresholds), with
    an exact fixpoint test so typical inputs stop after 2-3 rounds
    (max_iter must be >= 1 — 0 rounds would skip both the propagation
    AND the non-convergence raise, silently returning every node as
    its own component).
    Each round materializes via localCheckpoint(eager=True), which
    both caches the round's labels AND truncates the logical plan —
    persist alone keeps the full lineage tree, which doubles per round
    and blows up analysis time/memory past ~6 rounds (the classic
    iterative-algorithm trap at web scale). Labels-only state: shuffle
    volume per round is O(nodes + edges), never all-pairs."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = (pairs.select(F.col(a_col).alias("u"),
                          F.col(b_col).alias("v"))
             .union(pairs.select(F.col(b_col).alias("u"),
                                 F.col(a_col).alias("v")))
             .distinct()
             .persist())
    def _release_checkpoint(df):
        # DataFrame.unpersist() only consults the CacheManager, which
        # localCheckpoint bypasses — free the superseded round's
        # checkpointed blocks explicitly through its LogicalRDD handle
        # (best-effort: ContextCleaner would eventually reclaim them,
        # but "eventually" can mean many resident label copies on a
        # long-running driver)
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except Exception:
            pass

    labels = (edges.select(F.col("u").alias("node")).distinct()
              .withColumn("component", F.col("node"))
              .localCheckpoint(eager=True))
    changed = 0
    for _ in range(max_iter):
        # min label over closed neighborhood (self ∪ neighbors)
        nbr = (edges.join(labels,
                          edges["v"] == labels["node"])
               .select(edges["u"].alias("node"), "component"))
        new = (labels.select("node", "component").union(nbr)
               .groupBy("node")
               .agg(F.min("component").alias("component"))
               .localCheckpoint(eager=True))
        changed = (new.join(labels.withColumnRenamed(
            "component", "old"), "node")
            .filter(F.col("component") != F.col("old")).count())
        _release_checkpoint(labels)
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # one-hop min-label propagation needs O(component diameter)
        # rounds: stopping short silently SPLITS long chains into
        # multiple components, which is wrong data, not a degraded
        # answer — refuse instead.
        raise ValueError(
            f"connected_components did not converge in {max_iter} "
            "rounds (a near-dup chain is longer than max_iter hops); "
            "re-run with a larger max_iter")
    return labels.select("node", "component")


def neardup_clusters(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3,
                     threshold: float = 0.6,
                     max_iter: int = 20) -> DataFrame:
    """(doc_id, cluster_id) for every document: transitive near-dup
    clusters over exact n-gram Jaccard pairs (A~B and B~C put A,B,C in
    ONE cluster even when A!~C — the piece the greedy pairwise drop
    policy of deduplicate_minhash doesn't give). Singleton docs are
    their own cluster. cluster_id = min doc_id in the component.

    `max_iter` is a CORRECTNESS knob, not a budget: it must be >= the
    longest near-dup chain's hop count (label propagation converges in
    O(component diameter) rounds) — connected_components raises rather
    than return silently split clusters if the fixpoint isn't reached."""
    pairs = ngram_jaccard_pairs(docs, text_col, id_col, n, threshold)
    comp = connected_components(pairs, max_iter=max_iter)
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(comp.withColumnRenamed("node", "doc_id"), "doc_id",
                  "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id")
                    .alias("cluster_id")))


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n",
                    keep_empty_docs: bool = False) -> DataFrame:
    """CCNet-style cross-document paragraph deduplication (Wenzek et
    al. 2020 §3.1): split every document into paragraphs on `sep`,
    keep each distinct paragraph's FIRST occurrence corpus-wide
    (ordered by (doc_id, position) — deterministic and
    engine-independent), drop every later copy (including repeats
    inside one document), and reassemble the surviving paragraphs in
    original order.  This removes boilerplate (headers, nav bars,
    cookie banners) that exact whole-doc dedup misses.

    Empty strings between consecutive separators are NOT paragraphs:
    they are dropped at split time and never reinserted, so blank
    lines collapse in the rebuilt text ("a\\n\\nb" -> "a\\nb") even
    when both neighbors survive — the output is the separator-join of
    surviving non-empty paragraphs, nothing else.

    Returns (id_col, text_col, n_paras, n_kept); documents whose every
    paragraph was seen earlier are dropped unless keep_empty_docs, in
    which case they stay with empty text.

    Scale shape — paragraph TEXT never shuffles by paragraph key:
    1. explode to (md5, doc_id, pos) triples (~40 B/row, narrow);
    2. groupBy md5 with an ALGEBRAIC min(struct(doc_id, pos)) —
       map-side partial aggregation collapses even a 100M-copy
       boilerplate paragraph to one row per map task, so head-key
       skew cannot pile onto a single reducer (contrast a window
       rank over the hash, which would);
    3. the winners regroup by doc_id (uniform key) into a kept-pos
       list, join back to `docs` on doc_id, and each doc re-splits
       its own text locally, filtering to kept positions — pure
       codegen expressions, one uniform-keyed shuffle of the text.
    """
    parr = F.split(F.col(text_col), sep)
    paras = (docs
             .select(F.col(id_col),
                     F.posexplode(parr).alias("pos", "para"))
             .filter(F.col("para") != "")
             .select(id_col, "pos", F.md5(F.col("para")).alias("h")))
    firsts = paras.groupBy("h").agg(
        F.min(F.struct(id_col, "pos")).alias("f"))
    kept_by_doc = (firsts
                   .select(F.col(f"f.{id_col}").alias(id_col),
                           F.col("f.pos").alias("pos"))
                   .groupBy(id_col)
                   .agg(F.array_sort(F.collect_list("pos"))
                        .alias("_kept_pos")))
    joined = docs.join(kept_by_doc, id_col,
                       "left" if keep_empty_docs else "inner")
    # materialize the paragraph array once per row (dedup_spans'
    # _toks trick), then select kept paragraphs by POSITION — a
    # transform over the sorted kept-position list is O(n_kept)
    # element_at lookups, not the O(n_paras * n_kept) of an
    # array_contains filter over every paragraph (quadratic on a
    # 100k-line boilerplate page)
    pre = joined.select(
        F.col(id_col),
        parr.alias("_paras"),
        F.coalesce("_kept_pos", F.array().cast("array<int>"))
        .alias("_kp"))
    pcol = F.col("_paras")
    kept_paras = F.transform(
        F.col("_kp"), lambda p: F.element_at(pcol, p + 1))
    return pre.select(
        id_col,
        F.array_join(kept_paras, sep).alias(text_col),
        F.size(F.filter(pcol, lambda p: p != "")).alias("n_paras"),
        F.size(F.col("_kp")).alias("n_kept"))


def dedup_spans(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", n: int = 50) -> DataFrame:
    """Exact-substring span deduplication (Lee et al. 2021 ExactSubstr
    semantics re-expressed over n-token windows): any n-token span
    whose token sequence occurred EARLIER in corpus order (ordered by
    (doc_id, position) — deterministic and engine-independent) has its
    tokens removed; the first occurrence corpus-wide survives. Unlike
    cross_doc_span_stats (which only measures the signal), this
    REWRITES the corpus. Production uses n=50 like the paper; spans
    are over the pipeline's normalized [a-z0-9]+ tokens, so the
    rewritten text is normalized (same contract as the dedup keys
    elsewhere in this module).

    Returns (doc_id, text, n_tokens, n_removed) for every input doc —
    text is the surviving tokens space-joined; n_removed counts
    removed token positions (union of all duplicate windows).

    Overlap note: a first-occurrence window survives only where no
    OTHER duplicate window covers its tokens — the removal set is the
    positional union of duplicate windows, exactly like the paper's
    duplicate byte-range clipping.

    Scale shape (mirrors paragraph_dedup):
    1. explode to (doc_id, pos, md5(gram)) windows — one row per
       token, ~50 B each; gram text never shuffles;
    2. groupBy hash with ALGEBRAIC min(struct(doc_id, pos)) — map-side
       partials collapse boilerplate head keys;
    3. every occurrence joins back to its gram's first by hash (each
       copy must learn it is a copy — inherent to the problem; AQE
       skew-join splits mega-repeated grams);
    4. duplicate windows explode to covered positions (bounded by the
       doc's own token count after distinct), regroup by the uniform
       doc key, and each doc filters its own token array locally.
    """
    from xapian_spark.pipeline.textstats import (_all_ngrams, _spread,
                                                 tokens_col)

    toks = tokens_col(F.col(text_col))
    win = (
        _spread(docs)
        .select(F.col(id_col).alias("doc_id"),
                F.posexplode(_all_ngrams(toks, n)).alias("pos", "g"))
        .select("doc_id", "pos", F.md5("g").alias("h"))
    )
    firsts = win.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("f"))
    dups = (
        win.join(firsts, "h")
        .filter(~((F.col("doc_id") == F.col("f.doc_id"))
                  & (F.col("pos") == F.col("f.pos"))))
        .select("doc_id", "pos")
    )
    cov = (
        dups.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"),
                                 F.col("pos") + (n - 1))).alias("cpos"))
        .distinct()
    )
    rm = cov.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("cpos")).alias("_rm"))
    joined = docs.join(rm.withColumnRenamed("doc_id", id_col),
                       id_col, "left")
    # kept positions via array_except (hash-based, ~O(n)) rather than
    # filtering tokens with array_contains (a linear scan per token —
    # O(n_tokens * n_removed), quadratic on long boilerplate docs);
    # array_except preserves the left array's order, and element_at on
    # the MATERIALIZED token array is O(1). The two-step projection
    # matters: like shingle_df, the token array must be computed once
    # per row, not re-inlined into every element_at call.
    pre = joined.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        F.coalesce("_rm", F.array().cast("array<int>")).alias("_rmp"),
    )
    tcol = F.col("_toks")
    all_pos = F.when(
        F.size(tcol) > 0,
        F.sequence(F.lit(0), F.size(tcol) - 1),
    ).otherwise(F.array().cast("array<int>"))
    kept_pos = F.array_except(all_pos, F.col("_rmp"))
    kept = F.transform(kept_pos, lambda p: F.element_at(tcol, p + 1))
    return pre.select(
        "doc_id",
        F.array_join(kept, " ").alias("text"),
        F.size(tcol).alias("n_tokens"),
        F.size(F.col("_rmp")).alias("n_removed"),
    )
