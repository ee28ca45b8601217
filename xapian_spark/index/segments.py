"""Segmented chunk-encoded index: build, manifest, resume, merge.

The scale-path index representation. Layout:

    <path>/chunks/      one row per posting CHUNK (not per posting):
        term STRING, seg_id INT, first_doc_id LONG, last_doc_id LONG,
        n INT, cf LONG, max_wdf INT, min_doclen LONG, data BINARY
    <path>/manifest/    one row per built segment (lineage + metrics):
        seg_id INT, n_docs LONG, n_postings LONG, n_chunks LONG,
        n_terms LONG, bytes LONG, checksum LONG, build_sec DOUBLE,
        input_desc STRING

Design (SURVEY §4.3 / §7):
- A segment = one sub-database of the reference's multi-database model;
  docids are interleaved across segments exactly like the reference
  (`subdb = (did-1) % N`, xapian-core/matcher/multimatch.cc:175-176),
  so segment membership is a pure function of doc_id — deterministic,
  resumable, no coordination.
- One pipeline writes every segment, as every flush goes through the
  reference's Inverter (backends/brass/brass_inverter.h:45-249):
  _route_segments gives each segment one task, build.py's _doc_postings
  turns its docs into posting rows, and _encode_segment sorts them and
  delta+vbyte encodes ~2000-byte chunks (brass_postlist.cc:93) with
  block-max metadata (codec.py). compact re-encodes through the same
  router and encoder.
- Doclens are stored as chunks of the reserved empty term "" — the
  reference likewise keeps doclens inside the postlist table
  (brass_postlist.cc doclen chunks).
- The global term dictionary = a metadata-only groupBy(term) over chunk
  rows (each row ~2KB regardless of term frequency, so head-term skew
  cannot produce a giant shuffle row — the chunk rows of "the" spread
  across many partitions; only their tiny (tf, cf) aggregates meet).
- Resume: re-running build_segments with the same args skips segments
  already recorded in the manifest (checkpointed segment manifests —
  the analog of revisioned B-trees + changesets, brass_version.cc).

One wide op inverts the whole index: the router's shuffle of
(doc_id, text, seg_id) rows, with tokenizing after it, so the input is
evaluated once. Everything downstream is metadata-only aggregation over
chunk rows. Measured (perfbench --trace 1, local[4], 400 docs, 4
segments), a fresh build runs 10 Spark jobs: the format.json stamp, the
chunks write and its adaptive query stages, the manifest write, and
SegmentIndex's read-back of format.json (schema inference, then head).
The first term_stats() adds 4 more.
"""

from __future__ import annotations

import time
from functools import cached_property
from typing import Callable, Iterable, Optional, Tuple

import numpy as np

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from xapian_spark.index.build import (
    DOCLEN_TERM, _doc_postings, resolve_analyzer,
)
from xapian_spark.index.codec import (
    CHUNK_TARGET_BYTES, CODEC_VERSION, decode_chunk, decode_positions,
    encode_chunks, encode_positions,
)
from xapian_spark.index.termdict import (
    TermFreqs, collect_term_dict, term_freqs,
)

CHUNKS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("seg_id", IntegerType(), False),
    StructField("first_doc_id", LongType(), False),
    StructField("last_doc_id", LongType(), False),
    StructField("n", IntegerType(), False),
    StructField("cf", LongType(), False),
    StructField("max_wdf", IntegerType(), False),
    StructField("min_doclen", LongType(), False),
    StructField("data", BinaryType(), False),
    StructField("pos_data", BinaryType(), True),
])

# one row per posting, decoded from chunk rows (the flat postings layout
# plus the source seg_id the tombstone anti-join needs)
DECODED_SCHEMA = ("term string, doc_id long, wdf int, doclen long,"
                  " seg_id int, positions array<int>")

MANIFEST_SCHEMA = StructType([
    StructField("seg_id", IntegerType(), False),
    StructField("n_docs", LongType(), False),
    StructField("n_postings", LongType(), False),
    StructField("n_chunks", LongType(), False),
    StructField("n_terms", LongType(), False),
    StructField("bytes", LongType(), False),
    StructField("checksum", LongType(), False),
    StructField("build_sec", DoubleType(), False),
    StructField("input_desc", StringType(), True),
])


def _hadoop_fs(spark: SparkSession, path: str) -> Tuple:
    """(Hadoop FileSystem, Path) for `path` — the one handle behind the
    existence checks, listings and deletes below."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem existence check via the Hadoop FS API — used instead
    of catching AnalysisException, so an existing-but-corrupt table
    raises loudly rather than silently reading as absent (tombstones
    that silently read as absent would resurrect deleted docs)."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _read_optional_parquet(spark: SparkSession, path: str
                           ) -> Optional[DataFrame]:
    """None iff `path` does not exist; any OTHER read failure (empty
    directory from a partial write, schema corruption) propagates."""
    if not _path_exists(spark, path):
        return None
    return spark.read.parquet(path)


def _read_optional_partitioned(spark: SparkSession, path: str,
                               partition_prefix: str
                               ) -> Optional[DataFrame]:
    """Like _read_optional_parquet for partitionBy-written tables,
    where "exists but holds ZERO partition directories" is a
    legitimate empty state (e.g. tombstone_deltas after a delete of
    never-indexed ids wrote an empty batch): returns None for both
    path-absent and no-partitions; a dir WITH partitions still reads
    strictly (corruption raises)."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    if not any(st.getPath().getName().startswith(partition_prefix)
               for st in fs.listStatus(hpath)):
        return None
    return spark.read.parquet(path)


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete a path if it exists (Hadoop FS)."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


def _write_dynamic_overwrite(df: DataFrame, path: str,
                             partition_col: str) -> None:
    """Overwrite exactly the `partition_col` partitions present in `df`
    (dynamic partition overwrite) — the idempotent-replay write used by
    the chunk builder and the delete two-phase commit."""
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        (df.write.mode("overwrite").partitionBy(partition_col)
         .parquet(path))
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def _stamp_format(spark: SparkSession, path: str) -> None:
    """Record the chunk-codec version beside the chunks (format.json,
    one row) so a later reader can refuse incompatible data.

    Built from range(1), NOT createDataFrame([...]): a driver-list
    DataFrame parallelizes into defaultParallelism Python-RDD slices,
    and coalesce(1) then runs every slice's Python worker round-trip
    sequentially in one task — measured ~6 s per stamp at local[32]
    (this single line was most of round 2's segment_build regression).
    range(1) is a pure-JVM single-partition source: same file, ~0.1 s."""
    (spark.range(1)
     .select(F.lit(int(CODEC_VERSION)).alias("codec"))
     .write.mode("overwrite").json(f"{path}/format.json"))


def _check_format(spark: SparkSession, path: str) -> None:
    try:
        row = spark.read.json(f"{path}/format.json").head()
    except AnalysisException:
        raise ValueError(
            f"{path}: no format.json — this index predates the v2 "
            "chunk codec (first entry absolute vs docid-1) and would "
            "decode every docid off by one; rebuild it") from None
    v = int(row["codec"]) if row is not None else None
    if v != CODEC_VERSION:
        raise ValueError(
            f"{path}: chunk codec v{v} is not supported by this "
            f"reader (expects v{CODEC_VERSION}); rebuild the index")


def _segment_of(doc_id: Column, n_segments: int, offset: int = 0
                ) -> Column:
    """seg_id = offset + (doc_id - 1) mod n_segments — the reference's
    multi-database interleave (multimatch.cc:175-176); pmod puts doc_id
    0 in segment n_segments - 1. The one docid→segment rule: the build
    and compact both assign segments with it."""
    return (F.lit(offset)
            + F.pmod(doc_id.cast("long") - 1, F.lit(n_segments))
            ).cast("int")


def _encode_term(rows: dict, term: str, seg_id: int, ids: np.ndarray,
                 wdf: np.ndarray, doclen: np.ndarray, positions,
                 target_bytes: int) -> None:
    """One term's docid-ascending postings within one segment → chunk
    rows appended to `rows` (CHUNKS_SCHEMA columns); _encode_segment
    calls it once per term.

    Per-chunk cf = Σ wdf, so the global term dictionary is a
    metadata-only sum. The doclen pseudo-term stores each doc's doclen
    in the wdf slot, so the same rule makes its cf = Σ doclen (global
    total_doclen is a metadata-only sum too) and its max_wdf /
    min_doclen the doclen upper/lower bounds. positions=None stores
    no pos_data."""
    pos = 0
    for c in encode_chunks(ids, wdf, doclen, target_bytes):
        rows["term"].append(term)
        rows["seg_id"].append(seg_id)
        rows["first_doc_id"].append(c.first_doc_id)
        rows["last_doc_id"].append(c.last_doc_id)
        rows["n"].append(c.n)
        rows["cf"].append(int(wdf[pos: pos + c.n].sum()))
        rows["max_wdf"].append(c.max_wdf)
        rows["min_doclen"].append(c.min_doclen)
        rows["data"].append(c.data)
        rows["pos_data"].append(
            None if positions is None
            else encode_positions(positions[pos: pos + c.n]))
        pos += c.n


def _decode_chunk_rows(pdf):
    """Chunk rows (term, seg_id, data, pos_data) → one row per posting
    (DECODED_SCHEMA). The one chunk reader behind to_postings, doclens
    and compact; positions is NULL for chunks stored without
    pos_data."""
    import pandas as pd

    ids_l, w_l, dl_l, pos_l = [], [], [], []
    for data, pdata in zip(pdf["data"], pdf["pos_data"]):
        ids, wdf, dl = decode_chunk(bytes(data))
        ids_l.append(ids)
        w_l.append(wdf)
        dl_l.append(dl)
        pos_l.extend([None] * ids.size if pdata is None
                     else decode_positions(bytes(pdata), ids.size))
    counts = [a.size for a in ids_l]
    return pd.DataFrame({
        "term": np.repeat(pdf["term"].to_numpy(), counts),
        "doc_id": np.concatenate(ids_l),
        "wdf": np.concatenate(w_l),
        "doclen": np.concatenate(dl_l),
        "seg_id": np.repeat(pdf["seg_id"].to_numpy(), counts),
        "positions": pos_l,
    })


def _encode_segment(seg_id: int, postings, target_bytes: int):
    """One segment's posting rows (pandas: term, doc_id, wdf, doclen,
    positions; any order, at least one row) → its chunk rows (pandas,
    CHUNKS_SCHEMA): one sort by (term, doc_id), then _encode_term per
    term slice. A term stores pos_data iff any posting has positions.
    Callers: the build (so replace and the streaming drain), compact."""
    import pandas as pd

    p = postings.sort_values(["term", "doc_id"], ignore_index=True)
    terms = p["term"].to_numpy()
    ids = p["doc_id"].to_numpy(dtype=np.int64)
    wdf = p["wdf"].to_numpy(dtype=np.int64)
    doclen = p["doclen"].to_numpy(dtype=np.int64)
    positions = p["positions"].to_numpy()
    cuts = np.flatnonzero(terms[1:] != terms[:-1]) + 1
    rows = {k.name: [] for k in CHUNKS_SCHEMA.fields}
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, terms.size]):
        plists = positions[lo:hi]
        has_pos = any(pl is not None for pl in plists)
        _encode_term(rows, terms[lo], seg_id, ids[lo:hi], wdf[lo:hi],
                     doclen[lo:hi], plists if has_pos else None,
                     target_bytes)
    return pd.DataFrame(rows)


def _route_segments(rows: DataFrame, n: int, kernel: Callable,
                    schema) -> DataFrame:
    """kernel(seg_id, pdf) → pandas rows, once per seg_id over all of
    its rows: the segment router of the build, compact and WAND.
    repartitionById sends a row to partition seg_id mod n with no
    sampling job (a range partitioning evaluates its input twice), and
    AQE keeps its explicit count (it coalesces a groupBy(seg_id)
    shuffle into one task). n consecutive seg_ids get a task each."""

    def gen(batches):
        import pandas as pd

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        for seg, g in pdf.groupby("seg_id", sort=True):
            yield kernel(int(seg), g)

    return rows.repartitionById(n, "seg_id").mapInPandas(gen, schema)


def _write_manifest(chunks: DataFrame, path: str, build_sec: float,
                    input_desc: str, mode: str) -> None:
    """Per-segment manifest rows (lineage + metrics) aggregated from
    chunk rows — the one manifest writer for build and compact."""
    (chunks.groupBy("seg_id").agg(
        F.sum(F.when(F.col("term") == DOCLEN_TERM, F.col("n"))
              .otherwise(0)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("term") != DOCLEN_TERM, F.col("n"))
              .otherwise(0)).cast("long").alias("n_postings"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count_distinct(
            F.when(F.col("term") != DOCLEN_TERM, F.col("term"))
        ).cast("long").alias("n_terms"),
        F.sum(F.length("data")).cast("long").alias("bytes"),
        # order-independent checksum: Σ crc32(data) — stable across
        # shuffles and engines
        (F.sum(F.crc32("data")) % F.lit(2**63 - 1))
        .cast("long").alias("checksum"),
    )
     .withColumn("build_sec", F.lit(float(build_sec)))
     .withColumn("input_desc", F.lit(input_desc))
     .select([f.name for f in MANIFEST_SCHEMA.fields])
     .write.mode(mode).parquet(f"{path}/manifest"))


class SegmentIndex:
    """A chunk-encoded, segmented index on disk."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        _check_format(spark, path)
        self.chunks = spark.read.parquet(f"{path}/chunks")
        self._stats = None
        self._term_stats = None

    # -- derived tables (metadata-only aggregations) -----------------------

    @property
    def postings_chunks(self) -> DataFrame:
        return self.chunks.filter(F.col("term") != DOCLEN_TERM)

    @property
    def doclen_chunks(self) -> DataFrame:
        return self.chunks.filter(F.col("term") == DOCLEN_TERM)

    def _tombstones_raw(self) -> Optional[DataFrame]:
        """Raw (doc_id, before_seg, batch_id) rows, or None when the
        table doesn't exist. The tombstones table is the COMMIT marker
        of a delete batch: a tombstone_deltas batch with no matching
        tombstone batch is an uncommitted partial write and is ignored
        (see delete_documents)."""
        return _read_optional_partitioned(
            self.spark, f"{self.path}/tombstones", "batch_id=")

    def tombstones(self) -> Optional[DataFrame]:
        """(doc_id, before_seg): doc_id is deleted from every segment
        with seg_id <= before_seg (segments appended AFTER the delete —
        a replace — are live). None when no deletes exist."""
        t = self._tombstones_raw()
        if t is None:
            return None
        return t.groupBy("doc_id").agg(
            F.max("before_seg").alias("before_seg"))

    # _dead_arrays is a driver-side collect; the documented contract
    # is a SMALL delete/replace queue purged at compact(). This bound
    # makes the contract self-enforcing instead of silently OOMing
    # the driver at pathological churn (~10^7 tombstones ≈ 160 MB of
    # int64 pairs — far past any sane uncompacted backlog).
    MAX_TOMBSTONES = 10_000_000

    def _dead_arrays(self):
        """Driver-side (sorted doc_ids, before_seg) numpy pair for the
        WAND kernel, or None. Tombstones are a small delete/replace
        queue purged at compact() — not corpus-scale; past
        MAX_TOMBSTONES this raises and asks for a compact() first.
        Collected once per index view: a delete or replace returns a
        new SegmentIndex, so the cache never goes stale."""
        return self._dead

    @cached_property
    def _dead(self):
        t = self.tombstones()
        if t is None:
            return None
        if (t.limit(self.MAX_TOMBSTONES + 1).count()
                > self.MAX_TOMBSTONES):
            raise RuntimeError(
                f"tombstone queue exceeds {self.MAX_TOMBSTONES} docs;"
                " run compact() to fold deletes into the segments"
                " before querying")
        rows = t.orderBy("doc_id").collect()
        if not rows:
            return None
        return (np.array([r["doc_id"] for r in rows], dtype=np.int64),
                np.array([r["before_seg"] for r in rows],
                         dtype=np.int64))

    def _deltas(self) -> Optional[DataFrame]:
        """Per-term (tf_delta, cf_delta) of tombstoned postings —
        written by delete_documents from a block-range-pruned decode,
        so term_stats/stats stay exact without a full decode. Only
        batches whose tombstone rows committed count: a crash between
        the deltas write and the tombstones write leaves an orphan
        batch that is ignored here and overwritten by the retry."""
        d = _read_optional_partitioned(
            self.spark, f"{self.path}/tombstone_deltas", "batch_id=")
        t = self._tombstones_raw()
        if d is None or t is None:
            return None
        committed = F.broadcast(t.select("batch_id").distinct())
        return (d.join(committed, "batch_id")
                .groupBy("term").agg(
                    F.sum("tf_delta").alias("tf_delta"),
                    F.sum("cf_delta").alias("cf_delta")))

    def term_stats(self) -> DataFrame:
        """Global term dictionary: term → (tf, cf) from chunk metadata
        minus tombstone deltas (cached — queries hit it once per term
        set)."""
        if self._term_stats is None:
            ts = self.postings_chunks.groupBy("term").agg(
                F.sum("n").cast("long").alias("tf"),
                F.sum("cf").cast("long").alias("cf"),
            )
            d = self._deltas()
            if d is not None:
                ts = (ts.join(d.filter(F.col("term") != DOCLEN_TERM),
                              "term", "left")
                      .fillna(0, subset=["tf_delta", "cf_delta"])
                      .select(
                          "term",
                          (F.col("tf") - F.col("tf_delta"))
                          .cast("long").alias("tf"),
                          (F.col("cf") - F.col("cf_delta"))
                          .cast("long").alias("cf"))
                      .filter(F.col("tf") > 0))
            self._term_stats = ts.persist()
        return self._term_stats

    @cached_property
    def _term_dict(self) -> Optional[TermFreqs]:
        return collect_term_dict(self.term_stats())

    def term_freqs(self, terms: Iterable[str]) -> TermFreqs:
        """term → (tf, cf) for the indexed terms among `terms`, from the
        driver-side term dictionary collected once per SegmentIndex —
        no Spark job per query below TERM_DICT_CACHE_MAX terms."""
        return term_freqs(self.term_stats(), self._term_dict, terms)

    def stats(self):
        from xapian_spark.index.build import IndexStats

        if self._stats is None:
            row = self.doclen_chunks.agg(
                F.coalesce(F.sum("n"), F.lit(0)).alias("doccount"),
                F.coalesce(F.sum("cf"), F.lit(0)).alias("total_doclen"),
                F.coalesce(F.min("min_doclen"), F.lit(0)).alias("dl_lb"),
                F.coalesce(F.max("max_wdf"), F.lit(0)).alias("dl_ub"),
                F.coalesce(F.max("seg_id") + 1, F.lit(0)).alias("seg_span"),
            ).head()
            self._seg_span = row.seg_span
            doccount, total_doclen = row.doccount, row.total_doclen
            d = self._deltas()
            if d is not None:
                dr = d.filter(F.col("term") == DOCLEN_TERM).head()
                if dr is not None:
                    doccount -= dr["tf_delta"]
                    total_doclen -= dr["cf_delta"]
            wdf_ub = (self.postings_chunks.agg(F.max("max_wdf")).head()[0]
                      or 0)
            # doclen bounds stay the pre-delete ones: bounds may be
            # loose after a delete but never invalid (they are only
            # upper/lower bounds for WAND pruning)
            self._stats = IndexStats(
                doccount, total_doclen, row.dl_lb, row.dl_ub, wdf_ub)
        return self._stats

    def _segment_span(self) -> int:
        """max(seg_id) + 1: the segment count when seg_ids are
        contiguous from 0, as build, replace and compact leave them
        (cached with stats(), so no extra job)."""
        self.stats()
        return self._seg_span

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/manifest")

    # -- user metadata K/V (brass_metadata.cc / database.h:371-387) -------

    def _metadata_df(self) -> Optional[DataFrame]:
        return _read_optional_parquet(self.spark, f"{self.path}/metadata")

    def set_metadata(self, key: str, value: str) -> None:
        """WritableDatabase::set_metadata analog: last-write-wins via a
        monotonically increasing revision (append-only storage — the
        changesets model). An empty value deletes the key, exactly as
        the reference specifies."""
        m = self._metadata_df()
        rev = 0
        if m is not None:
            rev = (m.agg(F.max("rev")).head()[0] or 0) + 1
        # range(1)-based 1-row frame: pure JVM, no Python-RDD slices
        (self.spark.range(1)
         .select(F.lit(key).alias("key"), F.lit(value).alias("value"),
                 F.lit(rev).cast("long").alias("rev"))
         .write.mode("append").parquet(f"{self.path}/metadata"))

    def get_metadata(self, key: str) -> str:
        """Database::get_metadata: '' for absent (or deleted) keys."""
        m = self._metadata_df()
        if m is None:
            return ""
        row = (m.filter(F.col("key") == key)
               .orderBy(F.desc("rev")).select("value").head())
        return row["value"] if row is not None else ""

    def metadata_keys(self, prefix: str = "") -> DataFrame:
        """Database::metadata_keys_begin(prefix) analog: the live
        (non-empty latest value) keys with the prefix, sorted."""
        m = self._metadata_df()
        if m is None:
            return self.spark.createDataFrame([], "key string")
        from pyspark.sql.window import Window

        w = Window.partitionBy("key").orderBy(F.desc("rev"))
        return (m.filter(F.col("key").startswith(prefix))
                .withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") == 1) & (F.col("value") != ""))
                .select("key").orderBy("key"))

    def _decode(self, chunks: DataFrame) -> DataFrame:
        """Chunk rows → live posting rows (DECODED_SCHEMA): the shared
        chunk reader followed by the tombstone anti-join."""

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield _decode_chunk_rows(pdf)

        rows = (chunks.select("term", "seg_id", "data", "pos_data")
                .mapInPandas(gen, DECODED_SCHEMA))
        return self._filter_tombstoned(rows)

    def to_postings(self) -> DataFrame:
        """Decode chunks → row-per-posting DataFrame
        (term, doc_id, wdf, doclen, positions) — the flat InvertedIndex
        layout; positions are NULL unless built with keep_positions.
        Lazily evaluated; a `term` filter above it prunes chunk rows
        before any decode runs."""
        return self._decode(self.postings_chunks).drop("seg_id")

    def _filter_tombstoned(self, rows: DataFrame) -> DataFrame:
        """Drop tombstoned (doc_id, seg_id <= before_seg) rows — a
        broadcast anti-join against the (small) tombstone table."""
        t = self.tombstones()
        if t is None:
            return rows
        t = F.broadcast(t.select(
            F.col("doc_id").alias("_t_doc"),
            F.col("before_seg").alias("_t_seg")))
        return (rows.join(
            t, (rows["doc_id"] == t["_t_doc"])
            & (rows["seg_id"] <= t["_t_seg"]), "left_anti"))

    def to_inverted_index(self, docs: Optional[DataFrame] = None):
        """Full-featured query view over the chunk storage: an
        InvertedIndex whose postings decode on demand, so the entire
        executor algebra (boolean trees, collapse, facets, expand,
        every weighting scheme) runs against the segment index.
        Phrase/NEAR work when the index was built with
        keep_positions=True (positions ride in per-chunk pos_data,
        the brass position-table analog)."""
        from xapian_spark.index.build import InvertedIndex

        view = InvertedIndex(self.to_postings(), self.doclens(),
                             self.term_stats(), self.stats(), docs=docs)
        if "_term_dict" in self.__dict__:
            # the dictionary this index already collected: a view's
            # Enquire gathers stats without collecting it again
            view._term_dict = self._term_dict
        return view

    def doclens(self) -> DataFrame:
        """(doc_id, doclen) decoded straight from the doclen pseudo-term
        chunks — no full-postings decode, no shuffle (each doc's length
        lives in exactly one chunk of one segment)."""
        return self._decode(self.doclen_chunks).select("doc_id", "doclen")


def compact(
    index: "SegmentIndex",
    out_path: str,
    n_segments: int = 0,
    target_bytes: int = CHUNK_TARGET_BYTES,
) -> "SegmentIndex":
    """xapian-compact analog (backends/brass/brass_compact.cc:83-951,
    api/compactor.cc): merge a many-segment index into `n_segments`
    fuller segments — per-term posting lists re-merged docid-ascending
    and re-encoded into ~target_bytes chunks (the k-way priority-queue
    merge of the reference becomes one decode → route → re-encode
    pass through the build's segment router and chunk encoder; tf/cf
    re-derive from chunk metadata as before).

    Head-term skew note: the unit of shuffle is the (doc, term) posting
    row, re-keyed by the doc's NEW segment — a term's postings spread
    across all output segments, so no single task ever holds a full
    head-term posting list (the same property the salted multipass
    merge of brass_compact.cc:679-730 buys).
    """
    spark = index.spark
    if not n_segments:
        n_segments = max(1, index.chunks.select("seg_id")
                         .distinct().count() // 4)

    t0 = time.time()
    # _decode drops tombstoned postings: compact is where deletes are
    # physically reclaimed (brass_compact's role for changesets)
    postings = index._decode(index.chunks).withColumn(
        "seg_id", _segment_of(F.col("doc_id"), n_segments))
    (_route_segments(
        postings, n_segments,
        lambda seg, pdf: _encode_segment(seg, pdf, target_bytes),
        CHUNKS_SCHEMA)
     .write.mode("overwrite").partitionBy("seg_id")
     .parquet(f"{out_path}/chunks"))
    _write_manifest(spark.read.parquet(f"{out_path}/chunks"), out_path,
                    time.time() - t0, f"compact of {index.path}",
                    "overwrite")
    # preserve user metadata across compaction, as the reference's
    # Compactor does (api/compactor.cc:175 resolve_duplicate_metadata):
    # keep each key's latest-revision value, drop deleted (empty) keys,
    # restart the revision counter at 0 in the compacted index.
    meta = index._metadata_df()
    if meta is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("key").orderBy(F.desc("rev"))
        (meta.withColumn("_rn", F.row_number().over(w))
         .filter((F.col("_rn") == 1) & (F.col("value") != ""))
         .select("key", "value", F.lit(0).cast("long").alias("rev"))
         .write.mode("overwrite").parquet(f"{out_path}/metadata"))
    _stamp_format(spark, out_path)
    return SegmentIndex(spark, out_path)


def build_segments(
    docs: DataFrame,
    path: str,
    n_segments: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer="xapian",
    target_bytes: int = CHUNK_TARGET_BYTES,
    input_desc: Optional[str] = None,
    resume: bool = True,
    seg_id_offset: int = 0,
    keep_positions: bool = False,
) -> SegmentIndex:
    """Build (or resume building) a SegmentIndex at `path`.

    seg_id = seg_id_offset + (doc_id - 1) % n_segments — the
    reference's multi-database interleave (multimatch.cc:175-176):
    deterministic, so a re-run with `resume=True` skips any seg_id
    already in the manifest and only builds the missing segments.
    `seg_id_offset` lets incremental/streaming commits append disjoint
    segment ranges (the flush-threshold batch analog,
    brass_database.cc:1395-1430).
    """
    spark = docs.sparkSession
    # Appending onto an existing index (resume, streaming drain,
    # replace_documents) must refuse a pre-v2 path BEFORE writing:
    # otherwise the mixed index gets stamped with the current codec
    # version at the end and every old chunk silently decodes its
    # docids off by one — the exact corruption _check_format exists to
    # prevent, caught here at write time rather than first read.
    if (_path_exists(spark, f"{path}/chunks")
            or _path_exists(spark, f"{path}/manifest")):
        _check_format(spark, path)
    else:
        # fresh path: stamp BEFORE writing any chunks, so a crash
        # mid-build leaves a resumable (stamped) partial index rather
        # than chunks with no format.json that the guard above rejects
        _stamp_format(spark, path)
    if not n_segments:
        n_segments = max(docs.rdd.getNumPartitions(), 1)
    fn = resolve_analyzer(analyzer)

    done: set = set()
    if resume:
        try:
            man_df = _read_optional_parquet(spark, f"{path}/manifest")
            if man_df is not None:
                done = {r.seg_id
                        for r in man_df.select("seg_id").collect()}
        except AnalysisException:
            # a crash DURING the manifest append can leave an
            # unreadable directory (only _temporary staging inside);
            # rebuilding everything is SAFE here — chunk writes are
            # idempotent dynamic-partition overwrites — so unlike the
            # tombstone readers, this reader may treat unreadable as
            # empty rather than refuse
            done = set()

    tagged = docs.select(
        F.col(id_col).cast("long").alias(id_col), text_col,
        _segment_of(F.col(id_col), n_segments, seg_id_offset)
        .alias("seg_id"),
    )
    todo = tagged.filter(~F.col("seg_id").isin(list(done))) if done \
        else tagged

    if not done or todo.limit(1).count() > 0:
        t0 = time.time()

        def invert(seg, pdf):
            return _encode_segment(
                seg, _doc_postings(pdf, id_col, text_col, fn,
                                   keep_positions, doclen_rows=True),
                target_bytes)

        # One segment per task: the n_segments seg_ids are consecutive,
        # so the router maps them 1:1 onto n_segments partitions (hash
        # partitioning via groupBy Poisson-collides segments into shared
        # tasks and the max-loaded task gates the build — measured 2x
        # slower at 32 cores). The shuffle moves only (doc_id, text,
        # seg_id); the CPU-heavy tokenize and encode run after it,
        # balanced, one task per segment.
        chunk_df = _route_segments(todo, n_segments, invert,
                                   CHUNKS_SCHEMA)
        # Idempotent per-segment commit: dynamic partition overwrite
        # replaces exactly the seg_id partitions present in chunk_df,
        # so a crash (or foreachBatch retry) after the chunks write but
        # before the manifest append leaves orphan rows that the replay
        # OVERWRITES rather than duplicates — postings can never be
        # double-counted. Manifested segments are excluded from `todo`
        # and therefore never touched.
        _write_dynamic_overwrite(chunk_df, f"{path}/chunks", "seg_id")
        build_sec = time.time() - t0

        # manifest rows for the newly built segments
        built = spark.read.parquet(f"{path}/chunks")
        if done:
            built = built.filter(~F.col("seg_id").isin(list(done)))
        _write_manifest(built, path, build_sec,
                        input_desc or "unspecified", "append")

    return SegmentIndex(spark, path)


def delete_documents(index: SegmentIndex, doc_ids: Iterable[int]
                     ) -> SegmentIndex:
    """Tombstone delete (BrassWritableDatabase::delete_document,
    backends/brass/brass_database.cc:1105-1163, re-expressed for
    immutable segment storage):

    - the doc_ids are appended to `{path}/tombstones` with
      before_seg = the current max seg_id, so segments appended LATER
      (a replace) stay live for the same docid;
    - exact per-term stat deltas are computed by decoding ONLY the
      chunks whose block range [first_doc_id, last_doc_id] covers a
      deleted docid (the block-max metadata doubles as a delete
      index) and appended to `{path}/tombstone_deltas` — term_stats /
      stats subtract them, keeping BM25 exact without a rebuild;
    - postings stay on disk until `compact()` purges them (the
      reference's "deletes are cheap, space is reclaimed by
      compaction" model).

    Returns a fresh SegmentIndex view of the same path.
    """
    spark = index.spark
    ids = sorted({int(d) for d in doc_ids})
    cur_max = index.chunks.agg(F.max("seg_id")).head()[0]
    existing = index.tombstones()
    prior: dict = {}
    if existing is not None and ids:
        prior = {r["doc_id"]: r["before_seg"] for r in existing.filter(
            F.col("doc_id").isin(ids)).collect()}
        # a doc whose tombstone already covers every current segment is
        # fully dead — re-deleting it must not double the stat deltas.
        # But a doc RESURRECTED by a later replace (segments appended
        # past its before_seg) is live again and must be re-tombstoned,
        # with deltas counted only over those newer segments.
        ids = [d for d in ids if prior.get(d, -1) < cur_max]
    if not ids:
        return SegmentIndex(spark, index.path)

    before_seg = cur_max
    dead = np.array(ids, dtype=np.int64)
    minseg = np.array([prior.get(d, -1) for d in ids], dtype=np.int64)
    b = spark.sparkContext.broadcast((dead, minseg))

    def gen(batches):
        import pandas as pd

        dd, ms = b.value
        for pdf in batches:
            terms, tfd, cfd = [], [], []
            for term, seg, first, last, data in zip(
                    pdf["term"], pdf["seg_id"], pdf["first_doc_id"],
                    pdf["last_doc_id"], pdf["data"]):
                lo = np.searchsorted(dd, first)
                if lo >= dd.size or dd[lo] > last:
                    continue  # block range holds no deleted doc
                cids, wdfs, _dls = decode_chunk(bytes(data))
                idx = np.searchsorted(dd, cids)
                m = idx < dd.size
                m[m] = dd[idx[m]] == cids[m]
                # postings in segments at/below the doc's PRIOR
                # tombstone were already delta'd by that delete
                m[m] = ms[idx[m]] < int(seg)
                if not m.any():
                    continue
                terms.append(term)
                tfd.append(int(m.sum()))
                # doclen pseudo chunks store doclen in the wdf slot, so
                # cf_delta is Σ wdf for real terms AND Σ doclen for the
                # doclen term with the same expression
                cfd.append(int(wdfs[m].sum()))
            yield pd.DataFrame(
                {"term": terms, "tf_delta": tfd, "cf_delta": cfd})

    deltas = (index.chunks
              .select("term", "seg_id", "first_doc_id", "last_doc_id",
                      "data")
              .mapInPandas(gen,
                           "term string, tf_delta long, cf_delta long")
              .groupBy("term").agg(
                  F.sum("tf_delta").alias("tf_delta"),
                  F.sum("cf_delta").alias("cf_delta")))
    # Two-phase batched commit (crash-safe AND retry-idempotent):
    # batch_id = max committed batch + 1. Phase 1 writes the stat
    # deltas under that batch_id with dynamic-partition OVERWRITE — a
    # retried delete replaces the orphan partition rather than
    # appending a second copy. Phase 2 writes the tombstone rows, which
    # COMMIT the batch: _deltas() ignores any deltas batch that has no
    # matching tombstone batch, so a crash between the phases changes
    # neither document visibility nor stats, and the retry (same ids →
    # same batch_id, since the tombstones table is unchanged) replays
    # cleanly.
    raw = index._tombstones_raw()
    bid = 0
    if raw is not None:
        bid = int(raw.agg(F.max("batch_id")).head()[0] or 0) + 1
    # Pre-clean any orphan partition for this batch id BEFORE writing:
    # dynamic partition overwrite only replaces partitions PRESENT in
    # the new frame, so a retry whose deltas happen to be empty (e.g.
    # deleting ids that were never indexed) would otherwise leave a
    # stale orphan batch in place — which the tombstones write below
    # would then wrongly commit.
    _delete_path(spark,
                 f"{index.path}/tombstone_deltas/batch_id={bid}")
    _write_dynamic_overwrite(
        deltas.withColumn("batch_id", F.lit(bid)),
        f"{index.path}/tombstone_deltas", "batch_id")
    _write_dynamic_overwrite(
        spark.createDataFrame(
            [(d, int(before_seg), bid) for d in ids],
            "doc_id long, before_seg int, batch_id int"),
        f"{index.path}/tombstones", "batch_id")
    return SegmentIndex(spark, index.path)


def replace_documents(
    index: SegmentIndex,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer="xapian",
    n_segments: int = 1,
    keep_positions: bool = False,
) -> SegmentIndex:
    """BrassWritableDatabase::replace_document analog
    (brass_database.cc:1167-1230): delete the old postings (tombstone)
    and append the new versions as a fresh, disjoint segment range —
    the same docids, live only in segments past the tombstone's
    before_seg."""
    ids = [r[id_col] for r in docs.select(id_col).collect()]
    idx = delete_documents(index, ids)
    offset = (idx.chunks.agg(F.max("seg_id")).head()[0] or 0) + 1
    return build_segments(
        docs, idx.path, n_segments=n_segments, text_col=text_col,
        id_col=id_col, analyzer=analyzer,
        input_desc=f"replace {len(ids)} docs",
        seg_id_offset=offset, keep_positions=keep_positions)
