"""Inverted-index build: docs DataFrame → postings/doclens/term_stats/stats.

Spark restatement of the reference's add_document + commit path
(xapian-core/backends/brass/brass_database.cc:1046-1099 and the Inverter,
brass_inverter.h:45-249): tokenize → each doc's termlist, one
(term, wdf, positions) entry per distinct term → exploded posting rows;
doclen = Σ wdf over ALL of a doc's terms (including Z-stems,
brass_database.cc:1058-1071); global stats mirror brass_dbstats.h:41-61.

One tokenize path, shared with the segment build (segments.py): every
analyzer — a name in ANALYZERS ("xapian", the default TermGenerator rules;
"apitest"; "simple", lowercase + split on non-alnum, the DuckDB-oracle
tokenization) or any callable — resolves through resolve_analyzer and runs
per document through analyze_document, and _doc_postings turns a pandas
batch of documents into posting rows: per Arrow batch of a mapInPandas
here (no per-row Python UDF calls), per segment task in the segment build.

Scale notes (100 TB / 10^12 docs):
- the tokenize → explode stage is embarrassingly parallel (no shuffle);
- the postings are hash-partitioned by doc_id once, at build, into as
  many partitions as the tokenize input has. Every GROUP BY doc_id the
  executor plans (flat OR/AND/Max, phrase and NEAR position lists,
  synonym) and the doclens aggregation then run inside a partition, so
  a query over the persisted postings shuffles nothing;
- term_stats' groupBy(term) is the one aggregation that shuffles the
  postings;
- the flat index is not persisted: SegmentIndex (segments.py) is the one
  on-disk format, and its to_inverted_index() serves the same executor.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import cached_property
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from xapian_spark.index.termdict import TermFreqs, collect_term_dict

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("doc_id", LongType(), False),
    StructField("wdf", IntegerType(), False),
    StructField("doclen", LongType(), False),
    StructField("positions", ArrayType(IntegerType(), False), True),
])

# Matches the reference brass backend's max term length
# (brass_database.cc:88); longer terms are dropped at index time.
MAX_SAFE_TERM_LENGTH = 245

# reserved pseudo-term: the segment index stores each doc's doclen as a
# posting of it, so analyze_document drops it from every termlist
DOCLEN_TERM = ""


def xapian_analyzer(text: str):
    """TermGenerator STEM_SOME with english stemmer → [(term, wdf, pos[])]."""
    from xapian_spark.analysis.tokenizer import TermGenerator

    tg = _get_termgen()
    doc = tg.index_text(text or "")
    return [
        (term, wdf, positions)
        for term, (wdf, positions) in doc.terms.items()
    ]


_TERMGEN = None


def _get_termgen():
    global _TERMGEN
    if _TERMGEN is None:
        from xapian_spark.analysis.tokenizer import TermGenerator

        _TERMGEN = TermGenerator()
    return _TERMGEN


_TERMGEN_LANG: dict = {}


def multilingual_analyzer(text: str, lang: str):
    """TermGenerator with the Snowball stemmer matching the row's lang
    column (stem.cc:52-120 registry analog; en/de/fr/es — unknown
    languages index unstemmed). Used with build_index(lang_col=...)."""
    tg = _TERMGEN_LANG.get(lang)
    if tg is None:
        from xapian_spark.analysis.snowball import stemmer_for
        from xapian_spark.analysis.tokenizer import TermGenerator

        tg = TermGenerator(stemmer=stemmer_for(lang or ""))
        _TERMGEN_LANG[lang] = tg
    doc = tg.index_text(text or "")
    return [
        (term, wdf, positions)
        for term, (wdf, positions) in doc.terms.items()
    ]


def apitest_analyzer(text: str):
    """The reference test harness's indexing scheme
    (tests/harness/index_utils.cc:105-160): whitespace split, keep alnum
    (with backslash escapes), lowercase, english stem, sequential
    positions."""
    from xapian_spark.analysis.porter2 import stem

    terms = {}
    pos = 0
    for word in (text or "").split():
        munged = _munge_term(word)
        if not munged:
            continue
        stemmed = stem(munged)
        if not stemmed:
            continue
        pos += 1
        wdf, positions = terms.get(stemmed, (0, []))
        positions.append(pos)
        terms[stemmed] = (wdf + 1, positions)
    return [(t, wdf, positions) for t, (wdf, positions) in terms.items()]


def _munge_term(term: str) -> str:
    # index_utils.cc:118-160 munge_term: alnum kept lowercased, backslash
    # escapes \\ \0 \n \r \t \xNN pass through, everything else dropped.
    out = []
    i = 0
    n = len(term)
    while i < n:
        ch = term[i]
        if ch.isascii() and ch.isalnum():
            out.append(ch.lower())
        elif ch == "\\" and i + 1 < n:
            i += 1
            esc = term[i]
            if esc == "\\":
                out.append("\\")
            elif esc == "0":
                out.append("\0")
            elif esc == "n":
                out.append("\n")
            elif esc == "r":
                out.append("\r")
            elif esc == "t":
                out.append("\t")
            elif esc == "x" and i + 2 < n:
                try:
                    out.append(chr(int(term[i + 1: i + 3], 16)))
                    i += 2
                except ValueError:
                    out.append(esc)
            else:
                out.append(esc)
        i += 1
    return "".join(out)


# the DuckDB-parity tokenization: lowercase, split on runs of non-alnum
SIMPLE_SPLIT_RE = "[^a-z0-9]+"


def simple_analyzer(text: str):
    """Lowercase, split on SIMPLE_SPLIT_RE, sequential positions — the
    tokenization the DuckDB oracle SQL restates with lower/split, so an
    index built with it stays oracle-checkable."""
    terms = {}
    for i, tok in enumerate(
            t for t in re.split(SIMPLE_SPLIT_RE, (text or "").lower()) if t):
        wdf, positions = terms.get(tok, (0, []))
        positions.append(i + 1)
        terms[tok] = (wdf + 1, positions)
    return [(t, w, p) for t, (w, p) in terms.items()]


ANALYZERS = {
    "xapian": xapian_analyzer,
    "apitest": apitest_analyzer,
    "simple": simple_analyzer,
}


def resolve_analyzer(analyzer, lang_col: Optional[str] = None) -> Callable:
    """`analyzer` (a name in ANALYZERS or a callable) → the callable.
    With lang_col the analyzer is called as (text, lang); the default
    "xapian" then means multilingual_analyzer."""
    if lang_col:
        fn = multilingual_analyzer if analyzer in ("xapian", None) \
            else analyzer
        if not callable(fn):
            raise ValueError(
                f"lang_col needs a (text, lang) callable, got "
                f"{analyzer!r}")
        return fn
    fn = analyzer if callable(analyzer) else ANALYZERS.get(analyzer)
    if fn is None:
        raise ValueError(f"unknown analyzer: {analyzer!r}")
    return fn


def analyze_document(fn: Callable, *args) -> Tuple[List, int]:
    """One document through an analyzer → ([(term, wdf, positions)],
    doclen). Terms over MAX_SAFE_TERM_LENGTH bytes and the reserved
    DOCLEN_TERM are dropped, and doclen = Σ wdf over the kept terms
    (incl. Z-stems)."""
    tl = [(t, w, p) for t, w, p in fn(*args)
          if t != DOCLEN_TERM
          and len(t.encode("utf-8")) <= MAX_SAFE_TERM_LENGTH]
    return tl, sum(w for _t, w, _p in tl)


@dataclass
class IndexStats:
    """brass_dbstats.h:41-61 equivalents."""

    doccount: int
    total_doclen: int
    doclen_lbound: int
    doclen_ubound: int
    wdf_ubound: int

    @property
    def average_length(self) -> float:
        # brass_database.cc:726-735 get_avlength
        if self.doccount == 0:
            return 0.0
        return self.total_doclen / self.doccount


class InvertedIndex:
    """A built index: four DataFrames + cached scalar stats.

    `postings` holds one row per (term, doc_id) for unique doc ids:
    both builders (build_index and SegmentIndex.to_inverted_index)
    aggregate a document's occurrences of a term into one row, so the
    executor counts a document's matched distinct terms with count(1)."""

    def __init__(
        self,
        postings: DataFrame,
        doclens: DataFrame,
        term_stats: DataFrame,
        stats: IndexStats,
        docs: Optional[DataFrame] = None,
    ) -> None:
        self.postings = postings          # term, doc_id, wdf, positions
        self.doclens = doclens            # doc_id, doclen
        self.term_stats = term_stats      # term, tf, cf
        self.stats = stats
        self.docs = docs                  # optional forward/data table

    @cached_property
    def _term_dict(self) -> Optional[TermFreqs]:
        """term → (tf, cf), collected once per index (one job), so every
        Enquire over it gathers stats without a job; None past
        termdict.TERM_DICT_CACHE_MAX."""
        return collect_term_dict(self.term_stats)

    @cached_property
    def _sorted_terms(self) -> List[str]:
        """The term dictionary's terms in Spark's string order (UTF-8
        bytes, which is Python's code-point order)."""
        return sorted(self._term_dict)


def spread_input(docs: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the session's parallelism when
    the source layout yields fewer partitions than cores — a single
    small parquet file would otherwise serialize the CPU-heavy
    tokenize into ONE task (measured 17 s single-core vs ~1 s spread
    at sf0.1). No-op at scale, where input partitions >> cores."""
    return _spread(docs)[0]


def _spread(docs: DataFrame) -> Tuple[DataFrame, int]:
    """spread_input(docs) and its partition count, read from the plan
    without running a job."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    n = docs.rdd.getNumPartitions()
    if n < target:
        return docs.repartition(target), target
    return docs, n


def _doc_postings(pdf, id_col: str, text_col: str, analyzer: Callable,
                  keep_positions: bool, lang_col: Optional[str] = None,
                  doclen_rows: bool = False):
    """A pandas batch of documents → its posting rows (pandas,
    POSTINGS_SCHEMA columns). With lang_col the analyzer is called as
    analyzer(text, lang), per-row stemmer selection inside the batch.
    With doclen_rows each document, zero-term ones too, also yields a
    (DOCLEN_TERM, doc_id, doclen, doclen) row."""
    import pandas as pd

    ids, terms, wdfs, doclens, poss = [], [], [], [], []
    langs = pdf[lang_col] if lang_col else pdf[id_col]
    for doc_id, text, lang in zip(pdf[id_col], pdf[text_col], langs):
        # doclen known at tokenize time — denormalized into every
        # posting row so scoring never joins doclens at query time
        tl, doclen = analyze_document(analyzer, text, lang) \
            if lang_col else analyze_document(analyzer, text)
        if doclen_rows:
            tl.append((DOCLEN_TERM, doclen, None))
        for term, wdf, positions in tl:
            ids.append(doc_id)
            terms.append(term)
            wdfs.append(wdf)
            doclens.append(doclen)
            poss.append(positions if keep_positions else None)
    return pd.DataFrame({"term": terms, "doc_id": ids, "wdf": wdfs,
                         "doclen": doclens, "positions": poss})


def build_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer="xapian",
    keep_positions: bool = True,
    docs_as_data: bool = True,
    lang_col: str = None,
) -> InvertedIndex:
    """Build the four index tables from a (doc_id, text) DataFrame.

    `analyzer` is a name in ANALYZERS or a callable
    text -> [(term, wdf, positions)]. With `lang_col`, each row is
    analyzed with the Snowball stemmer for its language column
    (analyzer must accept (text, lang); default multilingual_analyzer).
    """
    fn = resolve_analyzer(analyzer, lang_col)
    cols = [F.col(id_col).cast("long").alias(id_col), F.col(text_col)]
    if lang_col:
        cols.append(F.col(lang_col))
    spread, n = _spread(docs.select(*cols))
    tokens = spread.mapInPandas(
        lambda batches: (_doc_postings(pdf, id_col, text_col, fn,
                                       keep_positions, lang_col)
                         for pdf in batches),
        POSTINGS_SCHEMA)
    # an explicit count makes this REPARTITION_BY_NUM, which AQE keeps
    # as is: the cached postings report HashPartitioning(doc_id, n)
    postings = tokens.repartition(n, "doc_id").persist()

    # doclen = Σ wdf over the doc's full termlist (incl. Z-stems); a doc
    # with no terms keeps doclen 0. Partition-local: no shuffle of the
    # postings.
    per_doc = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(
            postings.groupBy("doc_id").agg(
                F.sum("wdf").cast("long").alias("doclen"),
                F.max("wdf").alias("wdf_max")),
            "doc_id", "left")
        .fillna(0, subset=["doclen"])
    )
    doclens = per_doc.select("doc_id", "doclen")

    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.sum("wdf").cast("long").alias("cf"),
    )

    row = per_doc.agg(
        F.count(F.lit(1)).alias("doccount"),
        F.coalesce(F.sum("doclen"), F.lit(0)).alias("total_doclen"),
        F.coalesce(F.min("doclen"), F.lit(0)).alias("doclen_lb"),
        F.coalesce(F.max("doclen"), F.lit(0)).alias("doclen_ub"),
        F.coalesce(F.max("wdf_max"), F.lit(0)).alias("wdf_ub"),
    ).head()
    stats = IndexStats(row.doccount, row.total_doclen, row.doclen_lb,
                       row.doclen_ub, row.wdf_ub)

    return InvertedIndex(
        postings, doclens, term_stats, stats,
        docs=docs if docs_as_data else None,
    )
