"""ESet expansion (golden weights from the reference apitest),
spelling suggestion, wildcard, and extended MSet APIs.

expandweights goldens: xapian-core/tests/api_anydb.cc:326-458 —
RSet = top-2 docs for query "this" on apitest_simpledata; expected
trad(k=1) weights 6.08904001099445 ×2 then 4.73383620844021;
trad(k=2) 5.88109547674955 ×2 then 5.44473599216144;
bo1 7.21765284821702, 6.661623193760022, 5.58090119783738.
"""

import pytest
from pyspark.sql import functions as F

from xapian_spark.query import ops
from xapian_spark.query.executor import Enquire
from xapian_spark.query.expand import get_eset
from xapian_spark.query.spelling import (
    build_spelling_table, spelling_suggestion, suggest,
)


@pytest.fixture(scope="module")
def rset(simpledata_index):
    enq = Enquire(simpledata_index)
    rows = enq.get_mset(ops.Term("this"), 0, 2).collect()
    return [r["doc_id"] for r in rows]


def _weights(df):
    return [round(r["wt"], 11) for r in df.collect()]


def test_expandweights_trad_k1(simpledata_index, rset):
    eset = get_eset(simpledata_index, rset, maxitems=3,
                    scheme="trad", expand_k=1.0,
                    exclude_terms=["this"])
    assert _weights(eset) == [round(6.08904001099445, 11),
                              round(6.08904001099445, 11),
                              round(4.73383620844021, 11)]


def test_expandweights_trad_k2(simpledata_index, rset):
    eset = get_eset(simpledata_index, rset, maxitems=3,
                    scheme="trad", expand_k=2.0,
                    exclude_terms=["this"])
    assert _weights(eset) == [round(5.88109547674955, 11),
                              round(5.88109547674955, 11),
                              round(5.44473599216144, 11)]


def test_expandweights_bo1(simpledata_index, rset):
    eset = get_eset(simpledata_index, rset, maxitems=3, scheme="bo1",
                    exclude_terms=["this"])
    assert _weights(eset) == [round(7.21765284821702, 11),
                              round(6.661623193760022, 11),
                              round(5.58090119783738, 11)]


def test_expand_decider(simpledata_index, rset):
    """ExpandDecider hook: a Column predicate rides the expansion scan
    (expanddecider.h ExpandDeciderFilterPrefix analog)."""
    from pyspark.sql import functions as F

    full = {r["term"] for r in get_eset(
        simpledata_index, rset, maxitems=20).collect()}
    kept = {r["term"] for r in get_eset(
        simpledata_index, rset, maxitems=20,
        decider=lambda t: ~t.startswith("w")).collect()}
    dropped = {t for t in full if t.startswith("w")}
    assert dropped  # the fixture does suggest w-terms without a decider
    assert not any(t.startswith("w") for t in kept)
    # rejected candidates free top-N slots for new terms — every
    # accepted term from the unfiltered list must still be present
    assert {t for t in full if not t.startswith("w")} <= kept


def test_expandweights_negative_allowed(simpledata_index):
    enq = Enquire(simpledata_index)
    rows = enq.get_mset(ops.Term("paragraph"), 0, 2).collect()
    rs = [r["doc_id"] for r in rows]
    eset = get_eset(simpledata_index, rs, maxitems=37, scheme="trad",
                    exclude_terms=["paragraph"], min_wt=-100)
    wts = [r["wt"] for r in eset.collect()]
    assert len(wts) == 37
    assert wts[-1] < 0 and wts[-1] >= -100


# ---------------------------------------------------------------------------
# spelling
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spelling(simpledata_index):
    words = simpledata_index.term_stats.select(
        F.col("term").alias("word"), F.col("tf").alias("freq"))
    return build_spelling_table(words).persist()


def test_spelling_fragments_scheme(spark):
    from xapian_spark.query.spelling import word_fragments

    df = spark.createDataFrame([("hello",), ("ab",), ("abc",)],
                               "w string")
    rows = {r["w"]: sorted(r["f"]) for r in df.select(
        "w", word_fragments(F.col("w")).alias("f")).collect()}
    # brass_spelling.cc: H+first2, T+last2, B (len<=4), M middles
    assert rows["hello"] == sorted(
        ["Hhe", "Tlo", "Mhel", "Mell", "Mllo"])
    assert rows["ab"] == sorted(["Hab", "Tab", "Bab"])
    assert rows["abc"] == sorted(["Hab", "Tbc", "Bac", "Mabc"])


def test_spelling_suggestion(spelling):
    # "paragraph" is a frequent indexed term; a 1-edit typo finds it
    assert spelling_suggestion(spelling, "paragrap") == "paragraph"
    assert spelling_suggestion(spelling, "pardgraph") == "paragraph"
    # candidates ordered distance asc, freq desc
    rows = suggest(spelling, "worf").collect()
    assert rows and rows[0]["distance"] <= 2


def test_spelling_no_suggestion(spelling):
    assert spelling_suggestion(spelling, "zzzzqqqq") is None


# ---------------------------------------------------------------------------
# wildcard / extended msets
# ---------------------------------------------------------------------------

def test_wildcard_expands_to_synonym(simpledata_index):
    enq = Enquire(simpledata_index)
    wild = enq.get_mset(ops.Wildcard("para"), 0, 10).collect()
    terms = [r["term"] for r in simpledata_index.term_stats
             .filter(F.col("term").startswith("para")).collect()]
    syn = enq.get_mset(
        ops.Synonym([ops.Term(t) for t in terms]), 0, 10).collect()
    assert [(r["doc_id"], r["score"]) for r in wild] == \
        [(r["doc_id"], r["score"]) for r in syn]
    assert wild


def test_mset_percent(simpledata_index):
    enq = Enquire(simpledata_index)
    rows = enq.get_mset_percent(
        ops.Or([ops.Term("this"), ops.Term("paragraph")]), 0, 10
    ).collect()
    assert rows[0]["percent"] == 100
    assert all(1 <= r["percent"] <= 100 for r in rows)
    assert all(rows[i]["percent"] >= rows[i + 1]["percent"]
               for i in range(len(rows) - 1))


def test_mset_cutoff(simpledata_index):
    """set_cutoff: percent cutoff's post-match min_wt prune
    (multimatch.cc:908-930) and the absolute weight cutoff."""
    enq = Enquire(simpledata_index)
    q = ops.Or([ops.Term("this"), ops.Term("paragraph")])
    full = enq.get_mset(q, 0, 50).collect()
    pct = enq.get_mset_percent(q, 0, 50).collect()
    cut = enq.get_mset_cutoff(q, percent_cutoff=50,
                              maxitems=50).collect()
    # the percent column the reference reports agrees with the prune
    kept_ids = {r["doc_id"] for r in cut}
    for r in pct:
        if r["percent"] >= 50:
            assert r["doc_id"] in kept_ids
        else:
            assert r["doc_id"] not in kept_ids
    assert 0 < len(cut) < len(full)
    # absolute weight cutoff keeps exactly the docs at/above it
    mid = full[len(full) // 2]["score"]
    wcut = enq.get_mset_cutoff(q, weight_cutoff=mid,
                               maxitems=50).collect()
    assert {r["doc_id"] for r in wcut} == {
        r["doc_id"] for r in full if r["score"] >= mid}


def test_mset_collapse_and_sort(spark):
    from xapian_spark.index.build import build_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(docs, analyzer="simple")
    enq = Enquire(idx)
    q = ops.Term("batch")
    col = enq.get_mset_collapse(q, "lang", collapse_max=2,
                                maxitems=50).collect()
    per_lang = {}
    for r in col:
        per_lang.setdefault(r["lang"], []).append(r)
    assert all(len(v) <= 2 for v in per_lang.values())
    # best-of-key carries the collapse count
    assert any(r["collapse_count"] > 0 for r in col)

    srt = enq.get_mset_sorted(q, "n_chars", order="val_rel",
                              reverse=True, maxitems=10).collect()
    vals = [r["n_chars"] for r in srt]
    assert vals == sorted(vals, reverse=True)


def test_every_mset_adds_the_extra_weight(spark):
    # k2 != 0: collapse, value sort and cutoff rank the same scored
    # relation as get_mset, extra weight included
    from xapian_spark.index.build import build_index
    from xapian_spark.query.bm25 import BM25Weight

    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(200))
    enq = Enquire(build_index(docs, analyzer="simple"), BM25Weight(k2=1.0))
    q = ops.Term("batch")
    want = {r["doc_id"]: r["score"]
            for r in enq.get_mset(q, 0, 1000).collect()}
    top = sorted(want.values(), reverse=True)[:10]
    col = enq.get_mset_collapse(q, "lang", maxitems=50).collect()
    srt = enq.get_mset_sorted(q, "n_chars", order="rel_val",
                              maxitems=10).collect()
    cut = enq.get_mset_cutoff(q, maxitems=10).collect()
    assert col and len(srt) == len(cut) == 10
    for r in col + srt + cut:
        assert r["score"] == want[r["doc_id"]], r
    assert [r["score"] for r in srt] == [r["score"] for r in cut] == top


def test_parser_synonym_expansion(simpledata_index):
    from xapian_spark.query.parser import QueryParser

    qp = QueryParser(synonyms={"Zparagraph": ["word"]})
    q = qp.parse_query("paragraph")
    assert isinstance(q, ops.Synonym)
    assert [c.term for c in q.children] == ["Zparagraph", "word"]
    # no synonym registered → plain term
    assert isinstance(QueryParser().parse_query("paragraph"), ops.Term)


def test_corrected_query_string(spelling, simpledata_index):
    from xapian_spark.query.parser import corrected_query_string
    from xapian_spark.query.spelling import spelling_suggestion

    vocab = {r["term"] for r in
             simpledata_index.term_stats.collect()}

    def suggest_fn(w):
        if w in vocab:
            return None
        return spelling_suggestion(spelling, w)

    got = corrected_query_string("paragrap AND word", suggest_fn)
    assert got == "paragraph AND word"
    # quoted sections untouched
    got2 = corrected_query_string('"paragrap" word', suggest_fn)
    assert got2 == '"paragrap" word'
