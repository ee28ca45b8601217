"""Hypothesis property tests: codec totality and tokenizer robustness
(the reference's randomized-junk strategy, stemtest.cc:46-77 /
unittest.cc pack tests)."""

from hypothesis import given, settings
from hypothesis import strategies as st

import numpy as np

from xapian_spark.analysis.porter2 import stem
from xapian_spark.analysis.tokenizer import TermGenerator
from xapian_spark.index.codec import (
    decode_chunk, encode_chunks, vbyte_decode, vbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1),
                max_size=300))
@settings(max_examples=60, deadline=None)
def test_vbyte_roundtrip_property(values):
    v = np.array(values, dtype=np.uint64)
    assert (vbyte_decode(vbyte_encode(v)) == v).all()


@given(
    st.lists(st.integers(min_value=1, max_value=50),
             min_size=1, max_size=400),
    st.lists(st.integers(min_value=1, max_value=10**6),
             min_size=1, max_size=400),
    st.lists(st.integers(min_value=1, max_value=10**6),
             min_size=1, max_size=400),
)
@settings(max_examples=40, deadline=None)
def test_chunk_roundtrip_property(gaps, wdfs, doclens):
    n = min(len(gaps), len(wdfs), len(doclens))
    ids = np.cumsum(np.array(gaps[:n], dtype=np.int64))
    w = np.array(wdfs[:n], dtype=np.int64)
    dl = np.array(doclens[:n], dtype=np.int64)
    out_i, out_w, out_d = [], [], []
    for c in encode_chunks(ids, w, dl):
        a, b, d = decode_chunk(c.data)
        assert a[0] == c.first_doc_id and a[-1] == c.last_doc_id
        assert len(a) == c.n
        out_i.append(a), out_w.append(b), out_d.append(d)
    assert (np.concatenate(out_i) == ids).all()
    assert (np.concatenate(out_w) == w).all()
    assert (np.concatenate(out_d) == dl).all()


@given(st.text(max_size=200))
@settings(max_examples=150, deadline=None)
def test_tokenizer_never_crashes(text):
    doc = TermGenerator().index_text(text)
    # invariants: doclen = Σ wdf; positions sorted; terms non-empty
    assert doc.doclen() == sum(w for w, _ in doc.terms.values())
    for term, (wdf, positions) in doc.terms.items():
        assert term
        # unstemmed terms: wdf == #positions; Z-stems carry no positions
        assert wdf >= len(positions)
        assert positions == sorted(positions)


@given(st.text(alphabet=st.characters(min_codepoint=97,
                                      max_codepoint=122),
               max_size=40))
@settings(max_examples=200, deadline=None)
def test_stemmer_total_on_ascii(word):
    s = stem(word)
    assert isinstance(s, str)
    # idempotence is NOT guaranteed by Porter2, but totality and
    # non-explosion are
    assert len(s) <= len(word) + 3


@given(st.text(max_size=120))
@settings(max_examples=250, deadline=None)
def test_parser_total_on_arbitrary_input(text):
    """The QueryParser either returns a Query or raises
    QueryParserError with a reference-style message — never any other
    exception (stemtest-style junk fuzzing)."""
    from xapian_spark.query import ops
    from xapian_spark.query.parser import (
        NumberValueRangeProcessor, QueryParser, QueryParserError,
    )

    qp = QueryParser(cjk_ngram=True)
    qp.add_prefix("author", "A")
    qp.add_boolean_prefix("site", "H")
    qp.add_valuerangeprocessor(NumberValueRangeProcessor(1))
    try:
        q = qp.parse_query(text)
    except QueryParserError as e:
        assert str(e).startswith("Syntax:")
        return
    assert isinstance(q, ops.Query)


@given(st.sets(st.integers(min_value=1, max_value=1_000_000),
               min_size=1, max_size=200))
@settings(max_examples=150, deadline=None)
def test_interpolative_positions_roundtrip(posset):
    """pack_positions/unpack_positions (the reference's
    binary-interpolative scheme) round-trips any strictly-ascending
    position list."""
    from xapian_spark.index.codec import pack_positions, unpack_positions

    pos = sorted(posset)
    assert unpack_positions(pack_positions(pos)) == pos


@given(st.lists(
    st.one_of(st.none(),
              st.sets(st.integers(min_value=1, max_value=10_000),
                      max_size=50)),
    max_size=20))
@settings(max_examples=80, deadline=None)
def test_positions_stream_roundtrip(lists):
    from xapian_spark.index.codec import decode_positions, encode_positions

    norm = [sorted(x) if x else None for x in lists]
    enc = encode_positions(norm)
    dec = decode_positions(enc, len(norm))
    for a, b in zip(norm, dec):
        assert list(b) == (a or [])
