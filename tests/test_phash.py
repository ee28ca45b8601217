"""Hamming near-dup pairs over 64-bit fingerprints (SimHash): a copy of
a text re-formatted with other case, punctuation and spacing pairs with
its original although the exact (normalized-bytes) hash cannot see it.
Covers the pigeonhole block join in pipeline/dedup.py."""

import random

import pytest
from pyspark.sql import functions as F

from xapian_spark.pipeline.dedup import (
    exact_duplicates, simhash, simhash_neardup_pairs, simhash_pairs,
)

N_PAIRS = 12
_VOCAB = [f"w{i}" for i in range(300)]


def _texts():
    # N_PAIRS originals, then the same texts re-formatted: ids i and
    # i + N_PAIRS hold the same token stream
    rng = random.Random(7)
    originals = [" ".join(rng.choice(_VOCAB) for _ in range(60))
                 for _ in range(N_PAIRS)]
    copies = [",  ".join(t.upper().split(" ")) + "!" for t in originals]
    return list(enumerate(originals + copies))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_texts(), "doc_id long, text string")


@pytest.fixture(scope="module")
def hashes(docs):
    sh = simhash(docs).persist()
    sh.count()
    return sh


def test_cross_format_pairs_exact(docs):
    got = sorted(
        (r["doc_id_a"], r["doc_id_b"])
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect())
    assert got == [(i, i + N_PAIRS) for i in range(N_PAIRS)]
    # the normalized-bytes hash sees no duplicate at all
    assert exact_duplicates(docs).count() == 0


def test_dup_hamming_small_nondup_large(hashes):
    rows = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
            for r in hashes.collect()}

    def ham(a, b):
        x = (a[0] ^ b[0]) & 0xFFFFFFFF
        y = (a[1] ^ b[1]) & 0xFFFFFFFF
        return bin(x).count("1") + bin(y).count("1")

    for i in range(N_PAIRS):
        assert ham(rows[i], rows[i + N_PAIRS]) <= 3, i
    for i in range(N_PAIRS):
        for j in range(i + 1, N_PAIRS):
            assert ham(rows[i], rows[j]) > 3, (i, j)


def test_phash_deterministic(docs, hashes):
    again = {r["doc_id"]: r["simhash_hex"]
             for r in simhash(docs).collect()}
    first = {r["doc_id"]: r["simhash_hex"] for r in hashes.collect()}
    assert again == first


def test_identical_pixels_hash_equal(docs):
    # same text → identical hash (hamming 0), whatever id
    one = docs.filter("doc_id = 0")
    two = one.union(one.withColumn("doc_id", F.lit(99).cast("long")))
    rows = {r["doc_id"]: r["simhash_hex"] for r in simhash(two).collect()}
    assert rows[0] == rows[99]


def test_parameter_validation(docs, hashes):
    with pytest.raises(ValueError):
        simhash_pairs(hashes, max_hamming=4)
    with pytest.raises(ValueError):
        simhash_neardup_pairs(docs, max_hamming=-1)


def test_high_bit_hamming_regression(spark):
    # bit 31 / bit 63 differences must count as hamming 1 each — a
    # signed-int32 representation sign-extends under bit_count
    # (bit_count(-1::INT) = 64) and flips pigeonhole block keys under
    # shiftright/%, silently dropping true near-dups
    rows = [
        (1, 0x00000000, 0x00000000),
        (2, 0x00000000, 0x80000000),  # differs in bit 31 only
        (3, 0x80000000, 0x00000000),  # differs in bit 63 only
        (4, 0xFFFFFFFF, 0xFFFFFFFF),  # all bits set: far from 1/2/3
    ]
    sh = spark.createDataFrame(
        rows, "doc_id long, simhash_hi long, simhash_lo long")
    got = sorted((r["doc_id_a"], r["doc_id_b"], r["hamming"])
                 for r in simhash_pairs(sh, max_hamming=2).collect())
    assert got == [(1, 2, 1), (1, 3, 1), (2, 3, 2)]
