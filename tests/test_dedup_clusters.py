"""Transitive near-dup clustering: connected components over Jaccard
pairs — the piece the greedy pairwise-drop policy doesn't give."""

from pyspark.sql import functions as F

from xapian_spark.pipeline.dedup import (
    connected_components, neardup_clusters, ngram_jaccard_pairs)


def _docs(spark):
    # A~B and B~C at jaccard 0.6 (3-gram shingles share 3/5) while
    # A~C is only 0.333 — a transitive chain; D is a singleton
    return spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g"), (3, "c d e f g h"),
         (4, "x y z w q r")],
        "doc_id long, text string")


def test_chain_is_one_cluster(spark):
    docs = _docs(spark)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.6)
    got = {(r["doc_id_a"], r["doc_id_b"])
           for r in pairs.select("doc_id_a", "doc_id_b").collect()}
    assert got == {(1, 2), (2, 3)}  # no direct 1-3 edge
    cl = {r["doc_id"]: r["cluster_id"]
          for r in neardup_clusters(docs, n=3, threshold=0.6).collect()}
    assert cl == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_multi(spark):
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50), (60, 10)],
        "doc_id_a long, doc_id_b long")
    comp = {r["node"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {10: 10, 20: 10, 30: 10, 60: 10, 40: 40, 50: 40}


def test_convergence_stops_early(spark):
    # two disjoint edges: fixpoint after round 1, loop exits early
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "doc_id_a long, doc_id_b long")
    comp = {r["node"]: r["component"]
            for r in connected_components(pairs, max_iter=50).collect()}
    assert comp == {1: 1, 2: 1, 3: 3, 4: 3}

def test_connected_components_rejects_nonpositive_max_iter(spark):
    import pytest

    from xapian_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_dedup_apply(spark):
    from xapian_spark.pipeline.dedup import (
        deduplicate_exact, deduplicate_minhash, exact_duplicates,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello  World"), (3, "other text"),
         (4, "hello world"), (5, "unrelated entirely")],
        "doc_id long, text string")
    kept = deduplicate_exact(docs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 5]
    # minhash apply keeps the lowest member of each near-dup pair
    big = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " +
          ("iota" if i % 2 else "kappa")) for i in range(6)]
        + [(10, "completely different text about something else "
                "entirely unrelated")],
        "doc_id long, text string")
    kept2 = deduplicate_minhash(big, n=3, num_hashes=16, bands=8,
                                threshold=0.5)
    ids = sorted(r["doc_id"] for r in kept2.collect())
    assert 10 in ids and 0 in ids and len(ids) < 7
