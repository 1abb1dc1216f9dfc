"""ANN operator tests: IVF cell assignment invariants, retrieval of
planted near-duplicates through the probe path, and the equi-join plan
shape that keeps IVF linear at scale (no cartesian).

LSH ANN recall is gated by the n3 registry query + oracle mirror; these
tests cover the IVF path added alongside it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.test_plans import plan_of

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from vunnel_spark.session import load_table

    return load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def centroids(spark, emb):
    from vunnel_spark.operators.similarity import train_ivf_centroids

    return train_ivf_centroids(emb)


def test_ivf_cells_are_valid_and_nearest_first(spark, emb, centroids):
    from vunnel_spark.operators.similarity import add_ivf_cells

    rows = add_ivf_cells(emb, centroids, nprobe=3).select("vec_id", "cells").collect()
    assert len(rows) > 0
    for r in rows:
        assert len(r.cells) == 3
        assert len(set(r.cells)) == 3, "probed cells must be distinct"
        assert all(0 <= c < 8 for c in r.cells)
    # nprobe=1 must agree with the head of nprobe=3 (nearest-first order)
    one = {
        r.vec_id: r.cells[0]
        for r in add_ivf_cells(emb, centroids, nprobe=1).select("vec_id", "cells").collect()
    }
    assert all(one[r.vec_id] == r.cells[0] for r in rows)


def test_ivf_retrieves_planted_dups_rank1(spark, emb, centroids):
    """A scaled copy of a vector must come back as its rank-1 neighbor:
    near-identical vectors land in the same (or an adjacent probed) cell.
    This is the recall property the n5 oracle pins at the gate SF."""
    from vunnel_spark.operators.similarity import ivf_topk, train_ivf_centroids

    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    cents = train_ivf_centroids(corpus)
    n_planted = planted.count()
    hits = (
        ivf_topk(corpus, planted, cents, k=1)
        .filter(F.col("neighbor_id") == F.col("query_id") - 10_000)
        .count()
    )
    assert hits == n_planted, f"IVF missed {n_planted - hits}/{n_planted} planted dups"


def test_ivf_join_is_equi_on_cell_no_cartesian(spark, emb, centroids):
    from vunnel_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 4)
    p = plan_of(ivf_topk(emb, queries, centroids, k=3))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------- PQ


@pytest.fixture(scope="module")
def pq_books(spark, emb):
    from vunnel_spark.operators.similarity import train_pq_codebooks

    return train_pq_codebooks(emb)


def test_pq_encode_shape_and_range(spark, emb, pq_books):
    from vunnel_spark.operators.similarity import pq_encode

    rows = pq_encode(emb, pq_books).select("vec_id", "code").collect()
    assert len(rows) > 0
    for r in rows:
        assert len(r.code) == 8
        assert all(0 <= c < 16 for c in r.code), r.code


def test_pq_encode_picks_nearest_codeword(spark, emb, pq_books):
    # spot-check one vector against a pure-python argmin
    from vunnel_spark.operators.similarity import pq_encode

    r = pq_encode(emb.limit(1), pq_books).select("embedding", "code").collect()[0]
    vec = [float(x) for x in r.embedding]
    for j, book in enumerate(pq_books):
        sub = vec[j * 8:(j + 1) * 8]
        dists = [sum((a - b) ** 2 for a, b in zip(sub, cw)) for cw in book]
        assert r.code[j] == dists.index(min(dists))


def test_pq_rerank_recall_vs_bruteforce(spark, emb, pq_books):
    # shortlist+rerank top-1 must recover the exact top-1 for most
    # queries: with a 64-deep ADC shortlist over a 500-vector corpus the
    # only misses are genuine quantization losses, bounded here
    from vunnel_spark.operators.similarity import brute_force_topk, pq_adc_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(emb, queries).filter(F.col("rank") == 1).collect()
    }
    approx = {
        r.query_id: r.neighbor_id
        for r in pq_adc_topk(emb, queries, pq_books, k=1, rerank=64).collect()
    }
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits / len(exact) >= 0.6, f"rerank recall {hits}/{len(exact)}"


def test_pq_adc_join_is_broadcast_no_shuffle_of_corpus(spark, emb, pq_books):
    # the ADC scan must be corpus-scan x broadcast-queries: no Exchange
    # of the corpus side before the per-query top-k window
    from vunnel_spark.operators.similarity import pq_adc_topk

    queries = emb.filter(F.col("vec_id") < 8)
    p = plan_of(pq_adc_topk(emb, queries, pq_books, k=5))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_ivfpq_candidates_are_cell_equi_join(spark, emb, pq_books):
    # two-level index: candidate generation must be an equi-join on the
    # cell id with the query side broadcast — never all-pairs
    from vunnel_spark.operators.similarity import fixed_centroids, ivf_pq_topk

    queries = emb.filter(F.col("vec_id") < 8)
    cents = fixed_centroids()
    p = plan_of(ivf_pq_topk(emb, queries, cents, pq_books))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_ivfpq_subset_of_pq_ranking(spark, emb, pq_books):
    # with the SAME codebooks, IVF+PQ scores a subset of what plain PQ
    # scores: any (query, neighbor) both return must carry the same ADC
    from vunnel_spark.operators.similarity import (
        fixed_centroids, ivf_pq_topk, pq_adc_topk,
    )

    queries = emb.filter(F.col("vec_id") < 8)
    cents = fixed_centroids()
    full = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_adc_topk(emb, queries, pq_books, k=500).collect()
    }
    pruned = ivf_pq_topk(emb, queries, cents, pq_books).collect()
    assert len(pruned) > 0
    for r in pruned:
        assert full[(r.query_id, r.neighbor_id)] == r.adc_dist
