"""Clustering operator tests: the data-trained Lloyd loop (which has no
static oracle string — same split as the trained-IVF ANN path) plus the
invariants the c1-c3 oracles cannot see."""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.clustering import (
    assign_clusters,
    cluster_balanced_sample,
    kmeans_fit,
    lloyd_update,
)
from vunnel_spark.operators.similarity import fixed_centroids
from vunnel_spark.session import load_table

_CENTS = fixed_centroids()


def test_kmeans_fit_inertia_monotone(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents, inertias = kmeans_fit(emb, _CENTS, n_iter=4)
    assert len(cents) == 8 and len(cents[0]) == 64
    # Lloyd's algorithm never increases inertia (tiny float-order slack)
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a * (1 + 1e-9), inertias
    # it actually learned something vs the synthetic grid init
    assert inertias[-1] < inertias[0]


def test_kmeans_fit_keeps_empty_cells(spark):
    # 2 identical points, 3 centroids: at most 1 cell wins; the losers
    # must keep their previous centroid, not collapse to NaN/None
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    init = [[0.1, 0.1], [5.0, 5.0], [-5.0, -5.0]]
    cents, _ = kmeans_fit(df, init, n_iter=2)
    assert cents[1] == [5.0, 5.0] and cents[2] == [-5.0, -5.0]
    assert cents[0] == [0.0, 0.0]


def test_lloyd_update_mean_matches_manual(spark):
    # one cell's mean is the plain arithmetic mean of its members
    df = spark.createDataFrame(
        [(1, [1.0, 3.0]), (2, [3.0, 5.0]), (3, [100.0, 100.0])],
        "vec_id long, embedding array<float>",
    )
    init = [[0.0, 0.0], [100.0, 100.0]]
    rows = {
        (r["cell"], r["pos"]): r["mean_val"]
        for r in lloyd_update(df, init).collect()
    }
    assert rows[(0, 0)] == 2.0 and rows[(0, 1)] == 4.0
    assert rows[(1, 0)] == 100.0


def test_balanced_sample_respects_expected_cap(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cap = 10
    sizes = {
        r["cell"]: r["n"]
        for r in cluster_balanced_sample(emb, _CENTS, cap)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    pre = {
        r["cell"]: r["n"]
        for r in assign_clusters(emb, _CENTS, d2_col=None)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for cell, n_pre in pre.items():
        n_post = sizes.get(cell, 0)
        if n_pre <= cap:
            # min(1, .) keeps small cells whole
            assert n_post == n_pre, (cell, n_pre, n_post)
        else:
            # Bernoulli with mean cap: generous 4x tolerance band
            assert n_post <= 4 * cap, (cell, n_pre, n_post)


def test_balanced_sample_deterministic_across_partitionings(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(
        r["vec_id"] for r in cluster_balanced_sample(emb, _CENTS, 15).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in cluster_balanced_sample(emb.repartition(13), _CENTS, 15).collect()
    )
    assert a == b and a
