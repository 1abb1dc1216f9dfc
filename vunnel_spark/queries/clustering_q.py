"""Clustering queries over the ``embeddings`` table (LLM-pipeline
surface): nearest-centroid assignment profiling, the distributed Lloyd
centroid update, and cluster-balanced mixture sampling.

Oracles follow the ANN family's discipline (queries/similarity.py): the
quantizer is the deterministic sha256-derived ``fixed_centroids`` grid, so
the oracle SQL embeds the exact doubles as text-parsed literals and
reproduces the strict left-fold squared-L2 assignment bit-for-bit —
cluster membership is then integer-exact in both engines, and only the
6dp-rounded means/inertias touch float summation order.  The data-trained
path (``kmeans_fit`` over MLlib-style init) is covered by property tests
(tests/test_clustering.py: inertia monotonicity, empty-cell retention)
rather than a static oracle string, same split as n5.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.clustering import (
    _HASH_MOD,
    _HASH_MULT,
    cluster_balanced_sample,
    cluster_profile,
    lloyd_update,
)
from vunnel_spark.operators.similarity import DIM, NLIST, fixed_centroids
from vunnel_spark.queries._util import t
from vunnel_spark.queries.similarity import _dvec, _fold_l2sq
from vunnel_spark.registry import register

_CAP = 40  # expected per-cell rows after balancing


def _assign_ctes() -> str:
    """CTE chain replicating operators/clustering.assign_clusters with the
    fixed quantizer: (vec_id, v, cell, d2)."""
    cent_rows = ",\n        ".join(_dvec(c) for c in fixed_centroids())
    dlist = ", ".join(
        f"{{'d2': {_fold_l2sq('v', f'cents[{j + 1}]')}, 'cell': {j}}}"
        for j in range(NLIST)
    )
    return f"""
    cent AS (SELECT [
        {cent_rows}
      ] AS cents),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cells AS (SELECT vec_id, v, list_sort([{dlist}]) AS ranked FROM c, cent),
    a AS (SELECT vec_id, v, ranked[1].cell AS cell, ranked[1].d2 AS d2
          FROM cells)"""


@register(
    "c1_cluster_assign_profile",
    f"""
    WITH {_assign_ctes()}
    SELECT cell, count(*) AS n_vectors, round(avg(d2), 6) AS avg_d2,
           min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
    FROM a GROUP BY cell
    """,
    doc="Nearest-centroid cluster assignment + per-cluster profile "
        "(size, mean squared distance = per-cell inertia, id range).  "
        "Assignment is pure Catalyst — centroids are plan literals, "
        "distances zip_with folds in the scan's codegen span — and the "
        "profile is ONE k-row shuffle after map-side combine "
        "(operators/clustering.py cluster_profile)",
    tags=("clustering",),
)
def c1(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return cluster_profile(emb, fixed_centroids())


@register(
    "c2_lloyd_centroid_update",
    f"""
    WITH {_assign_ctes()}
    SELECT cell, CAST(i AS INTEGER) AS pos, round(avg(v[i + 1]), 6) AS mean_val,
           count(*) AS n
    FROM a, range({DIM}) AS t(i)
    GROUP BY cell, i
    """,
    doc="One Lloyd iteration's centroid update: per-cluster per-dimension "
        "means as flat (cell, pos, mean_val, n) rows.  The dim sums are "
        "64 parallel SUM aggregates (no posexplode of the corpus — the "
        "simhash/minhash no-explode discipline), so the update is ONE "
        "k-row shuffle regardless of corpus size "
        "(operators/clustering.py lloyd_update)",
    tags=("clustering",),
)
def c2(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return lloyd_update(emb, fixed_centroids())


@register(
    "c3_cluster_balanced_sample",
    f"""
    WITH {_assign_ctes()},
    n AS (SELECT cell, count(*) AS n_cell FROM a GROUP BY cell)
    SELECT a.vec_id, a.cell
    FROM a JOIN n USING (cell)
    WHERE ((a.vec_id * {_HASH_MULT}) % {_HASH_MOD}) * n.n_cell
          < {_CAP} * {_HASH_MOD}
    """,
    doc="Cluster-balanced mixture sampling: downsample every cluster to "
        "~cap expected rows via the integer-exact multiplicative-hash "
        "Bernoulli (keep iff h*n_cell < cap*2^32 — all BIGINT, no float "
        "rates; min(1,.) is automatic for small cells).  Shape: "
        "zero-shuffle assignment + broadcast k-row counts back onto the "
        "scan — the x7/x12 sampling path with data-derived rates "
        "(operators/clustering.py cluster_balanced_sample)",
    tags=("clustering", "sampling"),
)
def c3(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, fixed_centroids(), _CAP)
