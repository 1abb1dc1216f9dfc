"""Distributed clustering over embedding columns (LLM-pipeline surface).

Topic/cluster structure is the other half of what a pretraining pipeline
does with embeddings besides dedup and retrieval: cluster the corpus,
profile the clusters, rebalance the mixture so no topic dominates
(cluster-balanced sampling is the curation step of SemDeDup / DoReMi-style
recipes).  The quantizer primitives are shared with the ANN family
(operators/similarity.py) — a cluster assignment IS an IVF cell
assignment — so this module adds only the k-means *update* machinery and
the sampling policy on top.  Every operator reads ``vec_id`` and
``embedding`` columns.

Scale shape (the 100 TB contract):

- Assignment is pure Catalyst: centroids ship as plan literals (k x dim
  doubles, a few KB), distances are ``zip_with``/``aggregate`` folds that
  pipeline into the same whole-stage-codegen span as the parquet scan.
  Zero Python, zero shuffle.
- The Lloyd update is ONE shuffle of k rows: per-dimension sums are k*dim
  parallel aggregates with map-side partial aggregation (the same
  no-explode discipline as the simhash bit-sums and minhash min-
  aggregates — the naive posexplode form would shuffle dim x the corpus).
- ``kmeans_fit``'s driver loop collects only k x (dim+2) doubles per
  iteration — the model, not the data; each iteration is an independent
  scan with new literals, so lineage never grows.
- Balanced sampling follows the x7/x12 pattern: a tiny per-cell count
  aggregate broadcast back onto a scan+filter with an integer-exact
  multiplicative-hash Bernoulli test — deterministic across engines,
  runs, and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Knuth multiplicative hash constants for the integer-exact Bernoulli
#: draw (same family as x12_mixture_sampling).
_HASH_MULT = 2654435761
_HASH_MOD = 4294967296


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    d2_col: str | None = "d2",
) -> DataFrame:
    """Nearest-centroid assignment: adds ``cell`` (int) and optionally the
    squared distance to it.  Ties break on the lower cell id (struct sort
    order).  A cluster assignment IS an nprobe=1 IVF cell assignment, so
    this is the ANN family's ranked_cells expression (one definition —
    the SQL oracles replicate its fold arithmetic bit-for-bit).  Pure
    Catalyst — pipelines with the scan."""
    from vunnel_spark.operators.similarity import ranked_cells

    best = F.element_at(ranked_cells(centroids), 1)
    out = df.withColumn("cell", best.getField("cell"))
    if d2_col:
        out = out.withColumn(d2_col, best.getField("d2"))
    return out


def cluster_profile(
    df: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """Per-cluster profile: size, mean squared distance (a per-cell
    inertia — the quantity k-means minimizes), and the id range.  ONE
    shuffle of k rows after map-side partial aggregation."""
    assigned = assign_clusters(df, centroids)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("d2"), 6).alias("avg_d2"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


def lloyd_update(
    df: DataFrame,
    centroids: list[list[float]],
    flat: bool = True,
) -> DataFrame:
    """One Lloyd iteration's centroid update: the per-cell mean vector.

    The per-dimension sums are ``dim`` parallel SUM aggregates over the
    assigned frame — map-side combine reduces every partition to k rows of
    (count, dim sums, d2 sum) before the single k-row shuffle; the
    corpus-size term never crosses the network more than once and no
    explode multiplies it.  ``flat=True`` returns (cell, pos, mean_val, n)
    rows (pos is 0-based) — the oracle-friendly form; ``flat=False``
    returns (cell, n, inertia, centroid array<double>) for the driver
    loop.
    """
    dim = len(centroids[0])
    assigned = assign_clusters(df, centroids)
    sums = [
        F.sum(F.element_at(F.col("embedding"), i + 1).cast("double")).alias(f"_s{i}")
        for i in range(dim)
    ]
    agg = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d2").alias("_d2sum"), *sums
    )
    mean_arr = F.array(*[F.col(f"_s{i}") / F.col("n") for i in range(dim)])
    if not flat:
        return agg.select(
            "cell", "n", F.col("_d2sum").alias("inertia"), mean_arr.alias("centroid")
        )
    return agg.select(
        "cell", "n", F.posexplode(F.transform(mean_arr, lambda v: F.round(v, 6)))
    ).select("cell", F.col("pos"), F.col("col").alias("mean_val"), "n")


def kmeans_fit(
    df: DataFrame,
    init_centroids: list[list[float]],
    n_iter: int = 5,
) -> tuple[list[list[float]], list[float]]:
    """Driver-looped Lloyd's algorithm on the distributed update.

    Each iteration collects exactly k x (dim+2) doubles (the model);
    empty cells keep their previous centroid.  Returns (centroids,
    per-iteration inertia) — inertia is measured against the *incoming*
    centroids, so it is non-increasing by the usual k-means argument.
    For production training prefer ``train_ivf_centroids`` (k-means|| via
    MLlib); this exists to make the update step itself a first-class,
    oracle-checkable operator.
    """
    cents = [list(c) for c in init_centroids]
    inertias: list[float] = []
    for _ in range(n_iter):
        rows = lloyd_update(df, cents, flat=False).collect()
        by_cell = {r["cell"]: r for r in rows}
        inertias.append(float(sum(r["inertia"] for r in rows)))
        cents = [
            [float(x) for x in by_cell[j]["centroid"]] if j in by_cell else cents[j]
            for j in range(len(cents))
        ]
    return cents, inertias


def cluster_balanced_sample(
    df: DataFrame,
    centroids: list[list[float]],
    cap_per_cell: int,
) -> DataFrame:
    """Downsample each cluster to ~``cap_per_cell`` expected rows — the
    mixture-rebalancing step that stops a mega-cluster (boilerplate,
    near-duplicate topic mass) from dominating the training mix.

    Keep probability min(1, cap/n_cell) is drawn with the integer-exact
    multiplicative hash: keep iff ((id * 2654435761) mod 2^32) * n_cell
    < cap * 2^32 — exact integer cross-multiplication, no float rates, so
    the sample is deterministic and engine-portable (min(1, .) is
    automatic: h < 2^32 makes the test always true when n <= cap).
    The arithmetic runs in DECIMAL(38,0), not BIGINT: id * 2654435761
    overflows a long for ids >= ~3.5e9 (an ANSI-mode crash — exactly the
    id range a 100 TB corpus has), while the decimal products stay exact
    through id ~1e19 and cells of ~1e12 rows.  Values are identical to
    the narrow arithmetic wherever both are defined, so the SQL oracle's
    BIGINT form matches on test-scale ids.
    Shape: zero-shuffle assignment + a broadcast k-row count join back
    onto the scan — the x7/x12 sampling discipline with data-derived
    rates.
    """
    assigned = assign_clusters(df, centroids, d2_col=None)
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_cell"))
    dec = "decimal(38,0)"
    h = F.pmod(F.col("vec_id").cast(dec) * F.lit(_HASH_MULT), F.lit(_HASH_MOD))
    return (
        assigned.join(F.broadcast(counts), "cell")
        .filter(
            h * F.col("n_cell").cast(dec)
            < F.lit(cap_per_cell * _HASH_MOD).cast(dec)
        )
        .select("vec_id", "cell")
    )
