"""Similarity-search queries over the ``embeddings`` table
(LLM-pipeline surface): brute-force cosine top-k as the correctness
baseline, LSH/IVF-bucketed ANN as the scale paths, and a recall query
binding them together.

Every query here carries a DuckDB oracle.  The ANN oracles replicate the
*exact* candidate generation, not just the scoring: the LSH hyperplanes
and the n4 IVF centroids are sha256-derived constants (operators/
similarity.py), so the oracle SQL embeds the same doubles as text-parsed
literals ('<repr>'::DOUBLE — parsing via DECIMAL would lose ulps) and
reproduces Spark's left-fold dot products with list_reduce, giving
bit-identical bucket/cell assignment.  The data-trained k-means path
(train_ivf_centroids) cannot appear in a static oracle string; it is
gated by n5's planted-pair oracle and the recall tests instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.similarity import (
    DIM, EXACT_K, N_BITS, N_TABLES, NLIST, NPROBE, _plane_value, fixed_centroids,
)
from vunnel_spark.queries._util import t
from vunnel_spark.registry import register

_N_QUERIES = 8  # small query set; corpus side stays the full table
_K = EXACT_K  # the ANN queries rank as deep as brute_force_topk (n3's recall)


# ---------------------------------------------------------- oracle builders

def _dvec(vals: list[float]) -> str:
    """DOUBLE[] literal parsed text->double (bit-exact round-trip).

    A bare decimal literal goes through DECIMAL(38,x) first and DuckDB's
    decimal->double conversion divides by 10^17 in double arithmetic,
    which is lossy above 2^53 — measured ~1 ulp off on half the values,
    enough to flip a sign-bit bucket near zero.
    """
    return "[" + ",".join(f"'{v!r}'::DOUBLE" for v in vals) + "]"


def _fold_dot(vec: str, plane: str) -> str:
    """Strict left-fold dot product — matches functions/vectors.dot
    bit-for-bit (list_dot_product uses a different accumulation order)."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range({DIM}), "
        f"i -> {vec}[i+1] * {plane}[i+1])), (a, b) -> a + b)"
    )


def _fold_l2sq(vec: str, cent: str) -> str:
    """Strict left-fold squared L2 — matches operators/similarity.add_ivf_cells."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range({DIM}), "
        f"i -> ({vec}[i+1] - {cent}[i+1]) * ({vec}[i+1] - {cent}[i+1]))), "
        f"(a, b) -> a + b)"
    )


def _lsh_ctes() -> str:
    """CTE chain replicating add_lsh_buckets + lsh_topk candidate gen."""
    plane_rows = ",\n        ".join(
        _dvec([_plane_value(tb, b, i) for i in range(DIM)])
        for tb in range(N_TABLES)
        for b in range(N_BITS)
    )
    bucket_exprs = ",\n          ".join(
        "("
        + " + ".join(
            f"(CASE WHEN {_fold_dot('v', f'pl[{tb * N_BITS + b + 1}]')} >= 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b in range(N_BITS)
        )
        + ")"
        for tb in range(N_TABLES)
    )
    return f"""
    planes AS (SELECT [
        {plane_rows}
      ] AS pl),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, [
          {bucket_exprs}
        ] AS buckets FROM c, planes),
    q AS (SELECT * FROM b WHERE vec_id < {_N_QUERIES}),
    cand AS (
      SELECT q.vec_id AS query_id, cb.vec_id AS neighbor_id, q.v AS qv, cb.v AS cv
      FROM q JOIN b cb ON q.vec_id <> cb.vec_id
       AND len(list_filter(range({N_TABLES}),
                           i -> q.buckets[i+1] = cb.buckets[i+1])) > 0
    ),
    lsh AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM (SELECT query_id, neighbor_id,
                   round(list_cosine_similarity(qv, cv), 6) AS cos_sim
            FROM cand)
    )"""


_N2_ORACLE = f"""
    WITH {_lsh_ctes()}
    SELECT query_id, neighbor_id, cos_sim, rank FROM lsh WHERE rank <= {_K}
    """

_N3_ORACLE = f"""
    WITH {_lsh_ctes()},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, cb.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, cb.v), 6) DESC,
                          cb.vec_id) AS rank
        FROM q JOIN c cb ON q.vec_id <> cb.vec_id)
      WHERE rank <= {_K}
    ),
    lshk AS (SELECT query_id, neighbor_id FROM lsh WHERE rank <= {_K}),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM exact e JOIN lshk l USING (query_id, neighbor_id)
      GROUP BY e.query_id
    )
    SELECT eg.query_id,
           round(coalesce(h.n_hits, 0) / eg.n_exact, 4) AS recall
    FROM (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id) eg
    LEFT JOIN hits h USING (query_id)
    """


def _ivf_ctes() -> str:
    """CTE chain replicating add_ivf_cells + ivf_topk with the
    deterministic fixed_centroids quantizer."""
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
    corpus AS (SELECT vec_id AS neighbor_id, v AS cv, ranked[1].cell AS cell
               FROM cells),
    qcells AS (
      SELECT vec_id AS query_id, v AS qv, s.cell AS cell
      FROM cells, unnest(list_slice(ranked, 1, {NPROBE})) AS u(s)
      WHERE vec_id < {_N_QUERIES}
    ),
    ivf AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM (SELECT query_id, neighbor_id,
                   round(list_cosine_similarity(qv, cv), 6) AS cos_sim
            FROM corpus JOIN qcells USING (cell)
            WHERE query_id <> neighbor_id)
    )"""


_N4_ORACLE = f"""
    WITH {_ivf_ctes()}
    SELECT query_id, neighbor_id, cos_sim, rank FROM ivf WHERE rank <= {_K}
    """


# ----------------------------------------------------------------- queries

@register(
    "n1_ann_bruteforce_topk",
    f"""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {_N_QUERIES})
    WHERE rank <= {_K}
    """,
    doc="Brute-force cosine top-k (operators/similarity.py brute_force_topk):"
        " broadcast queries x corpus scan, window-ranked; the documented "
        "recall baseline — production path is n2",
    tags=("similarity",),
)
def n1(spark, sf_dir):
    from vunnel_spark.operators.similarity import brute_force_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return brute_force_topk(emb, queries).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


@register(
    "n2_ann_lsh_topk",
    _N2_ORACLE,
    doc="LSH-bucketed ANN top-k (operators/similarity.py lsh_topk): "
        "sign-bit hyperplane buckets, candidates from bucket collisions "
        "only — each query touches ~1/2^bits of the corpus per table.  "
        "The oracle regenerates the sha256-derived hyperplanes and "
        "replicates bucket assignment bit-exactly (left-fold dot, "
        "text-parsed double literals), so the full candidate pipeline is "
        "value-verified, not just row counts",
    tags=("similarity",),
)
def n2(spark, sf_dir):
    from vunnel_spark.operators.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    # 3 bits x 16 tables: the driver corpus is near-orthogonal random
    # vectors (max pair cosine ~0.43), so buckets must stay coarse for
    # recall ~0.95; clustered real-world embeddings support 8+ bits with
    # far fewer tables.  Recall is measured by n3 and gated in tests.
    return lsh_topk(emb, queries, k=_K).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


@register(
    "n4_ann_ivf_topk",
    _N4_ORACLE,
    doc="IVF ANN top-k (operators/similarity.py ivf_topk): coarse-quantized "
        "inverted lists, corpus in its nearest cell, queries probe nprobe "
        "cells — each query touches ~nprobe/nlist of the corpus.  Uses the "
        "deterministic fixed_centroids quantizer so the oracle replicates "
        "cell assignment bit-exactly; the k-means-trained quantizer "
        "(train_ivf_centroids, pyspark.ml distributed) is exercised by "
        "n5's planted-pair gate and tests/test_similarity.py",
    tags=("similarity",),
)
def n4(spark, sf_dir):
    from vunnel_spark.operators.similarity import ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    cents = fixed_centroids()
    return ivf_topk(emb, queries, cents, k=_K).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


_IVF_DUP_BASE = 1_000_000


@register(
    "n5_ann_ivf_dup_retrieval",
    f"""
    SELECT vec_id + {_IVF_DUP_BASE} AS query_id,
           vec_id AS neighbor_id,
           round(list_cosine_similarity(
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02 + 0.005),
             CAST(embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings WHERE vec_id % 5 = 0
    """,
    doc="IVF retrieval gate: planted near-dups (same construction as d7) "
        "must come back as their query's rank-1 neighbor through the cell "
        "probe — near-identical vectors quantize into the same (or an "
        "adjacent probed) cell, so the exact planted-pair set is the "
        "oracle; a miss here means the quantizer or probe path broke.  "
        "This is the query that keeps the TRAINED k-means quantizer "
        "under external verification (n4 uses the fixed one)",
    tags=("similarity",),
)
def n5(spark, sf_dir):
    from vunnel_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _IVF_DUP_BASE).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    cents = train_ivf_centroids(corpus)
    return (
        ivf_topk(corpus, planted, cents, k=1)
        .filter(F.col("cos_sim") >= 0.9)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@register(
    "n6_ann_lsh_dup_retrieval",
    f"""
    SELECT vec_id + {_IVF_DUP_BASE} AS query_id,
           vec_id AS neighbor_id,
           round(list_cosine_similarity(
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02 + 0.005),
             CAST(embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings WHERE vec_id % 5 = 0
    """,
    doc="LSH retrieval gate (mirror of n5's IVF gate): planted near-dups "
        "must come back as their query's rank-1 neighbor through bucket "
        "collisions — a near-identical vector keeps its sign pattern on "
        "every hyperplane except a measure-zero band, so with 3 bits x 16 "
        "tables at least one co-bucket is certain in practice and the "
        "exact planted-pair set is the oracle",
    tags=("similarity",),
)
def n6(spark, sf_dir):
    from vunnel_spark.operators.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _IVF_DUP_BASE).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    return (
        lsh_topk(corpus, planted, k=1)
        .filter(F.col("cos_sim") >= 0.9)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@register(
    "n3_ann_lsh_recall",
    _N3_ORACLE,
    doc="Recall of LSH ANN vs the brute-force baseline per query: "
        "|lsh ∩ exact| / k — the metric that gates any ANN parameter "
        "change.  Oracle-checked end-to-end: DuckDB recomputes both the "
        "exact top-k and the bit-exact LSH top-k and derives the same "
        "recall numbers",
    tags=("similarity",),
)
def n3(spark, sf_dir):
    from vunnel_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = brute_force_topk(emb, queries).select("query_id", "neighbor_id")
    approx = lsh_topk(emb, queries, k=_K).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )


@register(
    "n10_hard_negative_mining",
    f"""
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, rank
    FROM (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6)
               AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS rank
      FROM embeddings q
      JOIN embeddings c
        ON q.vec_id <> c.vec_id AND q.label <> c.label
      WHERE q.vec_id < {_N_QUERIES})
    WHERE rank <= {_K}
    """,
    doc="Hard-negative mining for contrastive training "
        "(operators/similarity.py hard_negatives): per query, the top-k "
        "most-similar corpus vectors with a DIFFERENT label — the "
        "near-boundary negatives a dual-encoder loss learns most from.  "
        "Same broadcast-probe scan as n1 with the label inequality "
        "fused into the join condition (mismatches drop before the "
        "cosine evaluates); the 100 TB path composes the same predicate "
        "into the LSH/IVF candidate sets, with this exact form as the "
        "recall oracle",
    tags=("similarity",),
)
def n10(spark, sf_dir):
    from vunnel_spark.operators.similarity import hard_negatives

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return hard_negatives(emb, queries).select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        "cos_sim", "rank",
    )


@register(
    "n11_sq8_adc_topk",
    f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dimvals AS (
      SELECT u.i AS pos, v.v[u.i] AS x
      FROM v, LATERAL (SELECT unnest(generate_series(1, 16)) AS i) u
    ), p AS (
      SELECT pos, min(x) AS mn, max(x) AS mx FROM dimvals GROUP BY pos
    ), prow AS (
      SELECT array_agg(mn ORDER BY pos) AS mn,
             array_agg(mx ORDER BY pos) AS mx
      FROM p
    ), codes AS (
      SELECT vec_id,
             list_transform(range(16), d -> CAST(CASE
               WHEN mx[d+1] = mn[d+1] THEN 0
               ELSE least(greatest(
                 floor((v[d+1] - mn[d+1]) * 255 / (mx[d+1] - mn[d+1])),
                 0), 255)
             END AS INT)) AS code
      FROM v, prow
      WHERE vec_id >= {_N_QUERIES}
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {_N_QUERIES}
    ), d AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_reduce(list_prepend(0.0::DOUBLE, list_transform(
               list_transform(range(16), d ->
                 qv[d+1] - (mn[d+1] + (code[d+1] + 0.5)
                            * (mx[d+1] - mn[d+1]) / 255)),
               z -> z * z)), (a, b) -> a + b) AS d2
      FROM q CROSS JOIN codes c, prow
    ), ranked AS (
      SELECT query_id, neighbor_id, round(d2, 6) AS d2_adc,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY d2, neighbor_id) AS INT)
               AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, d2_adc, rank FROM ranked
    WHERE rank <= {_K}
    """,
    doc="Scalar-quantized (SQ8) ANN — the FAISS tier between PQ and "
        "exact: per-dimension [min,max] trained from the corpus (one "
        "order-free aggregate, a 16-row dim), vectors coded to uint8 "
        "per dimension, asymmetric query-vs-reconstruction distance "
        "as a strict dimension-order left fold so both engines "
        "produce identical doubles (the n7 ADC discipline with "
        "DATA-DERIVED parameters instead of literal codebooks — "
        "min/max are exactly reproducible in SQL, unlike means).  "
        "Scale: the 2x16-value range row rides a 1-row broadcast "
        "(whitelisted BNLJ, like n7's query fan-out); codes shrink "
        "the serving store 4x vs float32 and the scan tier composes "
        "with n4's IVF cell pruning for the full IVF-SQ8 layout",
    tags=("similarity", "ann"),
)
def n11(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pos = emb.select(F.posexplode("v").alias("pos", "x"))
    prow = (
        pos.groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda s: s["mn"]).alias("mn"),
            F.transform("s", lambda s: s["mx"]).alias("mx"),
        )
    )
    dims = F.sequence(F.lit(0), F.lit(15))

    def el(arr, d):
        return F.element_at(arr, d + 1)

    corpus = (
        emb.filter(F.col("vec_id") >= _N_QUERIES)
        .crossJoin(F.broadcast(prow))
        .select(
            "vec_id",
            F.transform(
                dims,
                lambda d: F.when(
                    el(F.col("mx"), d) == el(F.col("mn"), d), F.lit(0)
                ).otherwise(
                    F.least(
                        F.greatest(
                            F.floor(
                                (el(F.col("v"), d) - el(F.col("mn"), d))
                                * 255
                                / (el(F.col("mx"), d) - el(F.col("mn"), d))
                            ),
                            F.lit(0),
                        ),
                        F.lit(255),
                    )
                ).cast("int"),
            ).alias("code"),
        )
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    joined = corpus.crossJoin(F.broadcast(q)).crossJoin(F.broadcast(prow))
    diffs = F.transform(
        dims,
        lambda d: el(F.col("qv"), d)
        - (
            el(F.col("mn"), d)
            + (el(F.col("code"), d) + 0.5)
            * (el(F.col("mx"), d) - el(F.col("mn"), d))
            / 255
        ),
    )
    d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, z: acc + z * z)
    from pyspark.sql import Window

    ranked = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        d2.alias("d2"),
    ).withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
        )
        .cast("int"),
    )
    return ranked.filter(F.col("rank") <= _K).select(
        "query_id", "neighbor_id",
        F.round("d2", 6).alias("d2_adc"), "rank",
    )
