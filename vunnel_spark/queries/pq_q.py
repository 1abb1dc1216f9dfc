"""Product-quantization ANN queries (LLM-pipeline surface, the
compression half of web-scale vector search).

``n7`` gates the fixed-codebook ADC path with a bit-exact DuckDB
oracle: the codebooks are sha256-derived constants shipped as an inline
``VALUES`` relation, code assignment is replayed with the same strict
left-fold squared-L2 and the same (distance, index) tie-break, and the
per-subspace ADC terms re-fold in subspace order via
``list(d2 ORDER BY j)`` so the double accumulates in exactly the order
Spark's expression chain adds it.  ``n8`` keeps the TRAINED codebook
path (per-subspace distributed k-means) under external verification the
same way n5 does for IVF: planted near-dups must come back through the
ADC shortlist + exact rerank, and the planted-pair set is the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.similarity import DIM, EXACT_K, NPROBE, PQ_M, fixed_centroids, fixed_pq_codebooks
from vunnel_spark.queries._util import t
from vunnel_spark.registry import register

_N_QUERIES = 8
_K = EXACT_K  # n9 ranks as deep as ivf_pq_topk; n7 follows it
_SUB = DIM // PQ_M


def _dval(v: float) -> str:
    """Text-parsed double literal (bit-exact; see queries/similarity.py)."""
    return f"'{v!r}'::DOUBLE"


def _cb_values(books: list[list[list[float]]]) -> str:
    rows = []
    for j, book in enumerate(books):
        for c, cw in enumerate(book):
            arr = "[" + ",".join(_dval(v) for v in cw) + "]"
            rows.append(f"({j},{c},{arr})")
    return ",".join(rows)


def _fold_sub_l2sq(vec: str, base: str, w: str = "w", n: int = _SUB) -> str:
    """Strict left-fold squared L2 between ``vec``'s length-``n`` slice
    (0-based element offset ``base``) and vector ``w`` — matches the
    zip_with/aggregate chain in operators/similarity.pq_encode (and,
    with n=dim/base=0, add_ivf_cells' centroid distance)."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range({n}), "
        f"i -> ({vec}[{base}+i+1] - {w}[i+1]) * ({vec}[{base}+i+1] - {w}[i+1]))), "
        f"(a, b) -> a + b)"
    )


def _n7_oracle() -> str:
    books = fixed_pq_codebooks()
    return f"""
    WITH cb(j, c, w) AS (VALUES {_cb_values(books)}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (
      SELECT vec_id, j, c, {_fold_sub_l2sq('v', 'j*' + str(_SUB))} AS d2
      FROM v CROSS JOIN cb
    ),
    best AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    terms AS (
      SELECT q.query_id, b.vec_id AS neighbor_id, b.j,
             {_fold_sub_l2sq('qv', 'b.j*' + str(_SUB), 'cb.w')} AS d2
      FROM q CROSS JOIN best b
      JOIN cb ON cb.j = b.j AND cb.c = b.c
      WHERE b.vec_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY j)),
                               (a, b) -> a + b), 6) AS adc_dist
      FROM terms GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {_K}
    """


@register(
    "n7_pq_adc_topk",
    _n7_oracle(),
    doc="Product-quantization ANN top-k (operators/similarity.py "
        "pq_adc_topk): corpus vectors compress to m per-subspace "
        "codeword indices (8 bytes vs 256 — the scan reads 32x less at "
        "scale), queries score codes by asymmetric distance against "
        "literal codebooks.  The oracle replays encode + ADC bit-exactly "
        "(inline VALUES codebooks, left-fold arithmetic, ordered "
        "subspace accumulation), so the full compression pipeline is "
        "value-verified, not just row counts",
    tags=("similarity", "pq"),
)
def n7(spark, sf_dir):
    from vunnel_spark.operators.similarity import pq_adc_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    books = fixed_pq_codebooks()
    return pq_adc_topk(emb, queries, books, k=_K).select(
        "query_id", "neighbor_id", "adc_dist", "rank"
    )


_PQ_DUP_BASE = 1_000_000


@register(
    "n8_pq_rerank_retrieval",
    f"""
    SELECT vec_id + {_PQ_DUP_BASE} AS query_id,
           vec_id AS neighbor_id,
           round(list_cosine_similarity(
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02 + 0.005),
             CAST(embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings WHERE vec_id % 5 = 0
    """,
    doc="PQ retrieval gate for the TRAINED codebooks (per-subspace "
        "distributed k-means, train_pq_codebooks): planted near-dups "
        "quantize to their original's code, so the original must surface "
        "through the ADC shortlist and win the exact-cosine rerank — the "
        "production shortlist+rerank shape, where full-precision vector "
        "reads are shortlist-bounded per query, never corpus-bounded.  "
        "The exact planted-pair set is the oracle; a miss means encode, "
        "ADC, or the rerank join broke",
    tags=("similarity", "pq"),
)
def n8(spark, sf_dir):
    from vunnel_spark.operators.similarity import pq_adc_topk, train_pq_codebooks

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _PQ_DUP_BASE).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    books = train_pq_codebooks(corpus)
    return (
        pq_adc_topk(corpus, planted, books, k=1, rerank=64)
        .filter(F.col("cos_sim") >= 0.9)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def _n9_oracle() -> str:
    books = fixed_pq_codebooks()
    cents = fixed_centroids()
    cent_rows = ",".join(
        f"({i},[" + ",".join(_dval(v) for v in c) + "])"
        for i, c in enumerate(cents)
    )
    return f"""
    WITH cents(cell, cv) AS (VALUES {cent_rows}),
    cb(j, c, w) AS (VALUES {_cb_values(books)}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cd AS (
      SELECT vec_id, cell, {_fold_sub_l2sq('v', '0', 'cv', DIM)} AS d2
      FROM v CROSS JOIN cents
    ),
    vcell AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    pqd AS (
      SELECT vec_id, j, c, {_fold_sub_l2sq('v', 'j*' + str(_SUB))} AS d2
      FROM v CROSS JOIN cb
    ),
    code AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
        FROM pqd
      ) WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    qcell AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rn
        FROM (
          SELECT q.query_id, cents.cell,
                 {_fold_sub_l2sq('qv', '0', 'cv', DIM)} AS d2
          FROM q CROSS JOIN cents
        )
      ) WHERE rn <= {NPROBE}
    ),
    cand AS (
      SELECT q.query_id, vc.vec_id AS neighbor_id, q.qv
      FROM q JOIN qcell ON qcell.query_id = q.query_id
             JOIN vcell vc ON vc.cell = qcell.cell
      WHERE vc.vec_id <> q.query_id
    ),
    terms AS (
      SELECT cand.query_id, cand.neighbor_id, code.j,
             {_fold_sub_l2sq('cand.qv', 'code.j*' + str(_SUB), 'cb.w')} AS d2
      FROM cand JOIN code ON code.vec_id = cand.neighbor_id
                JOIN cb ON cb.j = code.j AND cb.c = code.c
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY j)),
                               (a, b) -> a + b), 6) AS adc_dist
      FROM terms GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {_K}
    """


@register(
    "n9_ivfpq_topk",
    _n9_oracle(),
    doc="IVF+PQ composed ANN (operators/similarity.py ivf_pq_topk — the "
        "FAISS IVFPQ layout): the coarse quantizer prunes WHICH inverted "
        "lists a query touches (nprobe/nlist of the corpus), the product "
        "quantizer shrinks WHAT is read per candidate (8 code bytes, not "
        "the vector).  Both quantizers are sha256-derived constants, so "
        "the oracle replays cell assignment, code assignment, AND "
        "ordered-fold ADC bit-exactly — the full two-level index is "
        "value-verified end-to-end",
    tags=("similarity", "pq"),
)
def n9(spark, sf_dir):
    from vunnel_spark.operators.similarity import ivf_pq_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    cents = fixed_centroids()
    books = fixed_pq_codebooks()
    return ivf_pq_topk(emb, queries, cents, books).select(
        "query_id", "neighbor_id", "adc_dist", "rank"
    )
