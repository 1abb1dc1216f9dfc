"""Approximate-nearest-neighbor search over embedding columns.

Two paths:
  brute_force_topk   exact cosine top-k — the correctness baseline.  The
                     query side is broadcast (queries << corpus), so the
                     corpus is scanned exactly once with no shuffle until
                     the final per-query top-k aggregation.
  lsh_topk           random-hyperplane LSH: bucket on sign-bit prefixes,
                     search only within matching buckets (plus optional
                     multi-probe).  The 100 TB path: corpus bucketing is a
                     one-time projection; each query touches 1/2^bits of
                     the data per table.

Hyperplanes are derived deterministically from xxhash64(table, bit, dim) —
no RNG state to ship, any executor can regenerate them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vunnel_spark.functions.vectors import cosine_hoisted, norm2


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, window-ranked.

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k, ties broken
    by neighbor id for determinism.  Squared norms are projected onto
    each SIDE before the candidate join (r14): they are per-row facts,
    so each pair evaluates one dot fold instead of three — bit-identical
    cosine (see functions/vectors.cosine_hoisted).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_qn", norm2(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn", norm2(F.col("_cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_hoisted(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: per
    query, the top-k most-similar corpus items with a DIFFERENT label —
    the negatives that sit closest to the decision boundary, the ones a
    contrastive loss learns most from (the in-batch-negatives upgrade
    every large-scale dual-encoder pipeline ships).

    Same broadcast-probe shape as ``brute_force_topk`` with the label
    inequality fused into the join condition, so mismatched pairs are
    dropped BEFORE the cosine evaluates — the filter costs nothing and
    the scan still touches the corpus exactly once.  The production
    scale path composes the same label predicate into lsh_topk /
    ivf_topk candidate sets; this exact form is the recall oracle.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cos_sim, rank), rank 1..k by similarity desc, neighbor id tie-break.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("_qv"),
    ).withColumn("_qn", norm2(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("_cv"),
    ).withColumn("_cn", norm2(F.col("_cv")))
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("query_label") != F.col("neighbor_label")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                cosine_hoisted(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_value(table: int, bit: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1).

    Derived from a sha256 of (table, bit, dim-index) DRIVER-SIDE and
    shipped as plan literals — executors never regenerate anything, and
    the physical plan carries constants instead of per-row hash calls.
    (The first implementation computed xxhash64(t, b, i) per row per
    component: n_tables*n_bits*dim runtime hash nodes — 3072 for the ANN
    defaults — which dominated wall-clock via codegen size alone.)
    """
    import hashlib

    h = hashlib.sha256(f"lsh:{table}:{bit}:{i}".encode()).digest()
    return int.from_bytes(h[:8], "big") / float(2**63) - 1.0


def scaled_lsh_bits(n_vectors: int, target_bucket: int = 190) -> int:
    """Corpus-derived LSH granularity: bits ~ log2(n / target_bucket).

    Bucket population stays bounded (~target_bucket) as the corpus
    grows, which keeps per-bucket pair generation O(target^2) instead of
    quadratic in corpus size — the rule the r9-r11 scale pushes
    validated (24k corpus -> 7 bits, planted-pair recall 1.0 through
    sf10).  Floor 3 so tiny corpora still split; fewer bits only ever
    ADDS candidates, so recall is monotone as n shrinks.  Use this
    instead of a fixed n_bits anywhere the corpus size isn't pinned —
    a fixed geometry is the debian1/d7 OOM class at 100 TB.
    """
    import math

    return max(3, round(math.log2(max(2, n_vectors / target_bucket))))


def scaled_ivf_nlist(n_vectors: int, target_cell: int = 375) -> int:
    """Corpus-derived IVF granularity: nlist ~ n / target_cell, rounded
    to a power of two, floor 8 (the semantic_dedup docstring rule;
    target_cell=375 reproduces the committed r9 demonstrations)."""
    import math

    return max(8, 2 ** round(math.log2(max(1, n_vectors / target_cell))))


def add_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_bits: int = 8,
    dim: int = 64,
    out_col: str = "buckets",
) -> DataFrame:
    """Project sign-bit LSH bucket keys: array of n_tables bucket ids.

    Pure Catalyst: each bit is sign(dot(vec, literal_plane)) — a flat
    codegen'd expression over constant arrays, zero Python at runtime.
    """
    # The SAME zip_with/aggregate fold expression as always, but
    # generated as ONE SQL text per table instead of a Column-API loop:
    # building n_bits*dim literal nodes over py4j cost ~4-5 s of plan
    # construction per call (measured, the n2 16-table config); one
    # expr() parse is milliseconds and yields the identical tree, so
    # plans, results, and the bit-exact oracle replication are
    # unchanged.  Plane components ride as CAST('<repr>' AS DOUBLE)
    # (correctly-rounded text round-trip, the oracles' own trick) and
    # constant-fold to the same double literals F.lit produced.  An r14
    # A/B kept the fold itself: statically unrolled multiply/add chains
    # (3072 terms here) blow janino's 64 KB method limit, fall back to
    # interpreted flat-tree eval, and run 3-5x SLOWER than the fold's
    # tight per-element loop (/tmp A/B, 100k x 32-way: fold 2.0-4.0 s
    # vs unrolled 12.8-20.2 s) — the HOF is the right physical form for
    # wide literal kernels; the unrolled form wins only on the narrower
    # compiled pair scorers (functions/vectors.py).
    def bucket_sql(t: int) -> str:
        bits = []
        for b in range(n_bits):
            plane = ", ".join(
                f"CAST('{_plane_value(t, b, i)!r}' AS DOUBLE)" for i in range(dim)
            )
            d = (
                f"aggregate(zip_with(`{vec_col}`, array({plane}), "
                f"(x, p) -> CAST(x AS DOUBLE) * p), 0.0D, (acc, v) -> acc + v)"
            )
            bits.append(f"(CASE WHEN {d} >= 0 THEN {1 << b} ELSE 0 END)")
        return f"CAST(({' + '.join(bits)}) AS BIGINT)"

    # one parse for the whole bucket array: n_tables separate expr()
    # calls were n_tables py4j+parser round trips per query build (r14
    # construction profile: the single-text form is 3-4x cheaper to
    # construct and yields the byte-identical tree)
    return df.withColumn(
        out_col,
        F.expr(
            "array(" + ", ".join(bucket_sql(t) for t in range(n_tables)) + ")"
        ),
    )


def fixed_centroids(
    nlist: int = 8, dim: int = 64, scale: float = 0.15
) -> list[list[float]]:
    """Deterministic sha256-derived coarse centroids (no training pass).

    Same derivation discipline as the LSH hyperplanes: any process —
    including an external SQL oracle — can regenerate the exact doubles,
    so IVF cell assignment becomes engine-portable.  Used where a
    data-trained quantizer would make external verification impossible
    (the n4 gate query); the trained path (``train_ivf_centroids``) is
    verified by n5's planted-pair oracle and the recall tests.  ``scale``
    places the Voronoi sites inside the embedding cloud's radius.
    """
    import hashlib

    out = []
    for j in range(nlist):
        row = []
        for i in range(dim):
            h = hashlib.sha256(f"ivf:{j}:{i}".encode()).digest()
            row.append((int.from_bytes(h[:8], "big") / float(2**63) - 1.0) * scale)
        out.append(row)
    return out


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    seed: int = 7,
    max_iter: int = 20,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: k-means centroids over the corpus.

    Returns ``nlist`` centroid vectors as plain Python lists — the "model"
    is nlist x dim floats (a few KB), which downstream ships as plan
    literals exactly like the LSH hyperplanes: executors evaluate constant
    expressions, nothing is regenerated or broadcast per row.

    At 100 TB the quantizer trains on a deterministic hash sample
    (``sample_mod`` keeps ~1/sample_mod of rows): k-means needs only
    ~100x nlist points to place cells, while full-corpus assignment stays
    a Catalyst expression scan.  MLlib's k-means|| runs distributed, so
    even the training pass never collects vectors to the driver — only
    the fitted centroids come back.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = corpus
    if sample_mod > 1:
        df = df.filter(F.pmod(F.xxhash64(F.col(id_col)), sample_mod) == 0)
    feat = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feat)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ranked_cells(vec_col: str, centroids: list[list[float]]):
    """array<struct<d2,cell>> sorted by (squared L2 distance, cell id) —
    THE quantizer-assignment expression, shared by IVF cell assignment
    here and k-means clustering (operators/clustering.py).  One
    definition so the strict left-fold arithmetic the SQL oracles
    replicate bit-for-bit can never drift between the two families.
    Pure Catalyst: centroids are plan literals, distances zip_with folds.
    """
    dists = []
    for cell_id, c in enumerate(centroids):
        # the same zip_with/aggregate fold, generated as SQL text
        # (identical tree, ~10x cheaper plan construction than the
        # Column-API literal loop; see add_lsh_buckets for the A/B that
        # kept the fold over a statically unrolled chain); the whole
        # ranked array is ONE expr() parse, not one per cell
        cent = ", ".join(f"CAST('{float(p)!r}' AS DOUBLE)" for p in c)
        d2 = (
            f"aggregate(zip_with(`{vec_col}`, array({cent}), "
            f"(x, p) -> (CAST(x AS DOUBLE) - p) * (CAST(x AS DOUBLE) - p)), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        dists.append(f"struct({d2} AS d2, {cell_id} AS cell)")
    return F.expr(f"array_sort(array({', '.join(dists)}))")


def add_ivf_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "cells",
) -> DataFrame:
    """Assign each vector its ``nprobe`` nearest coarse cells (squared L2).

    Zero Python at runtime (see ranked_cells), so cell assignment
    pipelines into the same whole-stage-codegen span as the parquet scan.
    """
    ranked = F.slice(ranked_cells(vec_col, centroids), 1, nprobe)
    return df.withColumn(
        out_col, F.transform(ranked, lambda s: s.getField("cell"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their single nearest cell,
    queries probe their ``nprobe`` nearest cells and score only those
    inverted lists.

    Scale shape: the corpus shuffles once on cell id, and each query
    touches ~nprobe/nlist of the data.  Rank/tie rules match
    brute_force_topk so recall is directly measurable.

    SIZE nlist WITH THE CORPUS (nlist ~ n_vectors / target_cell_size):
    per-query candidate cost is nprobe * cell_size, so a fixed nlist
    grows it linearly with the corpus — measured in the r9 scale-curve
    (SCALECURVE.md: n5 at fixed nlist=8 ran 24x on 10x data; nlist=64
    cut the sf1 time 2.2x with recall preserved).
    """
    cb = add_ivf_cells(corpus, centroids, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.element_at("cells", 1).alias("cell"),
        norm2(F.col(vec_col)).alias("_cn"),
    )
    # norm BEFORE the explode: a fold in the same select as a generator
    # lands in the Project ABOVE Generate and re-evaluates per exploded
    # row (nprobe x) — withColumn keeps it below, once per document
    # (n6 after-profile regression, plans/r14)
    qb = (
        add_ivf_cells(queries, centroids, vec_col, nprobe=nprobe)
        .withColumn("_qn", norm2(F.col(vec_col)))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.explode("cells").alias("cell"),
            "_qn",
        )
    )
    cand = (
        cb.join(F.broadcast(qb), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv", "_qn", "_cn")
    )
    scored = cand.withColumn(
        "cos_sim",
        F.round(
            cosine_hoisted(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")), 6
        ),
    ).drop("_qv", "_cv", "_qn", "_cn")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k searching only LSH-bucket collisions.

    Recall < 1.0 by construction; rank/tie rules match brute_force_topk so
    the two are directly comparable in tests (recall measurement).

    ID CONTRACT (r14 ADVICE): ``id_col`` must be unique within corpus
    and within queries.  The thin-pair dedup below collapses candidate
    pairs to distinct (query_id, neighbor_id) and joins vectors back by
    id — duplicate ids would fan each deduped pair back out per
    duplicate row (the pre-r14 shape instead collapsed them to one
    scored row).  Every in-repo corpus derives vec_id from a unique
    key; external callers must dedupe by id first.

    SIZE n_bits WITH THE CORPUS (n_bits ~ log2(n_vectors /
    target_bucket_size)): bucket count is 2^n_bits per table, so fixed
    bits grow bucket membership — and per-query candidates — linearly
    with the corpus.  Measured in the r9 scale-curve (SCALECURVE.md:
    n6 at fixed 3 bits ran 55x on 10x data; 7 bits cut the sf1 time
    6.9x with recall preserved).
    """
    # Collision rows and the dedup exchange carry IDS ONLY (the d9/d7
    # thin-pair discipline, guide §2.3 "shuffle fewer bytes"): the old
    # shape dragged both full vectors + norms through the
    # dropDuplicates exchange — ~1 KB/row over ~2M collision rows at
    # sf0.1 (2 GB shuffled to dedup ~30 MB of ids), and the same bytes
    # again into the window sort.  Vectors and per-side norms join back
    # per DISTINCT candidate pair instead; the cosine inputs are the
    # identical per-side norm2/vector columns, so scores and ranks are
    # unchanged.
    cb = add_lsh_buckets(corpus, vec_col, n_tables, n_bits, dim).select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("buckets").alias("t", "bucket"),
    )
    qb = add_lsh_buckets(queries, vec_col, n_tables, n_bits, dim).select(
        F.col(id_col).alias("query_id"),
        F.posexplode("buckets").alias("t", "bucket"),
    )
    cand = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm2(F.col(vec_col)).alias("_cn"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm2(F.col(vec_col)).alias("_qn"),
    )
    scored = (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "cos_sim",
            F.round(
                cosine_hoisted(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------------- product
# quantization: the 100 TB compression path.  IVF prunes WHICH vectors a
# query touches; PQ shrinks WHAT is read per vector — an m-byte code
# instead of dim*4 bytes (64-dim float -> 8 bytes here, 32x).  FAISS-style
# IVF+PQ is the de facto layout for web-scale ANN; both halves compose
# here because each is a plain column (cell id, code array).

def fixed_pq_codebooks(
    m: int = 8, ks: int = 16, dim: int = 64, scale: float = 0.15
) -> list[list[list[float]]]:
    """Deterministic sha256-derived PQ codebooks: ``m`` subspaces of
    ``dim//m`` dims, ``ks`` codewords each.

    Same engine-portability discipline as fixed_centroids/_plane_value —
    an external SQL oracle regenerates the exact doubles, so code
    assignment and ADC distances verify bit-for-bit outside Spark.
    """
    import hashlib

    sub = dim // m
    books = []
    for j in range(m):
        book = []
        for c in range(ks):
            row = []
            for i in range(sub):
                h = hashlib.sha256(f"pq:{j}:{c}:{i}".encode()).digest()
                row.append((int.from_bytes(h[:8], "big") / float(2**63) - 1.0) * scale)
            book.append(row)
        books.append(book)
    return books


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    seed: int = 7,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Train PQ codebooks: one distributed k-means per subspace slice.

    The model is m*ks*(dim/m) floats (= dim*ks, a few KB) shipped as plan
    literals; like train_ivf_centroids, training runs on a deterministic
    hash sample and never collects vectors to the driver.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = corpus
    if sample_mod > 1:
        df = df.filter(F.pmod(F.xxhash64(F.col(id_col)), sample_mod) == 0)
    sub = dim // m

    # Persist the sampled training frame ONCE across the m subspace
    # fits (VERDICT r14 Next #4, guide §5 reuse): each fit projects a
    # different slice of the SAME rows, so without this every fit
    # re-scans the corpus and re-applies the hash sample filter —
    # m redundant scans per training call, and k-means iterates over
    # its input many times on top.  Projecting to the single needed
    # column first keeps the cached blocks minimal (§2.3); the persist
    # changes no trained model (same rows, same per-j seeds) and is
    # released in the ``finally`` so multi-query sessions don't
    # accumulate blocks (r14 ADVICE).
    df = df.select(F.col(vec_col).cast("array<double>").alias("_v")).persist()

    def _fit(j: int) -> list[list[float]]:
        feat = df.select(
            array_to_vector(F.slice(F.col("_v"), j * sub + 1, sub)).alias(
                "features"
            )
        )
        model = KMeans(k=ks, seed=seed + j, maxIter=max_iter).fit(feat)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # The m per-subspace fits are independent jobs with per-j seeds —
    # identical models in any execution order.  Submitting them from a
    # driver thread pool lets each fit's straggler tail back-fill with
    # the next fit's tasks (guide-standard job overlap); pool.map
    # preserves subspace order.  Serially these m fits dominated n8's
    # wall-clock at local scale (~170 tiny jobs end to end); all-m-wide
    # overlap measured fastest (the jobs are scheduling-bound, not
    # core-bound, at any local SF).
    try:
        df.count()  # materialize the cache before the fits fan out
        with ThreadPoolExecutor(max_workers=max(4, m)) as pool:
            return list(pool.map(_fit, range(m)))
    finally:
        df.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "code",
) -> DataFrame:
    """Assign each vector its per-subspace nearest-codeword indices.

    Pure Catalyst, the add_ivf_cells shape per subspace: distances to the
    ks literal codewords, array_sort over (d2, idx) structs, take the
    head.  Ties break to the LOWEST codeword index — matched by the
    oracle's first-occurrence list_position.  At write time this column
    replaces the raw vector in the serving store.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        dists = []
        for cidx, cw in enumerate(book):
            # the same slice+zip_with/aggregate fold, generated as SQL
            # text (identical tree; the Column-API literal loop cost
            # ~6 s of py4j per pq_encode call — see add_lsh_buckets for
            # the A/B that kept the fold form).  The whole m*ks-fold
            # code array is ONE expr() parse: m*ks separate expr()
            # calls were ~1.5 s of py4j round trips per build (r14
            # construction profile, 3-4x cheaper single-text).
            cwl = ", ".join(f"CAST('{float(p)!r}' AS DOUBLE)" for p in cw)
            d2 = (
                f"aggregate(zip_with(slice(`{vec_col}`, {j * sub + 1}, {sub}), "
                f"array({cwl}), "
                f"(x, p) -> (CAST(x AS DOUBLE) - p) * (CAST(x AS DOUBLE) - p)), "
                f"0.0D, (acc, v) -> acc + v)"
            )
            dists.append(f"struct({d2} AS d2, {cidx} AS c)")
        codes.append(
            f"element_at(array_sort(array({', '.join(dists)})), 1).c"
        )
    return df.withColumn(
        out_col,
        F.expr(f"CAST(array({', '.join(codes)}) AS array<int>)"),
    )


def _with_adc_distance(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    qv_col: str = "_qv",
    code_col: str = "code",
    out_col: str = "adc_dist",
) -> DataFrame:
    """Add the asymmetric (query-exact vs corpus-code) squared L2,
    rounded to 6 places: a strict left-to-right chain of per-subspace
    left folds, so an oracle adding in the same order reproduces the
    double bit-for-bit.

    Layered shape (the r14 CVSS projection lesson): layer 1 projects
    each subspace's looked-up codeword into a named ``_cw{j}`` column
    (one literal codebook array per subspace, indexed by the code), and
    layer 2 unrolls the distance folds as one SQL text referencing
    those attributes.  Inlining the lookup into the fold would paste
    the 128-literal codebook once per term (16x tree blowup); the old
    slice+zip_with/aggregate form evaluated every fold interpreted.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tmp = []
    cw_cols = {}
    for j, book in enumerate(codebooks):
        book_sql = ", ".join(
            "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in cw) + ")"
            for cw in book
        )
        cw_cols[f"_cw{j}"] = F.expr(
            f"element_at(array({book_sql}), "
            f"element_at(`{code_col}`, {j + 1}) + 1)"
        )
        tmp.append(f"_cw{j}")
    # one withColumns: m separate withColumn calls re-analyzed the
    # growing plan m times per build (construction cost, same plan)
    df = df.withColumns(cw_cols)
    parts = []
    for j in range(m):
        terms = " + ".join(
            f"((CAST(try_element_at(`{qv_col}`, {j * sub + i + 1}) AS DOUBLE)"
            f" - try_element_at(`_cw{j}`, {i + 1}))"
            f" * (CAST(try_element_at(`{qv_col}`, {j * sub + i + 1}) AS DOUBLE)"
            f" - try_element_at(`_cw{j}`, {i + 1})))"
            for i in range(sub)
        )
        parts.append(f"(0.0D + {terms})")
    return df.withColumn(
        out_col, F.round(F.expr(" + ".join(parts)), 6)
    ).drop(*tmp)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation.

    The corpus side carries only (id, code) — at scale the scan reads m
    small ints per vector instead of the embedding column (32x less IO
    at the defaults); queries are broadcast with their exact vectors.
    ``rerank > 0`` switches to the production shape: ADC shortlists
    ``rerank`` candidates per query, then ONLY those join back to the
    corpus vectors for exact cosine — so full-precision reads are
    k-bounded per query, not corpus-bounded.

    Output: (query_id, neighbor_id, adc_dist, rank) ranked by ascending
    rounded ADC; with rerank, (query_id, neighbor_id, cos_sim, rank)
    ranked like brute_force_topk for direct recall comparison.
    """
    codes = pq_encode(corpus, codebooks, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "code"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    scored = _with_adc_distance(
        codes.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")),
        codebooks,
    ).drop("code")
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (rerank if rerank else k))
    )
    if not rerank:
        return shortlist.drop("_qv")
    exact = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn", norm2(F.col("_cv")))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        shortlist.drop("rank", "adc_dist")
        .withColumn("_qn", norm2(F.col("_qv")))
        .join(exact, "neighbor_id")
        .withColumn(
            "cos_sim",
            F.round(
                cosine_hoisted(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ composed ANN (the FAISS IVFPQ layout, the de facto shape
    for web-scale vector stores): the coarse quantizer prunes WHICH
    inverted lists a query touches (~nprobe/nlist of the corpus), and
    the product quantizer shrinks WHAT is read per candidate (m code
    bytes, not the vector).

    Both index columns are plain Catalyst projections, so at scale the
    corpus side materializes once as (id, cell, code) — cell as the
    partition column (dynamic partition pruning on the cell join),
    code instead of the embedding.  Scoring is
    ADC against broadcast query vectors, rank/tie rules as pq_adc_topk.
    """
    cb = pq_encode(
        add_ivf_cells(corpus, centroids, vec_col, nprobe=1), codebooks, vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at("cells", 1).alias("cell"),
        "code",
    )
    qb = add_ivf_cells(queries, centroids, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode("cells").alias("cell"),
    )
    scored = _with_adc_distance(
        cb.join(F.broadcast(qb), "cell").filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        codebooks,
    ).select("query_id", "neighbor_id", "adc_dist")
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
