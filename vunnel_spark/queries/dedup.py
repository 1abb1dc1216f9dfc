"""Deduplication queries over the ``documents`` table (LLM-pipeline surface).

The driver corpus has no exact duplicates, so each query synthesizes a
duplicated / near-duplicated variant set inside the query (and identically
in the oracle) — the operators then have real work to do.

Scale notes: every operator here shuffles on a derived small key (digest,
fingerprint, band bucket, shingle); candidate verification joins touch
candidates only (see operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vunnel_spark.queries._util import scratch_dir, t
from vunnel_spark.registry import register

# doc_id offset for synthesized duplicate rows (beyond any real doc_id)
from vunnel_spark.queries._util import (  # noqa: E402
    DUP_BASE as _DUP_BASE,
    NEAR_DUPS_SQL as _NEAR_DUPS_SQL,
    with_near_dups as _with_near_dups,
)


def _with_exact_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies of every 5th doc (new ids)."""
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + _DUP_BASE
    )
    return docs.unionByName(dups)


_EXACT_DUPS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_DUP_BASE} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""


@register(
    "d1_exact_dedup",
    f"""
    WITH corpus AS ({_EXACT_DUPS_SQL})
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM corpus GROUP BY text
    """,
    doc="Exact dedup: groupBy content digest, keep lowest id "
        "(operators/dedup.py exact_dedup; 100 TB path groups on the 32-byte "
        "sha256, raw text never shuffles twice)",
    tags=("dedup",),
)
def d1(spark, sf_dir):
    from vunnel_spark.operators.dedup import exact_dedup

    docs = _with_exact_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return exact_dedup(docs)


@register(
    "d2_duplicate_groups",
    f"""
    WITH corpus AS ({_EXACT_DUPS_SQL})
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY text) AS keep_id,
           doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_duplicate
    FROM corpus
    """,
    doc="Duplicate-group mapping: every doc points at its representative "
        "(operators/dedup.py duplicate_groups)",
    tags=("dedup",),
)
def d2(spark, sf_dir):
    from vunnel_spark.operators.dedup import duplicate_groups

    docs = _with_exact_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return duplicate_groups(docs).select("doc_id", "keep_id", "is_duplicate")




@register(
    "d4_ngram_jaccard_pairs",
    f"""
    WITH corpus AS ({_NEAR_DUPS_SQL}),
    words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words WHERE len(w) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
    doc="Exact n-gram (3-shingle) Jaccard pairs at threshold 0.8 "
        "(operators/dedup.py ngram_jaccard_pairs): pair generation is an "
        "equi-join on shingle, never a cross join; near-dup variants "
        "synthesized so true pairs exist",
    tags=("dedup",),
)
def d4(spark, sf_dir):
    from vunnel_spark.operators.dedup import ngram_jaccard_pairs

    docs = _with_near_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return ngram_jaccard_pairs(docs, threshold=0.8)


@register(
    "d3_minhash_lsh_pairs",
    f"""
    WITH corpus AS ({_NEAR_DUPS_SQL}),
    words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words WHERE len(w) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
    doc="MinHash(64) + banded LSH(16 bands) near-dup candidates, Jaccard-"
        "verified on candidates only (operators/dedup.py minhash_lsh_pairs). "
        "Because the output is EXACT-Jaccard-verified, it equals the exact "
        "pair set whenever LSH recall is 1.0 — which holds on this corpus at "
        "the gate SFs (asserted in tests/test_dedup.py); the oracle is "
        "therefore the exact-pair SQL at the same threshold.  A recall miss "
        "would surface as a row-count mismatch, which is precisely the "
        "signal we want the gate to carry",
    tags=("dedup",),
)
def d3(spark, sf_dir):
    from vunnel_spark.operators.dedup import minhash_lsh_pairs

    docs = _with_near_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    # 48 hashes / 16 bands (r=3).  Round-6 A/B at sf0.1 (median-of-5,
    # warm), recall measured against the exact-Jaccard pair set at BOTH
    # gate SFs:
    #   64/16 r=4: 2.02s  miss 0/139 sf0.01, 0/1374 sf0.1   (old default)
    #   48/16 r=3: 1.58s  miss 0 + 0; P(miss | j=0.8) = (1-.8^3)^16 ~ 1e-5
    #   48/12 r=4: 1.48s  miss 0 + 0; but P(miss | j=0.8) ~ 2e-3 and the
    #              corpus HAS j=0.80-0.82 pairs -> one red gate row per
    #              ~500 runs, not worth 7%
    #   48/8  r=6: 3.77s first-run AND missed 1/139 at sf0.01 -> rejected
    #   32/16 r=2: 1.21s  miss 0 + 0 here, but its S-curve admits 12% of
    #              j=0.2 pairs as candidates -- fine on this corpus,
    #              quadratic poison at web scale; the r5 note that it
    #              measured net-SLOWER predates the bucket pair-gen
    #              rewrite, superseded by these numbers.
    # Signature hashing is the scale-invariant win (48 vs 64 permutations:
    # 1.28s vs 2.29s for the signature stage alone); r=3x16 keeps the
    # marginal-pair miss probability below 1e-5, so the exact-equality
    # oracle stays safe.  minhash_lsh_pairs fixes PAIR_HASHES = 48; the
    # incremental index keeps 64 (INDEX_HASHES); the band count is
    # LSH_BANDS = 16 for every caller.
    return minhash_lsh_pairs(docs)


# DuckDB replica of the md5-prefix simhash: hamming distance is hash-defined,
# so the only honest oracle COMPUTES THE SAME SIMHASH bit-for-bit.  md5 is the
# one hash both engines share; the operator's word_hash parameter exists for
# exactly this (operators/dedup.py md5_prefix_hash).  Top 4 bits of the 60-bit
# hash are constant-zero, so only bits 0..59 need sums.
_SIMHASH_BIT_SUMS = ",\n             ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(60)
)
_SIMHASH_ASSEMBLE = " | ".join(
    f"(CASE WHEN b{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
    for b in range(60)
)


@register(
    "d5_simhash_pairs",
    f"""
    WITH corpus AS ({_NEAR_DUPS_SQL}),
    words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM corpus
    ), hashed AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(15),
               i -> (strpos('0123456789abcdef', substr(md5(w), i+1, 1)) - 1)::BIGINT
                    << (4*(14-i))
             )) AS BIGINT) AS h
      FROM words
    ), bits AS (
      SELECT doc_id, {_SIMHASH_BIT_SUMS}
      FROM hashed GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM bits
    ), slices AS (
      SELECT doc_id, simhash, t, (simhash >> (t*16)) & 65535 AS slice
      FROM sim, (SELECT unnest(range(4)) AS t) tables
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM slices a JOIN slices b ON a.t = b.t AND a.slice = b.slice
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup pairs, hamming<=3 via 16-bit slice bucketing "
        "(operators/dedup.py simhash_pairs); single-shuffle bit-sum "
        "aggregation (no per-bit explode), in-bucket pair generation (no "
        "self-join recompute).  Uses the engine-portable md5-prefix word "
        "hash so the oracle can replicate the simhash BIT-FOR-BIT in SQL — "
        "the gate checks the exact pair set, not just row counts; "
        "precision/recall on planted near-dups asserted in "
        "tests/test_dedup.py",
    tags=("dedup",),
)
def d5(spark, sf_dir):
    from vunnel_spark.operators.dedup import md5_prefix_hash, simhash_pairs

    docs = _with_near_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash_pairs(docs, word_hash=md5_prefix_hash)


@register(
    "d6_fingerprint_dedup",
    f"""
    WITH corpus AS ({_EXACT_DUPS_SQL}),
    fp AS (SELECT doc_id, md5(substr(text, 1, 500)) AS fingerprint FROM corpus)
    SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
    doc="Head-fingerprint dedup (operators/dedup.py fingerprint_dedup; "
        "functions/text.py fingerprint): md5 of the first 500 chars — "
        "engine-version-proof by construction, SQL-expressible by design",
    tags=("dedup",),
)
def d6(spark, sf_dir):
    from vunnel_spark.operators.dedup import fingerprint_dedup

    docs = _with_exact_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return fingerprint_dedup(docs)


@register(
    "d7_embedding_dup_pairs",
    f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_DUP_BASE},
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02 + 0.005)
      FROM embeddings WHERE vec_id % 5 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9
    """,
    doc="Embedding-cosine near-dup pairs within random-hyperplane LSH "
        "buckets (operators/dedup.py embedding_dup_pairs); cosine scored on "
        "bucket-collision candidates only.  The driver corpus has no "
        "high-cosine pairs (max ~0.43), so perturbed copies (x*1.02+0.005) "
        "of every 5th vector are planted — the operator must find them. "
        "Because candidates are exact-cosine-verified, the output equals the "
        "exact >=0.9 pair set whenever LSH recall is 1.0 (it is, on this "
        "corpus: the planted pairs are the only ones, and bucket collision "
        "for near-parallel vectors is near-certain across 4 tables) — the "
        "oracle is the exact cross-pair SQL; a recall miss would surface as "
        "a row-count mismatch.  GEOMETRY IS CORPUS-DERIVED (r11 verdict): "
        "n_bits = scaled_lsh_bits(count) keeps bucket population ~190 at "
        "any SF — the gate-pinned 8-bit shape generated ~450M pre-distinct "
        "candidates at sf10; the oracle is geometry-independent (exact "
        "pair set), so no SQL mirror is needed, only recall, which fewer "
        "bits can only improve and the sf10 push measured at 1.0 for "
        "scaled bits",
    tags=("dedup", "similarity"),
)
def d7(spark, sf_dir):
    from vunnel_spark.operators.dedup import embedding_dup_pairs
    from vunnel_spark.operators.similarity import scaled_lsh_bits

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _DUP_BASE).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    bits = scaled_lsh_bits(corpus.count())
    return embedding_dup_pairs(corpus, n_bits=bits)


@register(
    "d8_jaccard_skew_capped",
    f"""
    WITH corpus AS ({_NEAR_DUPS_SQL}),
    words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words WHERE len(w) < 3
    ), capped AS (
      SELECT s.* FROM shingles s
      JOIN (SELECT shingle, count(*) AS f FROM shingles GROUP BY shingle) fr
        ON s.shingle = fr.shingle
      WHERE fr.f <= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
    """,
    doc="Jaccard pairs with the shingle-frequency skew cap "
        "(operators/dedup.py ngram_jaccard_pairs max_shingle_freq=5; the corpus max shingle frequency is ~9, so the cap provably bites): "
        "ubiquitous shingles are dropped BEFORE the self-join — the knob "
        "that keeps pair generation linear-ish at 100 TB; the oracle "
        "applies the identical cap so the gate verifies the capped "
        "semantics, not just the happy path",
    tags=("dedup",),
)
def d8(spark, sf_dir):
    from vunnel_spark.operators.dedup import ngram_jaccard_pairs

    docs = _with_near_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return ngram_jaccard_pairs(docs, threshold=0.6, max_shingle_freq=5)


_SEM_DUP_BASE = 1_000_000


@register(
    "d9_semantic_dedup",
    f"""
    SELECT vec_id + {_SEM_DUP_BASE} AS dropped_id,
           vec_id AS kept_id,
           round(list_cosine_similarity(
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02 + 0.005),
             CAST(embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings WHERE vec_id % 5 = 0
    """,
    doc="SemDeDup-style semantic dedup (operators/dedup.py semantic_dedup; "
        "Abbas et al. 2023): k-means cells via the IVF quantizer, within-"
        "cell cosine pruning, keep-lowest survivor.  Planted 2%-scaled "
        "near-dups are the only pairs above 0.95 (organic max cosine "
        "~0.43), so the exact planted set is the oracle — through "
        "distributed k-means training, literal-centroid cell assignment, "
        "and in-cell pair generation",
    tags=("dedup", "similarity"),
)
def d9(spark, sf_dir):
    from vunnel_spark.operators.dedup import semantic_dedup
    from vunnel_spark.operators.similarity import train_ivf_centroids

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _SEM_DUP_BASE).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    cents = train_ivf_centroids(corpus)
    # two cells per vector: a planted pair straddling a k-means Voronoi
    # boundary still shares a cell, so the oracle never depends on
    # quantizer boundaries
    return semantic_dedup(corpus, cents)


_CHIM_BASE = 2_000_000


@register(
    "d10_shared_span_pairs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             'chim' || CAST(doc_id AS VARCHAR) || ' ' ||
             array_to_string((regexp_split_to_array(trim(text), '\\s+'))[6:35], ' ') AS text
      FROM documents WHERE doc_id % 7 = 0
    ),
    words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus),
    sh AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
    ),
    capped AS (
      SELECT * FROM sh WHERE shingle IN (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 8)
    ),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
             a.pos - b.pos AS diff
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT id_a, id_b, diff,
             pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, diff ORDER BY pos_a) AS island
      FROM m
    ),
    runs AS (
      SELECT id_a, id_b, count(*) AS run
      FROM isl GROUP BY id_a, id_b, diff, island
    )
    SELECT id_a, id_b, CAST(max(run) + 2 AS BIGINT) AS span_tokens
    FROM runs GROUP BY id_a, id_b HAVING max(run) + 2 >= 15
    """,
    doc="Substring-level dedup: longest exact shared token span per pair "
        "(operators/dedup.py shared_span_pairs; Lee et al. 2022 public "
        "method, gaps-and-islands relational form).  Chimera docs planted "
        "from a 30-token slice of every 7th doc guarantee true spans; the "
        "oracle replicates the whole computation — positioned shingles, "
        "frequency cap, constant-offset islands — so ground truth is "
        "engine-checked, not assumed",
    tags=("dedup", "text"),
)
def d10(spark, sf_dir):
    from vunnel_spark.operators.dedup import shared_span_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    chim = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _CHIM_BASE).alias("doc_id"),
        F.concat(
            F.lit("chim"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.concat_ws(" ", F.slice(words, 6, 30)),
        ).alias("text"),
    )
    corpus = docs.unionByName(chim)
    return shared_span_pairs(corpus, min_span_tokens=15)


@register(
    "d11_dedup_clusters",
    f"""
    WITH RECURSIVE corpus AS ({_NEAR_DUPS_SQL}),
    words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words WHERE len(w) < 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    ), pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), nodes AS (
      SELECT DISTINCT u AS id FROM edges
    ), cc AS (
      SELECT id, id AS root FROM nodes
      UNION
      SELECT e.v AS id, cc.root FROM cc JOIN edges e ON e.u = cc.id
    )
    SELECT id AS doc_id, min(root) AS cluster_id, id = min(root) AS is_canonical
    FROM cc GROUP BY id
    """,
    doc="End-to-end near-dup CLUSTER ASSIGNMENT — the step a real dedup "
        "pipeline runs after pair generation: d3's MinHash-LSH verified "
        "pairs (48 hashes / 16 bands, Jaccard >= 0.8) fed through the "
        "alternating large-star/small-star connected components "
        "(operators/graph.py, Kiveris et al. SoCC 2014), emitting one "
        "(doc_id, cluster_id, is_canonical) row per clustered document "
        "with min-id as the canonical keeper.  Composition of two "
        "already-plan-audited operators: the LSH stage is the d3 plan "
        "verbatim; the closure is O(log n) rounds of groupBy.min + "
        "equi-join with per-round localCheckpoint lineage cuts, so it "
        "scales to billion-edge dup graphs where DuckDB's recursive-CTE "
        "oracle (min-label transitive closure over the exact-Jaccard "
        "pair set) is the small-scale truth.  Recall-1.0 precondition "
        "is the same one d3's oracle documents and tests assert",
    tags=("dedup", "graph"),
)
def d11(spark, sf_dir):
    from vunnel_spark.operators.dedup import minhash_lsh_pairs
    from vunnel_spark.operators.graph import connected_components

    docs = _with_near_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    pairs = minhash_lsh_pairs(docs)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


@register(
    "d12_containment_pairs",
    f"""
    WITH corpus AS ({_NEAR_DUPS_SQL}),
    words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM words WHERE len(w) < 3
    ), capped AS (
      SELECT s.* FROM shingles s
      JOIN (SELECT shingle, count(*) AS f FROM shingles GROUP BY shingle) fr
        ON s.shingle = fr.shingle
      WHERE fr.f <= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common,
           round(CAST(n_common AS DOUBLE) / sa.n, 6) AS containment_a,
           round(CAST(n_common AS DOUBLE) / sb.n, 6) AS containment_b
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(round(CAST(n_common AS DOUBLE) / sa.n, 6),
                   round(CAST(n_common AS DOUBLE) / sb.n, 6)) >= 0.95
    """,
    doc="Broder containment pairs at threshold 0.95 "
        "(operators/dedup.py containment_pairs): the ASYMMETRIC "
        "companion to d4's Jaccard — c(A in B) = |A∩B|/|A| catches "
        "subset/quotation relationships Jaccard scores near zero (a "
        "short doc embedded in a long one), the residual-duplication "
        "tail symmetric dedup leaves in web corpora.  Same linear plan "
        "as d8: per-doc distinct shingles, the max_shingle_freq=5 skew "
        "cap dropping ubiquitous shingles BEFORE the self-join (the "
        "corpus max shingle frequency is ~9, so the cap provably bites; "
        "without it a stopword 3-shingle generates O(f^2) candidate "
        "pairs at web scale), pair generation by shingle equi-join "
        "(never a cross join), both directions emitted per unordered "
        "pair, threshold decided on the ROUNDED value on both engines. "
        "The oracle applies the identical cap in its capped CTE.  The "
        "planted near-dups (original plus one appended word) hit "
        "containment 1.0 in the original->variant direction — appending "
        "only ADDS shingles and the cap is a global per-shingle "
        "property, so the subset relation survives capping",
    tags=("dedup",),
)
def d12(spark, sf_dir):
    from vunnel_spark.operators.dedup import containment_pairs

    docs = _with_near_dups(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return containment_pairs(docs)


@register(
    "d13_incremental_lsh_probe",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    batch AS (
      SELECT doc_id + {_DUP_BASE} AS doc_id, text || ' spark' AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {2 * _DUP_BASE} AS doc_id,
             'zz' || CAST(doc_id AS VARCHAR) || ' qq' ||
             CAST(doc_id AS VARCHAR) || ' ww' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 7 = 0
    ), cw AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
    ), bw AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM batch
    ), cs AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM cw, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM cw WHERE len(w) < 3
    ), bs AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM bw, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
      WHERE len(w) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM bw WHERE len(w) < 3
    ), csz AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY doc_id),
    bsz AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY doc_id),
    common AS (
      SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS n_common
      FROM bs b JOIN cs c ON b.shingle = c.shingle
      GROUP BY new_id, corpus_id
    )
    SELECT new_id, corpus_id,
           round(CAST(n_common AS DOUBLE) / (bn.n + cn.n - n_common), 6)
             AS jaccard
    FROM common
    JOIN bsz bn ON bn.doc_id = new_id
    JOIN csz cn ON cn.doc_id = corpus_id
    WHERE CAST(n_common AS DOUBLE) / (bn.n + cn.n - n_common) >= 0.5
    """,
    doc="Incremental LSH dedup serving path end-to-end (operators/"
        "dedup.py write_lsh_index + minhash_lsh_pairs_incremental): the "
        "corpus is signed ONCE into a persisted (id, band, bucket) index "
        "(~24 bytes x bands per doc regardless of text size); an ingest "
        "batch — planted near-dups of every 5th corpus doc plus novel "
        "docs with disjoint shingles — signs only ITSELF and probes the "
        "index with one (band, bucket) equi-join; candidates verify by "
        "exact Jaccard over candidate docs only (the d3 discipline: "
        "corpus docs semi-join to candidate ids before re-shingling).  "
        "The oracle is the full exact batch-x-corpus Jaccard>=0.5 answer "
        "via an asymmetric shingle equi-join, so probe RECALL is "
        "value-gated (the same recall-1.0 precondition d3 documents), "
        "and the novel docs gate precision (they must produce nothing).  "
        "Scale: this is THE 100 TB dedup shape — per-batch cost scales "
        "with the batch, never the corpus",
    tags=("dedup", "incremental"),
)
def d13(spark, sf_dir):
    import os

    from vunnel_spark.operators.dedup import (
        _word_shingles,
        minhash_lsh_pairs_incremental,
        write_lsh_index,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _DUP_BASE).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2 * _DUP_BASE).alias("doc_id"),
            F.concat(
                F.lit("zz"), F.col("doc_id").cast("string"),
                F.lit(" qq"), F.col("doc_id").cast("string"),
                F.lit(" ww"), F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    index_path = os.path.join(scratch_dir("d13_"), "lsh_index")
    write_lsh_index(docs, index_path)
    cand = minhash_lsh_pairs_incremental(batch, index_path).persist()
    cand.count()  # eager: cand feeds the two id semi-joins below
    # verify candidates only: exact Jaccard between each candidate pair's
    # shingle sets; docs semi-join to candidate ids BEFORE re-shingling
    new_sets = (
        _word_shingles(
            batch.join(
                F.broadcast(
                    cand.select(F.col("new_id").alias("doc_id")).distinct()
                ),
                "doc_id",
                "left_semi",
            ),
        )
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("_sa"), F.count(F.lit(1)).alias("n_a"))
        .select(F.col("id").alias("new_id"), "_sa", "n_a")
    )
    corpus_sets = (
        _word_shingles(
            docs.join(
                F.broadcast(
                    cand.select(F.col("corpus_id").alias("doc_id")).distinct()
                ),
                "doc_id",
                "left_semi",
            ),
        )
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("_sb"), F.count(F.lit(1)).alias("n_b"))
        .select(F.col("id").alias("corpus_id"), "_sb", "n_b")
    )
    return (
        cand.join(new_sets, "new_id")
        .join(corpus_sets, "corpus_id")
        .withColumn("_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "_jacc",
            F.col("_common") / (F.col("n_a") + F.col("n_b") - F.col("_common")),
        )
        # filter the unrounded ratio, round only in the final select —
        # the exact order of operations the DuckDB oracle uses
        .filter(F.col("_jacc") >= 0.5)
        .select("new_id", "corpus_id", F.round("_jacc", 6).alias("jaccard"))
    )
