"""Dedup / similarity operator behavior tests: planted duplicates must be
found, LSH recall vs the exact baseline must clear a floor, and the
candidate-only verification path must not regress pair quality.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from vunnel_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"),
    )
    return base.unionByName(near).cache()


def planted_pairs(df):
    return {
        (r.doc_id, r.doc_id + 1_000_000)
        for r in df.filter(F.col("doc_id") < 1_000_000)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
        .collect()
    }


def test_exact_dedup_finds_planted_copies(spark, sf_dir):
    from vunnel_spark.operators.dedup import exact_dedup

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = base.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    n_base = base.count()
    n_dup = dups.count()
    groups = exact_dedup(base.unionByName(dups))
    assert groups.count() == n_base  # one group per distinct text
    assert groups.filter(F.col("n_copies") == 2).count() == n_dup


def test_minhash_lsh_recall_vs_exact(spark, docs):
    from vunnel_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "no exact near-dup pairs — planted dups missing?"
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(exact)} exact pairs)"
    # verification must keep precision exact: every verified pair is real
    assert lsh <= exact


def test_simhash_finds_planted_near_dups(spark, docs):
    from vunnel_spark.operators.dedup import simhash_pairs

    found = {(r.id_a, r.id_b) for r in simhash_pairs(docs).collect()}
    planted = planted_pairs(docs)
    hit = len(found & planted) / len(planted)
    # one appended word on a >=20-word doc flips few simhash bits
    assert hit >= 0.7, f"simhash found only {hit:.2f} of planted near-dups"


def test_embedding_dup_pairs_find_planted(spark, sf_dir):
    from vunnel_spark.operators.dedup import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    n_planted = planted.count()
    pairs = embedding_dup_pairs(emb.unionByName(planted))
    rows = pairs.collect()
    assert rows, "no embedding near-dups found"
    found = {(r.id_a, r.id_b) for r in rows}
    expect = {(r.vec_id, r.vec_id + 1_000_000) for r in emb.filter(F.col("vec_id") % 5 == 0).collect()}
    hit = len(found & expect) / n_planted
    assert hit >= 0.5, f"embedding LSH found only {hit:.2f} of planted pairs"
    # every reported pair must genuinely clear the threshold
    assert all(r.cos_sim >= 0.9 for r in rows)


def test_lsh_topk_recall(spark, sf_dir):
    from vunnel_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"ANN recall {recall:.2f} < 0.8"


def test_semantic_dedup_keep_lowest_and_best_match(spark):
    """Unit semantics: within a cell, every >=threshold pair marks the
    HIGHER id dropped; a doc near two kept docs reports its best match."""
    from vunnel_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),      # kept
        (2, [0.999, 0.01]),   # dup of 1
        (3, [0.0, 1.0]),      # kept, different direction
        (4, [0.97, 0.08]),    # near 1 AND 2; best match decides kept_id
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # one centroid: everything lands in a single cell -> pure semantics test
    out = {
        r.dropped_id: (r.kept_id, r.cos_sim)
        for r in semantic_dedup(df, [[0.5, 0.5]]).collect()
    }
    assert set(out) == {2, 4}
    assert out[2][0] == 1
    # 4's best match is whichever of 1/2 has higher cosine (tie -> lower id)
    assert out[4][0] in (1, 2) and out[4][1] >= 0.95
    # 1 and 3 never dropped (cos(1,3)=0)


def test_shared_span_pairs_exact_runs(spark):
    """Known geometry: B copies tokens 3..12 of A (10 tokens); C shares
    nothing; D repeats A's span twice (longest single run still 10)."""
    from vunnel_spark.operators.dedup import shared_span_pairs

    a = "w0 w1 w2 s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 w13 w14"
    span = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
    docs = spark.createDataFrame(
        [
            (1, a),
            (2, f"x0 x1 {span} x2"),
            (3, "y0 y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"),
            (4, f"z0 {span} z1 {span}"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): r.span_tokens
        for r in shared_span_pairs(docs, min_span_tokens=8).collect()
    }
    assert out[(1, 2)] == 10 and out[(1, 4)] == 10 and out[(2, 4)] == 10
    assert not any(3 in pair for pair in out)

    # below-threshold spans are excluded; k-1 overlap never counts as a run
    none = shared_span_pairs(docs, min_span_tokens=11).collect()
    assert none == []


def test_shared_span_pairs_freq_cap_splits_runs(spark):
    """A shingle over the cap drops out, splitting runs deterministically
    — the skew guard changes ground truth the same way in both engines."""
    from vunnel_spark.operators.dedup import shared_span_pairs

    span = "s0 s1 s2 s3 s4 s5 s6 s7"
    rows = [(i, f"p{i} {span} q{i}") for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # nine docs: every span shingle occurs 9x, over the cap of 8 -> no pairs
    assert shared_span_pairs(docs, min_span_tokens=5).collect() == []
    out = shared_span_pairs(docs.filter("doc_id < 8"), min_span_tokens=5).collect()
    assert len(out) == 28  # all C(8,2) pairs share the full 8-token span
    assert all(r.span_tokens == 8 for r in out)


def test_containment_pairs_freq_cap_kills_stopword_flood(spark):
    """A ubiquitous shingle ('of the and' in every doc) floods pair
    generation O(f^2) without the cap; with it, only pairs related
    through RARE shingles survive — and a genuine subset pair keeps
    containment 1.0 because the cap is a global per-shingle property
    (it drops the same shingles from both sides of A ⊆ B)."""
    from vunnel_spark.operators.dedup import containment_pairs

    flood = [(i, "of the and") for i in range(8)]
    base = "alpha beta gamma delta epsilon"
    rows = flood + [(100, base), (101, base + " zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # five flood docs sit at the cap of 5, so their shingle still pairs
    under_cap = containment_pairs(docs.filter("doc_id >= 3")).collect()
    assert len(under_cap) == 10 + 1  # C(5,2) flood pairs + the real one

    capped = containment_pairs(docs).collect()
    assert [(r.id_a, r.id_b) for r in capped] == [(100, 101)]
    assert capped[0].containment_a == 1.0  # doc 100's shingles all in 101


def test_shared_span_pairs_matches_dp_reference(spark):
    """Randomized cross-check: the islands formulation must equal the
    classic longest-common-substring-of-tokens DP for every pair.  Small
    alphabet on purpose — repeated tokens create overlapping shingle
    matches at many offsets, the hard case for run detection."""
    import random

    from vunnel_spark.operators.dedup import shared_span_pairs

    def lcs_tokens(a, b):
        best, prev = 0, [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        toks = {
            i: [rng.choice("abcdefgh") for _ in range(rng.randint(3, 25))]
            for i in range(14)
        }
        docs = spark.createDataFrame(
            [(i, " ".join(ts)) for i, ts in toks.items()],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b): r.span_tokens
            for r in shared_span_pairs(docs, min_span_tokens=4).collect()
        }
        want = {}
        for i in toks:
            for j in toks:
                if i < j and (span := lcs_tokens(toks[i], toks[j])) >= 4:
                    want[(i, j)] = span
        assert got == want, (seed, got, want)


def test_incremental_lsh_probes_index_without_rereading_corpus(spark, tmp_path):
    """Batch N+1 signs only its own docs: planted near-dups of indexed
    corpus docs must surface as (new, corpus) candidates via the stored
    bucket table, and the probe plan must scan the INDEX parquet, never
    the corpus documents."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from vunnel_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        write_lsh_index,
    )
    from vunnel_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    index = str(tmp_path / "lsh_index")
    write_lsh_index(docs, index)

    # new batch: near-dup variants of every 10th corpus doc + one novel doc
    new = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" incremental")).alias("text"),
    ).unionByName(
        spark.createDataFrame(
            [(9_999_999, "entirely novel text with no twin anywhere qq zz")],
            "doc_id long, text string",
        )
    )
    cand = minhash_lsh_pairs_incremental(new, index)
    got = {(r.new_id, r.corpus_id) for r in cand.collect()}
    planted = {
        (r.doc_id + 5_000_000, r.doc_id)
        for r in docs.filter(F.col("doc_id") % 10 == 0).collect()
    }
    assert planted <= got  # every planted pair recalled
    assert not any(n == 9_999_999 for n, _ in got)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    assert "lsh_index" in plan
    # exactly ONE documents scan — the new batch's own source; the CORPUS
    # side enters via the index table only (a non-incremental formulation
    # would scan documents twice: once per join side)
    assert len(re.findall(r"Location.*documents\.parquet", plan)) == 1, plan

    # appending the batch makes the next batch see it
    write_lsh_index(new, index, mode="append")
    again = minhash_lsh_pairs_incremental(
        spark.createDataFrame(
            [(8_888_888, "entirely novel text with no twin anywhere qq zz")],
            "doc_id long, text string",
        ),
        index,
    )
    assert {(r.new_id, r.corpus_id) for r in again.collect()} == {(8_888_888, 9_999_999)}
