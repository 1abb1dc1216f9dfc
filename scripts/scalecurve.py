#!/usr/bin/env python
"""Scale-curve measurement: time a query list across SF directories.

Usage:
  python scripts/scalecurve.py [out_json]          # the main curve
  python scripts/scalecurve.py --scaled-ann [sf_dir] [out_json]
  python scripts/scalecurve.py --osv1-pipeline [sf_dir] [out_json]

--scaled-ann reproduces the ANN configuration-scaling demonstrations
(SCALECURVE.md): the gate queries pin index granularity so their
planted-pair oracles don't depend on quantizer boundaries, which makes
cell/bucket size grow linearly with the corpus; this mode re-runs the
same operators with granularity SIZED TO THE CORPUS (nlist ~
n_vectors/target_cell, LSH bits ~ log2(n_vectors/target_bucket)) and
verifies planted-pair recall is preserved.  It also measures n8's scale
path — the IVF+PQ composition (n9's operator) on n8's trained-codebook
retrieval workload — and an n8 reduced-query control that pins the
flat-ADC cost model (time ~ queries x corpus).  Fixed-granularity
baseline times come from the MAIN curve run (same queries, same SFs).

--osv1-pipeline pre-materializes osv1's synthesized nested-advisory
corpus to parquet (its production INPUT) and times the patch pipeline
alone — the main curve's osv1 number includes the in-query synthesis
join, which is not pipeline work.

Runs the bench HEADLINE plus the most expensive non-headline registry
queries (CURVE_EXTRA, ranked by a prior sf0.1 sweep) at sf0.01 / sf0.1 /
sf1 (the key-shifted corpus from scripts/make_scale_data.py) and
reports per-query times and sf0.1->sf1 ratios.  One warm-up + two
measured runs per (query, sf); the MIN is reported — for a scaling
RATIO the floor is the right statistic (host-load spikes only ever
inflate).

Interpretation bar (VERDICT r8 #1): data grows 10x from sf0.1 to sf1,
so a healthy ratio is ~<=10-15x (linear work, sublinear constants with
fixed overheads amortizing); materially above that suggests a
superlinear stage and earns a plan audit.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402 - the one headline list

#: shuffle-exchange detector (broadcast exchanges don't redistribute the
#: probe side) — shared semantics with scripts/audit_partitions.py
SHUFFLE_RE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|SinglePartition|"
    r"RoundRobinPartitioning)"
)

SF_DIRS = {
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, ".scaledata", "sf1"),
    "sf10": os.path.join(REPO, ".scaledata", "sf10"),
}

# the most expensive non-headline registry queries by the r14 sf0.1
# sweep under the fanout policy (registry_sweep_r14.json; the r9
# ranking's m16/m18 turned out to be single-partition serialization
# artifacts — 20+ s serialized, 1.3-1.8 s at 32-way — so the refreshed
# list is the genuine operator frontier: ANN index builds, semantic
# dedup, and the n-gram text family) — overridden by argv[2]
CURVE_EXTRA: list[str] = [
    "n8_pq_rerank_retrieval",
    "d9_semantic_dedup",
    "x21_boilerplate_phrases",
    "n6_ann_lsh_dup_retrieval",
    "x17_bigram_perplexity",
    "x22_perplexity_buckets",
    "g3_chain_components",
    "n2_ann_lsh_topk",
    "n5_ann_ivf_dup_retrieval",
    "openvex1_libraries_dag",
]


def _timed(fn) -> tuple[float, object]:
    t0 = time.monotonic()
    res = fn()
    return round(time.monotonic() - t0, 3), res


def consume(df) -> None:
    """Benchmark action that consumes EVERY output column.

    ``count()`` lets Catalyst prune anything that doesn't change the
    row count — pure-projection stages, WINDOW functions, and final
    SORTs all fold away (the r11 x27 lesson: a projection-only packing
    query measured as a parquet-footer no-op).  The noop datasource
    iterates all rows and materializes each column, so the timed plan
    is the plan a real consumer would run.  sweep_action_audit.json
    records the per-query audit of which registry queries the count()
    action was silently truncating.
    """
    df.write.format("noop").mode("overwrite").save()


def scaled_nlist(n_vectors: int, target_cell: int = 375) -> int:
    """Delegates to the library rule (operators/similarity.py) — the
    registered queries now derive granularity from the same function, so
    harness and gate can't drift apart."""
    from vunnel_spark.operators.similarity import scaled_ivf_nlist

    return scaled_ivf_nlist(n_vectors, target_cell)


def scaled_bits(n_vectors: int, target_bucket: int = 190) -> int:
    """Delegates to operators/similarity.py scaled_lsh_bits (see
    scaled_nlist)."""
    from vunnel_spark.operators.similarity import scaled_lsh_bits

    return scaled_lsh_bits(n_vectors, target_bucket)


def run_scaled_ann(sf_dir: str, out_json: str) -> None:
    from pyspark.sql import Window, functions as F

    from vunnel_spark.operators.dedup import semantic_dedup
    from vunnel_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
        lsh_topk,
        pq_adc_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from vunnel_spark.session import get_spark, load_table

    spark = get_spark("scaled-ann")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # The gate workload: planted 2%-scaled near-dups of every 5th vector.
    # Two sf1-specific adaptations vs the gate queries (which run on the
    # organic driver corpora):
    # - planted ids sit at +100M — the scale data's key-shifted copies
    #   stride at 1M (make_scale_data.py SMALL), so the gates' +1M base
    #   would collide with copy ids;
    # - recall is FAMILY-level: the scaled corpus contains genuine
    #   0.999+-cosine near-dup families by construction (ten per-copy
    #   perturbations of each source vector — the documented dup-density
    #   caveat), and a replica of the query's source IS its nearest
    #   neighbor, so "retrieved some family member" is the correct
    #   retrieval-quality metric here.  On organic corpora (the sf0.1
    #   smoke) every family is a singleton and this reduces to the gates'
    #   exact-original match.
    base, family = 100_000_000, 1_000_000
    # Guard the family metric's id-layout assumption (ADVICE r10): vec_id
    # % 1M identifies a vector's source family ONLY if every organic id
    # >= 1M is a stride-aligned copy — its residue must itself exist as a
    # base id.  An organic corpus with arbitrary ids above 1M would alias
    # unrelated vectors mod 1M and silently inflate recall; fail loudly
    # instead.  (Organic sf0.1 corpora sit entirely below 1M and pass
    # trivially; the make_scale_data.py corpora stride copies at exactly
    # 1M and pass by construction.)
    organic_max = emb.agg(F.max("vec_id")).first()[0]
    assert organic_max < base, (
        f"organic ids reach {organic_max}, colliding with the planted "
        f"base {base} — raise the base"
    )
    if organic_max >= family:
        bases = emb.filter(F.col("vec_id") < family).select("vec_id")
        orphans = (
            emb.filter(F.col("vec_id") >= family)
            .select((F.col("vec_id") % family).alias("vec_id"))
            .distinct()
            .join(bases, "vec_id", "left_anti")
            .count()
        )
        assert orphans == 0, (
            f"{orphans} organic ids >= {family} are not stride-aligned "
            "copies of a base id — family-level recall would alias "
            "unrelated vectors; use exact-id matching for this corpus"
        )
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + base).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted).persist()
    n_corpus = corpus.count()
    n_planted = planted.count()
    nlist = scaled_nlist(n_corpus)
    bits = scaled_bits(n_corpus)

    def family_match(qcol, ncol):
        return (F.col(qcol) % family) == (F.col(ncol) % family)

    print(f"corpus={n_corpus} planted={n_planted} nlist={nlist} bits={bits}",
          flush=True)
    results: dict[str, dict] = {
        "_config": {"sf_dir": sf_dir, "n_corpus": n_corpus,
                    "n_planted": n_planted, "nlist": nlist, "bits": bits},
    }

    # --- d9 semantic_dedup, scaled nlist: every planted doc must be
    # identified as a duplicate of a family member
    cents = train_ivf_centroids(corpus, nlist=nlist)
    dt, rows = _timed(
        lambda: semantic_dedup(corpus, cents, threshold=0.95, nprobe=2)
        .filter(
            (F.col("dropped_id") >= base)
            & family_match("dropped_id", "kept_id")
        )
        .select("dropped_id")
        .distinct()
        .count()
    )
    results["d9_semantic_dedup"] = {
        "time_s": dt, "granularity": f"nlist={nlist}",
        "planted_recall": round(rows / n_planted, 4),
    }
    print("d9:", results["d9_semantic_dedup"], flush=True)

    # --- n5 IVF retrieval, scaled nlist (reuses the trained centroids)
    dt, rows = _timed(
        lambda: ivf_topk(corpus, planted, cents, k=1, nprobe=4)
        .filter(
            (F.col("cos_sim") >= 0.9)
            & family_match("query_id", "neighbor_id")
        )
        .count()
    )
    results["n5_ivf_topk"] = {
        "time_s": dt, "granularity": f"nlist={nlist}",
        "planted_recall": round(rows / n_planted, 4),
    }
    print("n5:", results["n5_ivf_topk"], flush=True)

    # --- n6 LSH retrieval, scaled bits
    dt, rows = _timed(
        lambda: lsh_topk(corpus, planted, k=1, n_bits=bits, n_tables=16)
        .filter(
            (F.col("cos_sim") >= 0.9)
            & family_match("query_id", "neighbor_id")
        )
        .count()
    )
    results["n6_lsh_topk"] = {
        "time_s": dt, "granularity": f"bits={bits}x16tables",
        "planted_recall": round(rows / n_planted, 4),
    }
    print("n6:", results["n6_lsh_topk"], flush=True)

    # --- n8's scale path MEASURED: IVF+PQ (n9's operator) on n8's
    # trained-codebook workload — coarse quantizer prunes the lists,
    # ADC shortlist k=16, exact-cosine rerank surfaces the family
    books = train_pq_codebooks(corpus, m=8, ks=16, dim=64)
    corpus_vecs = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )

    def _ivfpq_rerank():
        short = ivf_pq_topk(corpus, planted, cents, books, k=16, nprobe=4)
        from vunnel_spark.functions.vectors import cosine

        qv = planted.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
        )
        reranked = (
            short.join(qv, "query_id")
            .join(corpus_vecs, "neighbor_id")
            .withColumn("cos_sim", cosine(F.col("_qv"), F.col("_cv")))
            .withColumn(
                "rr",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("cos_sim"), "neighbor_id"
                    )
                ),
            )
            .filter(
                (F.col("rr") == 1) & family_match("query_id", "neighbor_id")
            )
        )
        return reranked.count()

    dt, rows = _timed(_ivfpq_rerank)
    results["n9_ivfpq_rerank"] = {
        "time_s": dt, "granularity": f"nlist={nlist},nprobe=4,shortlist=16",
        "planted_recall": round(rows / n_planted, 4),
    }
    print("n9:", results["n9_ivfpq_rerank"], flush=True)

    # --- n8 control: flat ADC at 1/10th the queries — per-query cost
    # should match the full run's (time ~ Q x N), pinning the geometry
    ctrl_q = planted.filter(F.col("vec_id") % 50 == 0)
    n_ctrl = ctrl_q.count()
    dt, rows = _timed(
        lambda: pq_adc_topk(corpus, ctrl_q, books, k=1, rerank=64)
        .filter(
            (F.col("cos_sim") >= 0.9)
            & family_match("query_id", "neighbor_id")
        )
        .count()
    )
    results["n8_flat_adc_control"] = {
        "time_s": dt, "granularity": f"flat ADC, {n_ctrl} queries",
        "per_query_s": round(dt / max(1, n_ctrl), 4),
        "planted_recall": round(rows / n_ctrl, 4),
    }
    print("n8 control:", results["n8_flat_adc_control"], flush=True)

    # --- d7 embedding_dup_pairs, scaled bits (round 11: the top10-sf10
    # push found the REGISTERED d7 — gate-pinned n_bits=8 — OOMs at sf10:
    # 8 bits on a 2.88M corpus means ~11k members per bucket, and the
    # per-bucket pair array is tens of GB in one row.  d7 joins the
    # documented fixed-granularity class: bits must scale with
    # log2(n/target_bucket).  Recall here = every planted near-dup pairs
    # with a family member at >= 0.9 (its 2%-perturbed source sits at
    # cosine ~0.9998, so a bucket collision is the only way to miss).
    # NOTE the sf10 geometry is additionally output-bound BY CORPUS
    # CONSTRUCTION: the scale data carries ~100 identical copies per
    # source vector, so the TRUE >=0.9 pair set is ~(copies^2)/2 per
    # family (~170M rows at sf10) — a real pipeline runs exact dedup
    # (d1/m6) before embedding dedup precisely so identical copies never
    # reach the pair stage; sf1 (~11 copies/family) is the largest SF at
    # which measuring the full pair set is meaningful.
    from vunnel_spark.operators.dedup import embedding_dup_pairs

    dt, rows = _timed(
        lambda: embedding_dup_pairs(
            corpus, threshold=0.9, n_tables=4, n_bits=bits
        )
        .filter(family_match("id_a", "id_b"))
        .select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .filter(F.col("v") >= base)
        .distinct()
        .count()
    )
    results["d7_embedding_dup_pairs"] = {
        "time_s": dt, "granularity": f"bits={bits}x4tables",
        "planted_recall": round(rows / n_planted, 4),
    }
    print("d7:", results["d7_embedding_dup_pairs"], flush=True)

    with open(out_json, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results, indent=1))


def run_d7_scaled(sf_dir: str, out_json: str) -> None:
    """d7's gate workload with corpus-scaled LSH bits, at any SF.

    The round-11 top10-sf10 push found the registered d7 (gate-pinned
    n_bits=8) fails at sf10 twice over: the ORIGINAL operator shape
    collected bucket members with their vectors and materialized the
    per-bucket pair array in one row (OOM — fixed this round: thin id
    buckets + candidate-only vector joins, minhash_lsh_pairs'
    discipline), and the FIXED shape at 8 bits still generates ~450M
    pre-distinct candidates because ~937-member buckets pair
    quadratically — it spills correctly now (cluster-feasible) but
    exceeds this box's disk.  The production config is the documented
    ANN scaling rule: bits ~ log2(n/target_bucket).  This mode measures
    exactly that: the gate's planted workload, threshold 0.9, scaled
    bits, family-level recall (the scale corpora carry genuine
    0.999-cosine copy families — the documented dup-density caveat — so
    the within-family pair set IS the true answer)."""
    from pyspark.sql import functions as F

    from vunnel_spark.operators.dedup import embedding_dup_pairs
    from vunnel_spark.session import get_spark, load_table

    spark = get_spark("d7-scaled")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base, family = 100_000_000, 1_000_000
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + base).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.02 + 0.005).alias("embedding"),
    )
    corpus = emb.unionByName(planted).persist()
    n_corpus = corpus.count()
    n_planted = planted.count()
    bits = scaled_bits(n_corpus)
    dt, found = _timed(
        lambda: embedding_dup_pairs(
            corpus, threshold=0.9, n_tables=4, n_bits=bits
        )
        .filter((F.col("id_a") % family) == (F.col("id_b") % family))
        .select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .filter(F.col("v") >= base)
        .distinct()
        .count()
    )
    result = {
        "sf_dir": sf_dir,
        "n_corpus": n_corpus,
        "bits": bits,
        "time_s": dt,
        "planted": n_planted,
        "planted_recall": round(found / max(1, n_planted), 4),
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))


def run_osv1_pipeline(sf_dir: str, out_json: str) -> None:
    import shutil
    import tempfile

    from vunnel_spark.queries.pipelines_q import osv1_inputs, osv1_run
    from vunnel_spark.session import get_spark

    spark = get_spark("osv1-pipeline")
    advisories, fixdates = osv1_inputs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="osv1_scale_")
    try:
        advisories.write.parquet(os.path.join(tmp, "advisories"))
        fixdates.write.parquet(os.path.join(tmp, "fixdates"))
        adv = spark.read.parquet(os.path.join(tmp, "advisories"))
        fxd = spark.read.parquet(os.path.join(tmp, "fixdates"))
        samples = []
        for run in range(2):  # 1 codegen warm-up + 1 measured
            spark.catalog.clearCache()
            dt, n = _timed(lambda: osv1_run(adv, fxd).count())
            if run:
                samples.append(dt)
        result = {
            "sf_dir": sf_dir,
            "pipeline_only_s": min(samples),
            "rows": n,
            "note": "nested input pre-materialized to parquet; the main "
                    "curve's osv1 number additionally includes the "
                    "orders x lineitem synthesis join",
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))


def run_debian1_scaled(sf_dir: str, id_scale: int, out_json: str) -> None:
    """debian1 with the synthesized id space widened by the SF ratio.

    The registered query's moduli (%100 DSA bases, %300 CVEs, %20 pkgs)
    are SF-invariant so its per-(ns, vid) assembly payloads grow
    linearly with the corpus — at sf10 the collect_list state OOMs a
    local[32] JVM.  Production id spaces grow with the corpus; this mode
    measures the pipeline under that (realistic) geometry."""
    from vunnel_spark.queries.pipelines_q import debian1
    from vunnel_spark.session import get_spark

    spark = get_spark("debian1-scaled")
    samples = []
    for run in range(2):  # 1 codegen warm-up + 1 measured
        spark.catalog.clearCache()
        dt, n = _timed(lambda: debian1(spark, sf_dir, id_scale=id_scale).count())
        if run:
            samples.append(dt)
    result = {"sf_dir": sf_dir, "id_scale": id_scale,
              "time_s": min(samples), "rows": n}
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))


#: fixed-granularity ANN retrieval gates: their planted-query workload
#: scales queries x corpus (quadratic) BY GATE CONSTRUCTION, so an sf10
#: wall-clock says nothing about the operator — their scale story is the
#: config-scaling demonstrations (--scaled-ann / --d7-scaled, recall
#: verified), same adjudication as the r10 sweep's sf1 exclusions.
_ANN_GEOMETRY_SKIP = ("n9_ivfpq_topk", "n2_ann_lsh_topk", "n7_pq_adc_topk")


def run_cc_profile(sf_dirs: list[str], out_json: str) -> None:
    """Split g1's cost into pair generation vs closure, per SF.

    The round-11 top10-sf10 curve put g1_dup_components at 56x on 100x
    data — the worst ratio in the registry.  g1 composes two stages with
    different scaling laws: exact-Jaccard pair generation (d4's core —
    pair count grows quadratically inside dup families, the adjudicated
    dup-dense-corpus class) and the large-star/small-star closure, which
    should be ~linear in EDGES x rounds.  This mode materializes the
    pair set to parquet first, then times connected_components alone
    with round/edge instrumentation, so the closure's own scaling is
    measured against its true input size, not the corpus SF.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vunnel_spark.operators.dedup import ngram_jaccard_pairs
    from vunnel_spark.operators.graph import connected_components
    from vunnel_spark.queries._util import with_near_dups
    from vunnel_spark.session import get_spark, load_table

    spark = get_spark("cc-profile")
    results: dict[str, object] = {
        "_method": "g1 decomposed: pairs materialized to parquet (timed), "
        "then connected_components alone (timed, with rounds/edges from "
        "the operator's stats hook).  Regenerate: scalecurve.py "
        "--cc-profile <out> [sf_dir,...]",
    }
    for sf_dir in sf_dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        docs = with_near_dups(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        tmp = tempfile.mkdtemp(prefix="ccprof_")
        try:
            pairs_path = os.path.join(tmp, "pairs")
            t_pairs, _ = _timed(
                lambda: ngram_jaccard_pairs(docs, threshold=0.8)
                .select("id_a", "id_b")
                .write.mode("overwrite")
                .parquet(pairs_path)
            )
            pairs = spark.read.parquet(pairs_path)
            stats: dict = {}
            t_cc, n_nodes = _timed(
                lambda: connected_components(
                    pairs, "id_a", "id_b", stats=stats
                ).count()
            )
            results[label] = {
                "pairs_sec": round(t_pairs, 3),
                "cc_sec": round(t_cc, 3),
                "edges_in": stats.get("edges_in"),
                "rounds": stats.get("rounds"),
                "nodes_out": n_nodes,
            }
            print(label, results[label], flush=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(out_json, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results, indent=1))


def run_top10_sf10(out_json: str, top_n: int = 10) -> None:
    """Push the most expensive non-headline registry queries to sf10.

    Target list = top ``top_n`` by sf1 time from the committed
    full-registry sweep (registry_sweep_r10.json), minus the HEADLINE,
    everything already curved at sf10 in committed artifacts
    (scalecurve_pairs_sf10_r10.json, scalecurve_llm_r10.json, debian1),
    the fixed-granularity ANN gates (_ANN_GEOMETRY_SKIP), and — when
    ``out_json`` already exists — its own prior entries, so re-invoking
    with a larger ``top_n`` CONTINUES the curve instead of re-measuring.

    Each query runs in its OWN subprocess/SparkSession — running many
    heavy sf10 queries inside one JVM accumulates executor state and
    OOMs queries that pass in isolation (round-10 harness lesson).  A
    subprocess failure is recorded as an error entry, not fatal, so one
    OOM doesn't lose the rest of the curve."""
    import subprocess
    import tempfile

    ranking = os.path.join(REPO, "registry_sweep_r12.json")
    if not os.path.exists(ranking):  # pre-r12 checkouts
        ranking = os.path.join(REPO, "registry_sweep_r10.json")
    with open(ranking) as f:
        data = json.load(f)
        # r10's file wraps times under "queries"; the r12 sweep (noop
        # consuming action) recorded the flat name->sec map
        sweep = data.get("queries", data)
    done = set(HEADLINE) | {"debian1_legacy_merge_dag"}
    done |= set(_ANN_GEOMETRY_SKIP)
    for prior in ("scalecurve_pairs_sf10_r10.json", "scalecurve_llm_r10.json"):
        p = os.path.join(REPO, prior)
        if os.path.exists(p):
            with open(p) as f:
                done |= set(json.load(f))
    merged: dict[str, object] = {}
    if os.path.exists(out_json):
        with open(out_json) as f:
            merged = json.load(f)
        done |= {k for k in merged if not k.startswith("_")}
    ranked = sorted(
        (
            (v["sf1"], name)
            for name, v in sweep.items()
            if isinstance(v, dict)
            and isinstance(v.get("sf1"), (int, float))
            and name not in done
        ),
        reverse=True,
    )
    targets = [name for _, name in ranked[:top_n]]
    merged["_method"] = (
        "most expensive non-headline registry queries by sf1 time "
        "(registry_sweep_r10.json), excluding those already curved at "
        "sf10 in committed artifacts and the fixed-granularity ANN gates "
        "(quadratic queries-x-corpus workload by gate construction — see "
        "--scaled-ann); each at sf0.1 AND sf10 (100x data) in its own "
        "subprocess session, 1 warm-up + measured min. Resumable: "
        "re-invoke with the same out file to continue. Regenerate: "
        "scalecurve.py --top10-sf10 <out> [top_n]"
    )
    merged["_targets"] = sorted(
        set(merged.get("_targets", [])) | set(targets)
    )
    for name in targets:
        tmp = tempfile.mktemp(prefix=f"top10_{name}_", suffix=".json")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), tmp,
             f"only:{name}", "sf0.1,sf10"],
            capture_output=True, text=True,
        )
        if proc.returncode == 0 and os.path.exists(tmp):
            with open(tmp) as f:
                merged[name] = json.load(f)[name]
            os.remove(tmp)
        else:
            tail = (proc.stderr or proc.stdout or "").strip().splitlines()
            merged[name] = {"error": " | ".join(tail[-3:]) or
                            f"exit {proc.returncode}"}
        print(f"{name}: {json.dumps(merged[name])}", flush=True)
        with open(out_json, "w") as f:  # checkpoint after every query
            json.dump(merged, f, indent=1)
    print(json.dumps(merged, indent=1))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--top10-sf10":
        out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
            REPO, "scalecurve_top10_r11.json"
        )
        top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
        run_top10_sf10(out, top_n=top_n)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--cc-profile":
        out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
            REPO, "cc_profile_r11.json"
        )
        dirs = (
            sys.argv[3].split(",")
            if len(sys.argv) > 3
            else ["/root/testdata/sf0.1", os.path.join(REPO, ".scaledata", "sf10")]
        )
        run_cc_profile(dirs, out)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--debian1-scaled":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
            REPO, ".scaledata", "sf10"
        )
        id_scale = int(sys.argv[3]) if len(sys.argv) > 3 else 100
        out = sys.argv[4] if len(sys.argv) > 4 else os.path.join(
            REPO, "debian1_scaled_results.json"
        )
        run_debian1_scaled(sf_dir, id_scale, out)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--scaled-ann":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
            REPO, ".scaledata", "sf1"
        )
        out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
            REPO, "scaled_ann_results.json"
        )
        run_scaled_ann(sf_dir, out)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--d7-scaled":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
            REPO, ".scaledata", "sf10"
        )
        out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
            REPO, "d7_scaled_results.json"
        )
        run_d7_scaled(sf_dir, out)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--osv1-pipeline":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
            REPO, ".scaledata", "sf1"
        )
        out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
            REPO, "osv1_pipeline_results.json"
        )
        run_osv1_pipeline(sf_dir, out)
        return
    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "scalecurve_results.json"
    )
    extra = CURVE_EXTRA
    only = False
    if len(sys.argv) > 2 and sys.argv[2]:
        arg = sys.argv[2]
        # "only:a,b,c" runs JUST those queries (no HEADLINE re-measure)
        if arg.startswith("only:"):
            only, arg = True, arg[len("only:"):]
        extra = arg.split(",")
    # optional SF subset, e.g. "sf0.1,sf1,sf10" — the sf10 HEADLINE run
    # (SCALECURVE.md §100x) is `scalecurve.py out.json "" sf0.1,sf1,sf10`
    # default run stops at sf1: sf10 with the gate-pinned ANN granularity
    # would run for hours by design (see the superlinear audit) — opt in
    # per-query via argv[2]+argv[3]
    sf_dirs = {k: v for k, v in SF_DIRS.items() if k != "sf10"}
    if len(sys.argv) > 3 and sys.argv[3]:
        sf_dirs = {k: v for k, v in SF_DIRS.items() if k in sys.argv[3].split(",")}

    from vunnel_spark.registry import all_queries
    from vunnel_spark.session import get_spark, load_tables

    spark = get_spark("scalecurve")
    qs = all_queries()
    names = extra if only else HEADLINE + [n for n in extra if n not in HEADLINE]
    names = [n for n in names if n in qs]

    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_label, sf_dir in sf_dirs.items():
        if not os.path.isdir(sf_dir) and not os.path.isdir(
            sf_dir.rstrip("/")
        ):
            print(f"skip {sf_label}: {sf_dir} missing", flush=True)
            continue
        for df in load_tables(spark, sf_dir).values():
            df.count()
        # 1 warm-up + 2 measured at the cheap SFs; at sf1 the heavy
        # queries run minutes, so 1 warm-up + 1 measured keeps the whole
        # curve under an hour — a single warm sample is plenty for a
        # 10x-ratio judgment
        n_runs = 2 if sf_label in ("sf1", "sf10") else 3
        for name in names:
            # Fixture-partitioning policy (r14, partition_audit_r14.json):
            # the driver fixtures are one file with one row group, so a
            # query with no SHUFFLE exchange runs serialized on one core
            # and the measurement reflects file layout, not the operator
            # (rhel2: 50 s serialized vs 11-24 s over 32-way input, same
            # plan).  Rebuild such queries with the load_table fanout
            # knob; queries that shuffle anyway are measured unmodified.
            probe = qs[name](spark, sf_dir)
            plan = probe._jdf.queryExecution().executedPlan().toString()
            # under-parallel bar: <3/4 of local cores (not just the
            # fully-serialized <=2 case — the sf10 corpora are 16-part
            # directories, so a no-shuffle query ran 16-way there vs
            # 32-way at a fanned-out sf0.1, inflating ratios ~2x)
            cores = spark.sparkContext.defaultParallelism
            fanout = (
                not SHUFFLE_RE.search(plan)
                and probe.rdd.getNumPartitions() < max(4, cores * 3 // 4)
            )
            samples = []
            for run in range(n_runs):
                spark.catalog.clearCache()
                if fanout:
                    os.environ["VS_SCAN_MIN_PARTITIONS"] = str(cores)
                try:
                    t0 = time.monotonic()
                    consume(qs[name](spark, sf_dir))
                    dt = time.monotonic() - t0
                finally:
                    os.environ.pop("VS_SCAN_MIN_PARTITIONS", None)
                if run:  # first run is codegen warm-up
                    samples.append(dt)
            results[name][sf_label] = round(min(samples), 3)
            tag = " [32-way fanout]" if fanout else ""
            print(f"{sf_label} {name}: {results[name][sf_label]}{tag}",
                  flush=True)

    table = {}
    for name in names:
        r = results[name]
        ratio = (
            round(r["sf1"] / r["sf0.1"], 2)
            if r.get("sf1") and r.get("sf0.1")
            else None
        )
        table[name] = {**r, "ratio_01_to_1": ratio}
        if r.get("sf10") and r.get("sf0.1"):
            table[name]["ratio_01_to_10"] = round(r["sf10"] / r["sf0.1"], 2)
    with open(out_json, "w") as f:
        json.dump(table, f, indent=1)
    print(json.dumps(table, indent=1))


if __name__ == "__main__":
    main()
