#!/usr/bin/env python
"""Scale-curve measurement: time a query list across SF directories.

Usage:
  python scripts/scalecurve.py [out_json] [queries] [sfs]

``queries`` is a comma-separated list added to the bench HEADLINE
(default: CURVE_EXTRA); ``only:a,b`` times just those queries and
``only:all`` every registered query.  ``sfs`` picks SF labels from
SF_DIRS, e.g. ``sf0.1,sf1,sf10`` (default: all but sf10).  A query that
raises is recorded as ``{"error": "..."}`` at that SF and the run goes
on.  This is the one query-timing loop under scripts/.

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

#: shuffle-exchange detector for the fan-out probe in ``main`` (broadcast
#: exchanges don't redistribute the probe side)
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


def _time_query(spark, build, sf_dir: str, n_runs: int) -> tuple[float, bool]:
    """Min seconds of ``n_runs - 1`` consumed runs of ``build`` after one
    codegen warm-up, and whether the run was fanned out."""
    # Fixture-partitioning policy (r14, partition_audit_r14.json): the
    # driver fixtures are one file with one row group, so a query with no
    # SHUFFLE exchange runs serialized on one core and the measurement
    # reflects file layout, not the operator (rhel2: 50 s serialized vs
    # 11-24 s over 32-way input, same plan).  Rebuild such queries with
    # the load_table fanout knob; queries that shuffle anyway are
    # measured unmodified.
    probe = build(spark, sf_dir)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # under-parallel bar: <3/4 of local cores (not just the
    # fully-serialized <=2 case — the sf10 corpora are 16-part
    # directories, so a no-shuffle query ran 16-way there vs 32-way at a
    # fanned-out sf0.1, inflating ratios ~2x)
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
            consume(build(spark, sf_dir))
            dt = time.monotonic() - t0
        finally:
            os.environ.pop("VS_SCAN_MIN_PARTITIONS", None)
        if run:  # first run is codegen warm-up
            samples.append(dt)
    return round(min(samples), 3), fanout


def _ratio(r: dict, lo: str, hi: str) -> float | None:
    """``r[hi] / r[lo]`` when both SFs hold a time, not an error."""
    a, b = r.get(lo), r.get(hi)
    if isinstance(a, float) and isinstance(b, float) and a > 0:
        return round(b / a, 2)
    return None


def main() -> None:
    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "scalecurve_results.json"
    )
    extra = CURVE_EXTRA
    only = False
    if len(sys.argv) > 2 and sys.argv[2]:
        arg = sys.argv[2]
        # "only:a,b,c" runs JUST those queries (no HEADLINE re-measure),
        # "only:all" every registered query
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
    if only:
        names = sorted(qs) if extra == ["all"] else extra
    else:
        names = HEADLINE + [n for n in extra if n not in HEADLINE]

    results: dict[str, dict[str, object]] = {n: {} for n in names}
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
            try:
                sec, fanout = _time_query(spark, qs[name], sf_dir, n_runs)
            except Exception as e:  # noqa: BLE001 - recorded, the run goes on
                msg = (str(e).strip().splitlines() or [""])[0]
                results[name][sf_label] = {"error": f"{type(e).__name__}: {msg}"}
                print(f"{sf_label} {name}: {results[name][sf_label]}", flush=True)
                continue
            results[name][sf_label] = sec
            tag = " [32-way fanout]" if fanout else ""
            print(f"{sf_label} {name}: {sec}{tag}", flush=True)

    table = {}
    for name in names:
        r = results[name]
        table[name] = {**r, "ratio_01_to_1": _ratio(r, "sf0.1", "sf1")}
        if ratio_10 := _ratio(r, "sf0.1", "sf10"):
            table[name]["ratio_01_to_10"] = ratio_10
    with open(out_json, "w") as f:
        json.dump(table, f, indent=1)
    print(json.dumps(table, indent=1))


if __name__ == "__main__":
    main()
