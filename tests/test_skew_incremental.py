"""Result-transparency tests for the skew-salting and incremental-merge
operators: the rewrites must change plan shape ONLY — outputs equal the
plain forms on any partitioning, and state merges commute."""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.incremental import aggregate_state, merge_agg_state
from vunnel_spark.operators.joins import salted_join
from vunnel_spark.operators.skew import salted_agg
from vunnel_spark.session import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_agg_equals_plain_groupby(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plain = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_n_chars"),
        F.max("n_chars").alias("max_n_chars"),
    )
    salted = salted_agg(
        docs.repartition(13), ["lang"], "doc_id",
        sum_cols=("n_chars",), max_cols=("n_chars",),
    )
    assert _rows(salted) == _rows(plain)


def test_salted_join_equals_plain_join(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    dim = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_total"))
    plain = docs.join(dim, "lang").select("doc_id", "lang", "lang_total")
    salted = salted_join(
        docs, dim, on=["lang"], salt_src="doc_id", n_salts=4
    ).select("doc_id", "lang", "lang_total")
    assert _rows(salted) == _rows(plain)


def test_merge_state_equals_full_aggregate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    kw = dict(keys=["user_id"], sum_cols=("value",), min_cols=("ts",), max_cols=("ts",))
    full = aggregate_state(ev, **kw)
    # split three ways, aggregate each, merge in two different orders
    parts = [
        aggregate_state(ev.filter(F.dayofmonth("ts") % 3 == i), **kw)
        for i in range(3)
    ]
    m1 = merge_agg_state(parts, **kw)
    m2 = merge_agg_state([parts[2], merge_agg_state(parts[:2], **kw)], **kw)

    def canon(df):
        return sorted(
            (r["user_id"], r["n_rows"], round(r["sum_value"], 6),
             r["min_ts"], r["max_ts"])
            for r in df.collect()
        )

    assert canon(m1) == canon(full)
    assert canon(m2) == canon(full)


def test_merge_state_disjoint_keys_pass_through(spark):
    a = spark.createDataFrame([(1, 2, 5.0)], "k long, n_rows long, sum_v double")
    b = spark.createDataFrame([(2, 3, 7.0)], "k long, n_rows long, sum_v double")
    out = {
        (r["k"], r["n_rows"], r["sum_v"])
        for r in merge_agg_state([a, b], keys=["k"], sum_cols=("v",)).collect()
    }
    assert out == {(1, 2, 5.0), (2, 3, 7.0)}


def test_distinct_state_merge_is_idempotent_and_exactish(spark, sf_dir):
    from vunnel_spark.operators.incremental import (
        distinct_state,
        estimate_distinct,
        merge_distinct_state,
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ["event_type"]
    splits = [ev.filter(F.dayofmonth("ts") % 3 == i) for i in range(3)]
    states = [distinct_state(d, keys, "user_id") for d in splits]

    def est(state):
        return {
            r["event_type"]: r["e"]
            for r in estimate_distinct(state, "user_id", "e").collect()
        }

    merged = merge_distinct_state(states, keys, "user_id")
    direct = distinct_state(ev, keys, "user_id")
    assert est(merged) == est(direct)

    # IDEMPOTENT: replaying a delta (at-least-once delivery) changes nothing
    replayed = merge_distinct_state([merged, states[0]], keys, "user_id")
    assert est(replayed) == est(merged)

    # and the estimate tracks exact distinct within the HLL bound
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy(*keys).agg(
            F.countDistinct("user_id").alias("x")
        ).collect()
    }
    for k, e in est(merged).items():
        assert abs(e - exact[k]) <= 0.05 * exact[k], (k, e, exact[k])


def test_hll_state_merge_is_exact_idempotent_and_bounded(spark, sf_dir):
    """The explicit-register HLL (i11) must merge to the BIT-IDENTICAL
    register state of the concatenated data under any split (what lets
    the gate verify it by exact value), stay idempotent under replay,
    keep <= 256 registers per key, and estimate within the HLL-256
    error bound on both sides of the linear-counting switch."""
    from vunnel_spark.operators.incremental import (
        estimate_hll,
        hll_state,
        merge_hll_state,
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ["event_type"]
    splits = [ev.filter(F.dayofmonth("ts") % 3 == i) for i in range(3)]
    states = [hll_state(d, keys, "user_id") for d in splits]

    def regs(state):
        return {(r["event_type"], r["reg"]): r["rho"] for r in state.collect()}

    merged = merge_hll_state(states, keys)
    direct = hll_state(ev, keys, "user_id")
    assert regs(merged) == regs(direct)  # exact, not approximate

    replayed = merge_hll_state([merged, states[0]], keys)
    assert regs(replayed) == regs(merged)  # at-least-once safe

    per_key = merged.groupBy(*keys).count().collect()
    assert all(r["count"] <= 256 for r in per_key)

    # small-n regime (few distinct users): linear-counting branch
    est = {r["event_type"]: r["est_hll"]
           for r in estimate_hll(merged, keys).collect()}
    exact = {r["event_type"]: r["x"]
             for r in ev.groupBy(*keys).agg(
                 F.countDistinct("user_id").alias("x")).collect()}
    for k, e in est.items():
        assert abs(e - exact[k]) <= max(0.15 * exact[k], 2.0), (k, e, exact[k])

    # large-n regime: force the raw-harmonic branch past 2.5*m
    big = spark.range(0, 5000).select(
        F.lit("k").alias("g"), F.col("id").alias("v")
    )
    got = estimate_hll(hll_state(big, ["g"], "v"), ["g"]).collect()[0]
    assert abs(got["est_hll"] - 5000) <= 0.15 * 5000, got["est_hll"]


def test_histogram_state_merge_is_exact_under_any_split(spark):
    """Merging per-split histogram states must be BIT-IDENTICAL to the
    histogram of the concatenated data, for any split — the property
    that makes i9's maintenance loop verifiable by exact value."""
    from vunnel_spark.operators.incremental import (
        estimate_quantiles,
        histogram_state,
        merge_histogram_state,
    )

    import pyspark.sql.functions as F

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        ((F.col("id") * 37 % 997) / 2.0).alias("v"),
    )
    keys, lo, hi, nb = ["k"], 0.0, 500.0, 50
    whole = {r.k: r.bins for r in histogram_state(df, keys, "v", lo, hi, nb).collect()}
    parts = [
        spark.range(0, 3000).filter(F.col("id") % 4 == i).select(
            (F.col("id") % 3).cast("string").alias("k"),
            ((F.col("id") * 37 % 997) / 2.0).alias("v"),
        )
        for i in range(4)
    ]
    states = [histogram_state(p, keys, "v", lo, hi, nb) for p in parts]
    merged = {r.k: r.bins for r in merge_histogram_state(states, keys).collect()}
    assert merged == whole  # exact integer equality, not approximate

    q = {r.k: (r.p50, r.p95, r.p99)
         for r in estimate_quantiles(
             merge_histogram_state(states, keys), keys, lo, hi).collect()}
    qw = {r.k: (r.p50, r.p95, r.p99)
          for r in estimate_quantiles(
              histogram_state(df, keys, "v", lo, hi, nb), keys, lo, hi).collect()}
    assert q == qw


def test_bloom_state_no_false_negatives_and_merge_idempotent(spark, sf_dir):
    """Every inserted key probes positive (Bloom's hard guarantee),
    the split+merged state equals the whole-table state bit for bit,
    merging a state with itself is a no-op (replay safety), and the
    state is bounded at 8 lanes per key."""
    from vunnel_spark.operators.incremental import (
        bloom_might_contain,
        bloom_state,
        merge_bloom_state,
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ["event_type"]
    whole = bloom_state(ev, keys, "user_id")
    a = bloom_state(ev.filter(F.col("event_id") % 2 == 0), keys, "user_id")
    b = bloom_state(ev.filter(F.col("event_id") % 2 == 1), keys, "user_id")
    merged = merge_bloom_state([a, b], keys)
    as_set = lambda df: {
        (r["event_type"], r["lane"], r["bits"]) for r in df.collect()
    }
    assert as_set(merged) == as_set(whole)
    assert as_set(merge_bloom_state([whole, whole], keys)) == as_set(whole)
    lanes_per_key = merged.groupBy(*keys).count().collect()
    assert all(r["count"] <= 8 for r in lanes_per_key)

    present = ev.select("event_type", "user_id").distinct()
    probed = bloom_might_contain(whole, present, keys, "user_id")
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_bloom_absent_keys_fpr_bounded(spark, sf_dir):
    """Probing ids far outside the corpus: with n<=hundreds of distinct
    users per event_type in a 256-bit/k=2 filter the FPR is high-ish by
    design, but it must stay strictly below 1.0 (a saturated filter
    would return all-true and be useless) — and on the tiny sf0.001
    corpus it should be well under half."""
    from vunnel_spark.operators.incremental import (
        bloom_might_contain,
        bloom_state,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    state = bloom_state(ev, ["event_type"], "user_id")
    absent = spark.range(10_000_000, 10_000_400).select(
        F.lit("click").alias("event_type"), F.col("id").alias("user_id")
    )
    probed = bloom_might_contain(state, absent, ["event_type"], "user_id")
    fp = probed.filter(F.col("might_contain")).count()
    n = probed.count()
    assert n == 400
    assert fp < n, "saturated filter"
