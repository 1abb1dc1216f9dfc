"""Incremental aggregate-maintenance query (SURVEY §2.10 family,
generalized): update a per-user events rollup from a delta batch without
rescanning history.  The oracle aggregates the FULL raw table — merge
algebra says state ⊎ delta must equal it exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.operators.incremental import aggregate_state, merge_agg_state
from vunnel_spark.queries._util import t
from vunnel_spark.registry import register

_CUTOFF = "2024-01-21 00:00:00"


@register(
    "i7_incremental_agg_merge",
    f"""
    SELECT user_id, count(*) AS n_rows,
           round(sum(value), 4) AS sum_value, max(ts) AS max_ts
    FROM events GROUP BY user_id
    """,
    doc="Materialized-rollup maintenance (operators/incremental.py): the "
        "per-user state aggregated from history (ts < cutoff) merges with "
        "the delta batch's partials by the aggregates' own algebra — sum "
        "of counts/sums, max of maxs — one |keys|-row shuffle, zero "
        "history rescans.  The oracle aggregates the full raw table: "
        "state ⊎ delta must equal it exactly (sum rounded, float "
        "association differs across merge orders)",
    tags=("incremental",),
)
def i7(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    history = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    delta = ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    kw = dict(keys=["user_id"], sum_cols=("value",), max_cols=("ts",))
    state = aggregate_state(history, **kw)
    merged = merge_agg_state([state, aggregate_state(delta, **kw)], **kw)
    return merged.select(
        "user_id", "n_rows",
        F.round("sum_value", 4).alias("sum_value"),
        F.col("max_ts"),
    )


@register(
    "i8_incremental_distinct_merge",
    """
    SELECT event_type, count(DISTINCT user_id) AS exact_users,
           1 AS within_tolerance
    FROM events GROUP BY event_type
    """,
    doc="Incremental DISTINCT-count maintenance via mergeable HLL "
        "sketches (operators/incremental.py distinct_state/"
        "merge_distinct_state): exact distinct is non-decomposable, so "
        "the rollup keeps ~4 KB register state per key and unions deltas "
        "by register-max — associative AND idempotent, so a replayed "
        "delta cannot double-count (the at-least-once-safe counterpart "
        "of i7).  Gate uses the a16 tolerance trick: Spark emits "
        "|merged-sketch estimate - exact| <= 5%*exact as "
        "within_tolerance, the oracle emits exact counts + literal 1",
    tags=("incremental", "agg"),
)
def i8(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    history = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    delta = ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    from vunnel_spark.operators.incremental import (
        distinct_state,
        estimate_distinct,
        merge_distinct_state,
    )

    keys = ["event_type"]
    state = distinct_state(history, keys, "user_id")
    merged = merge_distinct_state(
        [state, distinct_state(delta, keys, "user_id")], keys, "user_id"
    )
    est = estimate_distinct(merged, "user_id", "est")
    exact = ev.groupBy(*keys).agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        est.join(exact, keys)
        .select(
            "event_type", "exact_users",
            (F.abs(F.col("est") - F.col("exact_users"))
             <= 0.05 * F.col("exact_users")).cast("int").alias("within_tolerance"),
        )
    )


@register(
    "i9_incremental_quantile_merge",
    """
    WITH b AS (
      SELECT event_type,
             LEAST(GREATEST(CAST(floor(value / 10.0) AS BIGINT), 0), 59) AS bin
      FROM events WHERE value IS NOT NULL
    ), c AS (
      SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bin,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS total
      FROM c
    )
    SELECT event_type,
           CAST(min(CASE WHEN 100 * cum >= 50 * total THEN bin END) * 10.0
                AS DOUBLE) AS p50,
           CAST(min(CASE WHEN 100 * cum >= 95 * total THEN bin END) * 10.0
                AS DOUBLE) AS p95,
           CAST(min(CASE WHEN 100 * cum >= 99 * total THEN bin END) * 10.0
                AS DOUBLE) AS p99
    FROM cum GROUP BY event_type
    """,
    doc="Incremental QUANTILE maintenance via mergeable fixed-bin "
        "histogram state (operators/incremental.py histogram_state/"
        "merge_histogram_state/estimate_quantiles): percentiles are "
        "non-decomposable, but bin counts add exactly — history state + "
        "delta state merges to the bit-identical histogram of the full "
        "data, so unlike sketch quantiles this path verifies by EXACT "
        "value.  Estimator = lower edge of the first bin whose "
        "cumulative reaches p% (integer threshold arithmetic, no "
        "interpolation ambiguity); state = one 60-long array per key "
        "built by conditional sums in a single shuffle (no per-bin "
        "explode on the raw data)",
    tags=("incremental", "agg"),
)
def i9(spark, sf_dir):
    from vunnel_spark.operators.incremental import (
        estimate_quantiles,
        histogram_state,
        merge_histogram_state,
    )

    ev = t(spark, sf_dir, "events")
    history = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    delta = ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    keys, lo, hi, nb = ["event_type"], 0.0, 600.0, 60
    state = histogram_state(history, keys, "value", lo, hi, nb)
    merged = merge_histogram_state(
        [state, histogram_state(delta, keys, "value", lo, hi, nb)], keys
    )
    return estimate_quantiles(merged, keys, lo, hi)


@register(
    "i10_cms_heavyhitter_merge",
    f"""
    WITH cells AS (
      SELECT event_type, j,
             substr(md5(concat(CAST(j AS VARCHAR), ':', CAST(user_id AS VARCHAR))), 1, 2) AS cell,
             count(*) AS cnt
      FROM events, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g
      GROUP BY 1, 2, 3
    ), totals AS (
      SELECT event_type, CAST(sum(cnt) / 4 AS BIGINT) AS n_stream
      FROM cells GROUP BY 1
    ), probes AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE ts >= TIMESTAMP '{_CUTOFF}'
    ), pc AS (
      SELECT p.event_type, p.user_id, j,
             substr(md5(concat(CAST(j AS VARCHAR), ':', CAST(p.user_id AS VARCHAR))), 1, 2) AS cell
      FROM probes p, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) g
    ), est AS (
      SELECT pc.event_type, pc.user_id,
             CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
      FROM pc LEFT JOIN cells c
        ON c.event_type = pc.event_type AND c.j = pc.j AND c.cell = pc.cell
      GROUP BY 1, 2
    )
    SELECT e.event_type, e.user_id, e.est_count,
           100 * e.est_count >= t.n_stream AS is_heavy
    FROM est e JOIN totals t USING (event_type)
    """,
    doc="Incremental HEAVY-HITTER maintenance via mergeable count-min "
        "sketch state (operators/incremental.py cms_state/"
        "merge_cms_state/estimate_frequency; Cormode & Muthukrishnan "
        "2005): per-value frequency is non-decomposable with bounded "
        "state, but CMS counters are LINEAR — history state + delta "
        "state sums to the bit-identical sketch of the full stream, so "
        "like i9 (and unlike i8's HLL) this path verifies by EXACT "
        "value against an oracle that rebuilds the same 4x256 "
        "md5-celled sketch in SQL.  The delta batch's distinct "
        "(event_type, user_id) probes read est = min_j counter[j][cell_j], "
        "and the heavy flag is the classic >= 1%-of-stream test with "
        "the stream length N read off the sketch itself (sum(cnt)/depth "
        "— exact, every event contributes depth cells), integer "
        "arithmetic 100*est >= N so both engines decide identically.  "
        "State is <= |keys|*1024 rows forever, the probe join "
        "broadcasts the state side, and a replayed COUNT delta would "
        "corrupt it exactly like i7 — the at-least-once-safe variant "
        "is i8's idempotent register-max, the tradeoff the module "
        "docstrings carry",
    tags=("incremental", "agg"),
)
def i10(spark, sf_dir):
    from vunnel_spark.operators.incremental import (
        cms_state,
        estimate_frequency,
        merge_cms_state,
    )

    ev = t(spark, sf_dir, "events")
    history = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    delta = ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    keys = ["event_type"]
    state = merge_cms_state(
        [cms_state(history, keys, "user_id"), cms_state(delta, keys, "user_id")],
        keys,
    )
    totals = state.groupBy("event_type").agg(
        (F.sum("cnt") / 4).cast("bigint").alias("n_stream")
    )
    probes = delta.select("event_type", "user_id").distinct()
    est = estimate_frequency(state, probes, keys, "user_id")
    return est.join(totals, "event_type").select(
        "event_type",
        "user_id",
        "est_count",
        (100 * F.col("est_count") >= F.col("n_stream")).alias("is_heavy"),
    )



@register(
    "i11_hll_register_merge",
    f"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
    ), parts AS (
      SELECT event_type, substr(h, 1, 2) AS reg, substr(h, 3, 12) AS s,
             length(regexp_extract(substr(h, 3, 12), '^0*')) AS z
      FROM h
    ), ranks AS (
      SELECT event_type, reg,
             CASE WHEN z = 12 THEN 49
                  ELSE z * 4 + CASE substr(s, z + 1, 1)
                         WHEN '1' THEN 3
                         WHEN '2' THEN 2 WHEN '3' THEN 2
                         WHEN '4' THEN 1 WHEN '5' THEN 1
                         WHEN '6' THEN 1 WHEN '7' THEN 1
                         ELSE 0 END + 1
             END AS rho
      FROM parts
    ), regs AS (
      SELECT event_type, reg, max(rho) AS rho FROM ranks GROUP BY 1, 2
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_reg_used,
             CAST(sum(CAST(power(2, 50 - rho) AS BIGINT))
                  + (256 - count(*)) * 1125899906842624 AS BIGINT)
               AS denom_scaled
      FROM regs GROUP BY 1
    ), est AS (
      SELECT event_type, n_reg_used, denom_scaled,
             0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
               * 1125899906842624.0 / CAST(denom_scaled AS DOUBLE) AS raw_e
      FROM agg
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT e.event_type, e.n_reg_used, e.denom_scaled,
           round(CASE WHEN e.raw_e <= 640.0 AND e.n_reg_used < 256
                      THEN 256.0 * ln(256.0 / CAST(256 - e.n_reg_used AS DOUBLE))
                      ELSE e.raw_e END, 4) AS est_hll,
           x.exact_users,
           100.0 * abs(round(CASE WHEN e.raw_e <= 640.0 AND e.n_reg_used < 256
                      THEN 256.0 * ln(256.0 / CAST(256 - e.n_reg_used AS DOUBLE))
                      ELSE e.raw_e END, 4) - x.exact_users)
             <= 20.0 * x.exact_users AS within_tol
    FROM est e JOIN ex x USING (event_type)
    """,
    doc="Incremental DISTINCT-count maintenance via EXPLICIT HyperLogLog "
        "registers (operators/incremental.py hll_state/merge_hll_state/"
        "estimate_hll; Flajolet et al. 2007) — the engine-portable, "
        "exact-value-gated counterpart of i8's opaque Datasketches "
        "binary.  Registers come from md5 (first 2 hex chars pick 1 of "
        "256, rank = leading-zero bits of the next 48, counted by hex-"
        "char CASE arithmetic — no hex->int conversion), so the oracle "
        "rebuilds the merged register state bit-identically in SQL and "
        "the gate verifies register count AND the scaled harmonic "
        "denominator (an exact BIGINT: 2^50 * sum 2^-rho) BY VALUE, "
        "completing the mergeable-sketch trio's exact tier (i9 "
        "histogram, i10 CMS, i11 HLL).  Register max-merge is "
        "idempotent — the at-least-once-safe property i10's linear "
        "counters lack.  The estimate applies the standard small-range "
        "linear-counting rewrite (raw E <= 2.5m -> m*ln(m/V)) whose "
        "branch reads the same exact integers on both engines; "
        "within_tol = 20% vs exact distinct (HLL-256 RSE is ~6.5%), "
        "decided from the ROUNDED estimate so both engines agree.  "
        "State <= |keys|*256 rows forever; partial max collapses "
        "map-side before the single shuffle",
    tags=("incremental", "agg"),
)
def i11(spark, sf_dir):
    from vunnel_spark.operators.incremental import (
        estimate_hll,
        hll_state,
        merge_hll_state,
    )

    ev = t(spark, sf_dir, "events")
    history = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    delta = ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    keys = ["event_type"]
    state = merge_hll_state(
        [hll_state(history, keys, "user_id"), hll_state(delta, keys, "user_id")],
        keys,
    )
    est = estimate_hll(state, keys)
    exact = ev.groupBy(*keys).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return est.join(exact, keys).select(
        "event_type",
        "n_reg_used",
        "denom_scaled",
        "est_hll",
        "exact_users",
        (100.0 * F.abs(F.col("est_hll") - F.col("exact_users"))
         <= 20.0 * F.col("exact_users")).alias("within_tol"),
    )


@register(
    "i12_bloom_filter_merge",
    f"""
    WITH hexmap(c, v) AS (
      SELECT * FROM (VALUES
        ('0', 0), ('1', 1), ('2', 2), ('3', 3), ('4', 4), ('5', 5),
        ('6', 6), ('7', 7), ('8', 8), ('9', 9), ('a', 10), ('b', 11),
        ('c', 12), ('d', 13), ('e', 14), ('f', 15))
    ), h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events WHERE user_id IS NOT NULL
    ), pos AS (
      SELECT event_type, u.p
      FROM h
      JOIN hexmap m1 ON m1.c = substr(h.h, 1, 1)
      JOIN hexmap m2 ON m2.c = substr(h.h, 2, 1)
      JOIN hexmap m3 ON m3.c = substr(h.h, 3, 1)
      JOIN hexmap m4 ON m4.c = substr(h.h, 4, 1),
      LATERAL (SELECT unnest([m1.v * 16 + m2.v, m3.v * 16 + m4.v]) AS p) u
    ), lanes AS (
      SELECT event_type, p // 32 AS lane,
             bit_or(CAST(1 AS BIGINT) << (p % 32)) AS bits
      FROM pos GROUP BY 1, 2
    )
    SELECT event_type, CAST(lane AS INT) AS lane, bits,
           CAST(bit_count(bits) AS INT) AS n_set
    FROM lanes
    """,
    doc="Incremental set-membership maintenance via an EXPLICIT 256-bit "
        "Bloom filter (operators/incremental.py bloom_state/"
        "merge_bloom_state/bloom_might_contain; Bloom 1970) — the "
        "fourth mergeable-sketch family after i9 histogram / i10 CMS / "
        "i11 HLL, same exact-value discipline: k=2 bit positions are "
        "2-hex-char slices of md5 (8 bits each, no engine-specific "
        "hash), lanes are 32-bit so shifts stay in positive BIGINT "
        "range in every engine, and the oracle rebuilds the merged "
        "filter bit-identically (positions via a 16-row hex-digit map "
        "joined per nibble).  The query builds history and delta states "
        "split at the i7 watermark and merges them (bitwise OR — "
        "idempotent, at-least-once safe); membership semantics (no "
        "false negatives, bounded FPR) are pinned in "
        "tests/test_skew_incremental.py.  State is 8 fixed-width rows "
        "per key forever, regardless of stream cardinality",
    tags=("events", "incremental", "sketch"),
)
def i12(spark, sf_dir):
    from vunnel_spark.operators.incremental import (
        bloom_state,
        merge_bloom_state,
    )

    ev = t(spark, sf_dir, "events")
    history = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    delta = ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    keys = ["event_type"]
    state = merge_bloom_state(
        [bloom_state(history, keys, "user_id"),
         bloom_state(delta, keys, "user_id")],
        keys,
    )
    return state.select(
        "event_type",
        F.col("lane").cast("int").alias("lane"),
        "bits",
        F.bit_count("bits").cast("int").alias("n_set"),
    )
