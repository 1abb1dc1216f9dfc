"""Incremental aggregate maintenance — merge a persisted aggregation
state with a delta batch instead of rescanning history.

The reference's incremental tier re-emits full results from a watermark
delta plus cached prior state (SURVEY §2.10 I1/I2; nvd/manager.py's
watermark sync).  Generalized to the analytics surface this is
materialized-view maintenance: for DECOMPOSABLE aggregates
(count/sum/min/max — mean derives as sum/count) the per-key final rows
ARE the mergeable partial state, so updating a 100 TB-history rollup
costs one scan of the delta plus a shuffle of |keys| state rows — never
a rescan of history.  Non-decomposable aggregates need mergeable state
instead of final values: DISTINCT counts keep HLL sketch state
(``distinct_state``, i8) and quantiles keep fixed-bin histogram state
(``histogram_state``, i9 — exact, not approximate, merge) — the
textbook lambda-architecture split, realized here for both cases.

``aggregate_state`` produces the state shape from a raw frame;
``merge_agg_state`` folds any number of states/deltas together.  Both are
pure DataFrame plans: union of k-row frames -> ONE shuffle on the keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hist_bin(v, lo: float, hi: float, n_bins: int):
    """Bin index for the fixed-bin histogram state: float division,
    values outside [lo, hi) clamped into the edge bins."""
    width = (hi - lo) / n_bins
    return F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    )


def aggregate_state(
    df: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    hist_cols: tuple[tuple, ...] = (),
) -> DataFrame:
    """Aggregate a raw frame into mergeable per-key state (the same
    column shape ``merge_agg_state`` consumes and produces).

    ``hist_cols``: ``(col, lo, hi, n_bins)`` specs — each adds a
    ``hist_<col>`` fixed-bin count array (the i9 quantile state, which
    ``histogram_state`` builds and ``merge_histogram_state`` merges) to
    the same single groupBy, built with conditional sums; no extra
    shuffle, no per-bin explode."""
    aggs = [F.count(F.lit(1)).alias(count_col)]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
    for c, lo, hi, nb in hist_cols:
        b = _hist_bin(F.col(c), lo, hi, nb)
        aggs.append(
            F.array(
                *[
                    F.sum(
                        F.when(F.col(c).isNotNull() & (b == i), 1).otherwise(0)
                    )
                    for i in range(nb)
                ]
            ).alias(f"hist_{c}")
        )
    return df.groupBy(*keys).agg(*aggs)


def merge_agg_state(
    states: list[DataFrame],
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fold state frames (prior state + one or more delta states) into the
    updated state.  Keys absent from one side pass through; keys present
    in several merge by the aggregate's own algebra (sum of counts/sums,
    min of mins, max of maxs) — so the result equals aggregating the
    concatenated raw inputs, which is what the oracle checks."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    aggs = [F.sum(count_col).alias(count_col)]
    aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
    return merged.groupBy(*keys).agg(*aggs)


def distinct_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable per-key DISTINCT-count state: a Datasketches HLL sketch
    per key (``hll_<col>`` binary column).

    Exact distinct is the canonical NON-decomposable aggregate — final
    counts cannot merge (union sizes are not sums), so the
    ``merge_agg_state`` path cannot maintain it.  The sketch CAN: HLL
    register state unions by max, which is associative, commutative and
    IDEMPOTENT — a replayed delta batch cannot double-count, the
    property that makes the maintenance loop safe under at-least-once
    delivery (where a retried count/sum delta would corrupt i7-style
    state).  ~2^12 bytes per key (lg_k 12), ~2% relative error.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(12)).alias(f"hll_{value_col}")
    )


def merge_distinct_state(
    states: list[DataFrame], keys: list[str], value_col: str
) -> DataFrame:
    """Union per-key sketches across state/delta frames: one |keys|-row
    shuffle of fixed-size binaries, zero history rescans."""
    col = f"hll_{value_col}"
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*keys).agg(F.hll_union_agg(col).alias(col))


def estimate_distinct(state: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Read the estimate off the sketch state into ``out_col``."""
    return state.withColumn(out_col, F.hll_sketch_estimate(F.col(f"hll_{value_col}")))


def histogram_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 50,
) -> DataFrame:
    """Mergeable per-key QUANTILE state: fixed-bin histogram counts.

    Quantiles are the other canonical non-decomposable aggregate (final
    percentiles cannot merge).  A fixed-bin histogram CAN: bin counts
    add, exactly and associatively, so the maintenance loop merges a
    delta's histogram into state with integer addition — no history
    rescan, and (unlike sketch quantiles) the merged state is
    BIT-IDENTICAL to the histogram of the concatenated raw data, which
    is what lets the gate verify this path by exact value.  Resolution
    is (hi-lo)/n_bins; values outside [lo, hi) clamp into the edge bins.

    Plan shape: ``n_bins`` conditional sums in ONE groupBy — map-side
    partials, a single |keys|-row shuffle of fixed-width arrays (the
    minhash signature trick applied to binning; no per-bin explode).
    """
    state = aggregate_state(
        df.filter(F.col(value_col).isNotNull()),
        keys,
        count_col="_n",
        hist_cols=((value_col, lo, hi, n_bins),),
    )
    return state.select(*keys, F.col(f"hist_{value_col}").alias("bins"))


def merge_histogram_state(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Element-wise bin addition across state/delta frames: one
    |keys|-row shuffle of fixed-width long arrays."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    exploded = merged.select(*keys, F.posexplode("bins").alias("_bin", "_cnt"))
    return (
        exploded.groupBy(*keys, "_bin")
        .agg(F.sum("_cnt").alias("_cnt"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("_bin", "_cnt"))).alias("_bc"))
        .select(*keys, F.transform("_bc", lambda x: x["_cnt"]).alias("bins"))
    )


#: the percentiles estimate_quantiles reads off, as columns p50, p95, p99
_PERCENTILES = (50, 95, 99)


def estimate_quantiles(
    state: DataFrame,
    keys: list[str],
    lo: float,
    hi: float,
) -> DataFrame:
    """Quantile read-off from histogram state: percentile p maps to the
    LOWER EDGE of the smallest bin whose cumulative count reaches
    ``p%`` of the total — integer threshold arithmetic (100*cum >=
    p*total), so every engine computes the identical bin and the value
    is exactly reproducible in SQL (no interpolation ambiguity)."""
    from pyspark.sql import Window

    ex = state.select(
        *keys, F.size("bins").alias("_n"), F.posexplode("bins").alias("_bin", "_cnt")
    )
    wcum = (
        Window.partitionBy(*keys).orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    ex = ex.withColumn("_cum", F.sum("_cnt").over(wcum)).withColumn(
        "_total", F.sum("_cnt").over(wall)
    )
    picks = [
        F.min(
            F.when(100 * F.col("_cum") >= p * F.col("_total"), F.col("_bin"))
        ).alias(f"_bin_p{p}")
        for p in _PERCENTILES
    ]
    agg = ex.groupBy(*keys, "_n").agg(*picks)
    out = agg.select(
        *keys,
        *[
            (F.lit(lo) + F.col(f"_bin_p{p}") * (F.lit(hi - lo) / F.col("_n")))
            .alias(f"p{p}")
            for p in _PERCENTILES
        ],
    )
    return out


#: portable-HLL geometry: 256 registers (first 2 md5 hex chars), rank
#: read off the next 48 bits (12 hex chars), so rho in [1, 49].
_HLL_M = 256
_HLL_TWO50 = 1 << 50


def _hll_reg_rho(value_col: str):
    """(register, rho) for one value, every term engine-portable.

    register = first 2 hex chars of md5(value) — 256 registers kept as
    the HEX STRING itself (the _cms_cells discipline: no hex->int
    conversion to diverge on).  rho = 1 + number of leading zero BITS
    in the next 12 hex chars, computed without bit twiddling: 4 bits
    per leading '0' char (the '^0*' run) plus the first non-zero
    nibble's own leading zeros ('1'->3, '2'-'3'->2, '4'-'7'->1,
    else 0).  All 48 bits zero (probability 2^-48) pins rho = 49.
    """
    h = F.md5(F.col(value_col).cast("string"))
    reg = F.substring(h, 1, 2)
    s = F.substring(h, 3, 12)
    z = F.length(F.regexp_extract(s, "^0*", 0))
    c = s.substr(z + F.lit(1), F.lit(1))
    nz = (
        F.when(c == "1", 3)
        .when(c.isin("2", "3"), 2)
        .when((c >= "4") & (c <= "7"), 1)
        .otherwise(0)
    )
    rho = F.when(z == 12, F.lit(49)).otherwise(z * 4 + nz + 1)
    return reg, rho


def hll_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable per-key DISTINCT-count state as EXPLICIT HyperLogLog
    registers (Flajolet et al. 2007): (keys..., reg, rho) rows, one per
    touched register, rho = max rank observed.

    The engine-portable counterpart of ``distinct_state``: that path
    keeps an opaque Datasketches binary (compact, but only a tolerance
    check can gate it — i8); THIS path keeps the registers as plain
    rows derived from md5, so an oracle can rebuild the identical state
    in SQL and the gate verifies the merged sketch BY EXACT VALUE, the
    i9/i10 discipline applied to the one sketch family that still
    lacked it.  Same maintenance algebra as HLL proper: registers union
    by max — associative, commutative, IDEMPOTENT, so a replayed delta
    cannot corrupt state (the at-least-once-safe property i8 carries
    and i7/i10's linear counters do not).

    Plan shape: rho is pure string/conditional arithmetic on md5 (no
    UDF), collapsed by map-side partial max to <= |keys|*256 rows per
    partition before the single shuffle; state is <= |keys|*256 rows
    forever, regardless of stream cardinality.
    """
    reg, rho = _hll_reg_rho(value_col)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def merge_hll_state(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Register-wise max across state/delta frames: one shuffle of
    <= |keys|*256 fixed-width rows; idempotent under replay."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*keys, "reg").agg(F.max("rho").alias("rho"))


def estimate_hll(state: DataFrame, keys: list[str]) -> DataFrame:
    """HLL cardinality read-off, every intermediate exactly
    reproducible in SQL.

    Emits per key: ``n_reg_used`` (touched registers), ``denom_scaled``
    = 2^50 * sum over all 256 registers of 2^-rho(j) (untouched
    registers contribute 2^0) — an exact BIGINT because rho <= 49 —
    and ``est_hll`` = alpha_256 * m^2 / (denom_scaled / 2^50) with the
    standard small-range rewrite: raw E <= 2.5m with empty registers
    left switches to linear counting m * ln(m / V) (Flajolet §4),
    whose inputs are the same exact integers, so both engines take the
    same branch and compute the identical double.
    """
    alpha_num = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
        * F.lit(65536.0)
        * F.lit(float(_HLL_TWO50))
    )
    agg = state.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reg_used"),
        F.sum(F.pow(F.lit(2.0), F.lit(50) - F.col("rho")).cast("long"))
        .cast("bigint")
        .alias("_s"),
    )
    agg = agg.withColumn(
        "denom_scaled",
        (
            F.col("_s")
            + (F.lit(_HLL_M) - F.col("n_reg_used")) * F.lit(_HLL_TWO50)
        ).cast("bigint"),
    )
    raw = alpha_num / F.col("denom_scaled").cast("double")
    linear = F.lit(256.0) * F.log(
        F.lit(256.0) / (F.lit(256.0) - F.col("n_reg_used")).cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("n_reg_used") < _HLL_M), linear
    ).otherwise(raw)
    return agg.select(
        *keys, "n_reg_used", "denom_scaled", F.round(est, 4).alias("est_hll")
    )


#: rows of the count-min sketch; a state and its probes must agree
CMS_DEPTH = 4


def _cms_cells(value_col: str):
    """(j, cell) hash cells for one value: cell_j = first 2 hex chars of
    md5(j ':' value) — 256 buckets per row, engine-portable (md5 is
    bit-identical everywhere; keeping the cell as the HEX STRING itself
    sidesteps hex->int conversion, the same discipline as x14's
    md5-threshold split)."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}:"), F.col(value_col).cast("string"))),
                    1,
                    2,
                ).alias("cell"),
            )
            for j in range(CMS_DEPTH)
        ]
    )


def cms_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable per-key FREQUENCY state: a count-min sketch (Cormode &
    Muthukrishnan 2005) of ``CMS_DEPTH`` x 256 counters per key, stored as
    (keys..., j, cell, cnt) rows.

    Point frequency is the third canonical non-decomposable read (after
    distinct and quantiles): exact per-value counts need |values| state,
    unbounded.  The CMS bounds state at CMS_DEPTH*256 counters per key
    REGARDLESS of how many distinct values flow through, and its
    counters are LINEAR — state(A) + state(B) = state(A ∪ B) counter by
    counter, exactly — so delta maintenance is integer addition with no
    history rescan, and the merged sketch is bit-identical to the
    sketch of the concatenated raw data (the property the gate
    verifies; estimates are upper bounds with error eps*N at
    probability 1-(1/2)^CMS_DEPTH).

    Plan shape: one ``CMS_DEPTH``-wide explode (4x row inflation, collapsed
    by map-side partial aggregation to <= |keys|*CMS_DEPTH*256 rows per
    partition) feeding a single shuffle — NOT the per-permutation
    explode pathology the minhash signature stage avoids, because here
    the post-aggregate width (1024 cells) IS the state being built.
    """
    return (
        df.select(*keys, F.explode(_cms_cells(value_col)).alias("_c"))
        .groupBy(*keys, F.col("_c.j").alias("j"), F.col("_c.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_cms_state(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Element-wise counter addition across state/delta frames: one
    shuffle of <= |keys|*CMS_DEPTH*256 fixed-width rows."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*keys, "j", "cell").agg(F.sum("cnt").alias("cnt"))


def estimate_frequency(
    state: DataFrame,
    probes: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """CMS point-frequency read: est(v) = min over rows j of
    counter[j][cell_j(v)], missing cells read 0.

    The probe frame re-derives each value's ``CMS_DEPTH`` cells and
    left-joins the state on (keys, j, cell) — the state side is bounded
    (|keys|*CMS_DEPTH*256 rows) so AQE broadcasts it at any corpus scale;
    the probe side streams.  min() over exactly ``CMS_DEPTH`` rows per
    probe closes the read.
    """
    ex = probes.select(
        *keys, F.col(value_col), F.explode(_cms_cells(value_col)).alias("_c")
    ).select(*keys, value_col, F.col("_c.j").alias("j"), F.col("_c.cell").alias("cell"))
    return (
        ex.join(state, [*keys, "j", "cell"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(*keys, value_col)
        .agg(F.min("cnt").cast("bigint").alias("est_count"))
    )


def bloom_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable per-key set-membership state as an EXPLICIT 256-bit
    Bloom filter: (keys..., lane, bits) rows — 8 lanes of 32 bits each,
    k=2 bit positions per value from md5 (hex chars 1-2 and 3-4, each
    exactly 8 bits, so position = one 2-hex-char value; lanes are 32-bit
    so ``1 << bit`` stays positive in every engine's BIGINT).

    Same portability discipline as ``hll_state`` (i11): the positions
    are pure string arithmetic on md5 — no UDF, no engine-specific hash
    — so a SQL oracle rebuilds the merged filter bit-identically and
    the gate verifies it BY VALUE.  Maintenance algebra: lanes union by
    bitwise OR — associative, commutative, IDEMPOTENT, so replayed
    deltas cannot corrupt state (at-least-once safe, like i11's
    register max and unlike i7/i10's linear counters).  No false
    negatives ever; false-positive rate is the standard
    (1 - e^{-kn/m})^k.

    Plan shape: two position rows per value collapse via map-side
    partial bit_or to <= |keys|*8 rows per partition before the single
    shuffle; state is <= |keys|*8 fixed-width rows forever.
    """
    h = F.md5(F.col(value_col).cast("string"))
    p1 = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    p2 = F.conv(F.substring(h, 3, 2), 16, 10).cast("int")
    pos = df.filter(F.col(value_col).isNotNull()).select(
        *keys, F.explode(F.array(p1, p2)).alias("p")
    )
    return (
        pos.select(
            *keys,
            F.shiftright("p", 5).alias("lane"),
            F.expr("shiftleft(CAST(1 AS BIGINT), p & 31)").alias("bit"),
        )
        .groupBy(*keys, "lane")
        .agg(F.bit_or("bit").alias("bits"))
    )


def merge_bloom_state(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Lane-wise bitwise OR across state/delta frames: one shuffle of
    <= |keys|*8 fixed-width rows; idempotent under replay."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*keys, "lane").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(
    state: DataFrame, probes: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """(keys..., value, might_contain): probe values against the merged
    filter.  A probe is positive iff BOTH its bit positions are set —
    joined per lane on the bounded state (<= |keys|*8 rows, broadcast),
    so probing any stream is one narrow broadcast join."""
    h = F.md5(F.col(value_col).cast("string"))
    p1 = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    p2 = F.conv(F.substring(h, 3, 2), 16, 10).cast("int")
    pos = probes.select(
        *keys, F.col(value_col).alias("value"),
        F.explode(F.array(p1, p2)).alias("p"),
    ).select(
        *keys, "value",
        F.shiftright("p", 5).alias("lane"),
        F.expr("shiftleft(CAST(1 AS BIGINT), p & 31)").alias("bit"),
    )
    hit = (
        pos.join(F.broadcast(state), [*keys, "lane"], "left")
        .withColumn(
            "ok",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("bit")))
            == F.col("bit"),
        )
        .groupBy(*keys, "value")
        .agg((F.count(F.lit(1)) == F.sum(F.when(F.col("ok"), 1).otherwise(0)))
             .alias("might_contain"))
    )
    return hit
