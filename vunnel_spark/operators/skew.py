"""Explicit skew-salting operators — the 100 TB hot-key playbook as
first-class, testable plan shapes.

Policy: AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`) is the
FIRST line of defense and is on in this engine's session defaults — it
fixes skew AQE can see (oversized shuffle partitions at join time).  These
operators cover what AQE cannot: a single group-by key so hot that one
reducer's *aggregation state* (not just its input bytes) blows up, and
map-side pre-aggregation that must be forced through an extra key.  The
same discipline appears in every large-scale engine's skew documentation;
results are BY CONSTRUCTION identical to the unsalted plan, which is what
makes both operators oracle-checkable against plain GROUP BY / JOIN SQL.

- ``salted_agg``: two-phase aggregation.  Phase 1 groups by
  (keys, salt) — the hot key's rows spread over ``num_buckets`` reducers —
  phase 2 re-aggregates the per-salt partials on the true keys (k x
  buckets rows, trivial).  Only decomposable aggregates are offered
  (count/sum/min/max); a mean is sum/count downstream.
- ``salted_join``: replicate-and-salt equi-join for a skewed big side
  (generalizes ``operators/joins.py salted_join`` — the provider-tier
  original — with an explicit salt source, multi-column keys, and a
  sort-merge hint)
  against a dim too large to broadcast: big rows get a deterministic salt
  from a unique column, the dim is exploded x ``num_buckets`` so every
  (key, salt) bucket finds its dim row.  Replication cost is
  |dim| x buckets — the knob trades dim duplication for hot-key spread.

The salt is ``pmod(xxhash64(salt_src), buckets)`` — deterministic per
row, so retries/speculative tasks and re-runs produce identical output
(a ``rand()`` salt would not survive task retry semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def add_salt(df: DataFrame, salt_src: str | Column, num_buckets: int) -> DataFrame:
    """Deterministic per-row salt in [0, num_buckets)."""
    src = F.col(salt_src) if isinstance(salt_src, str) else salt_src
    return df.withColumn("_salt", F.pmod(F.xxhash64(src), F.lit(num_buckets)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_src: str,
    num_buckets: int = 8,
    sum_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Two-phase salted aggregation; output == plain groupBy(keys).

    Output columns: ``n_rows`` plus ``sum_<c>``/``max_<c>``
    for each requested column.
    """
    salted = add_salt(df, salt_src, num_buckets)
    partials = [F.count(F.lit(1)).alias("_pc")]
    finals = [F.sum("_pc").alias("n_rows")]
    for c in sum_cols:
        partials.append(F.sum(c).alias(f"_ps_{c}"))
        finals.append(F.sum(f"_ps_{c}").alias(f"sum_{c}"))
    for c in max_cols:
        partials.append(F.max(c).alias(f"_px_{c}"))
        finals.append(F.max(f"_px_{c}").alias(f"max_{c}"))
    phase1 = salted.groupBy(*keys, "_salt").agg(*partials)
    return phase1.groupBy(*keys).agg(*finals)


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    on: list[str],
    big_salt_src: str,
    num_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Replicate-and-salt equi-join; output == big.join(dim, on, how).

    Thin adapter over the ONE implementation in ``operators/joins.py
    salted_join`` (explicit salt source + pinned sort-merge — the
    dim-too-big-to-broadcast regime), which also owns the correctness
    guard: dim-preserving outer modes would emit each unmatched dim row
    once per salt replica and are rejected.
    """
    from vunnel_spark.operators.joins import salted_join as _impl

    return _impl(
        big, dim, on=on, n_salts=num_buckets, how=how,
        salt_src=big_salt_src, merge_hint=True,
    )
