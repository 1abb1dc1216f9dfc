"""Explicit skew-salted aggregation — the 100 TB hot-key playbook as a
first-class, testable plan shape.

Policy: AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`) is the
FIRST line of defense and is on in this engine's session defaults — it
fixes skew AQE can see (oversized shuffle partitions at join time).
``salted_agg`` covers what AQE cannot: a single group-by key so hot that
one reducer's *aggregation state* (not just its input bytes) blows up.
Phase 1 groups by (keys, salt) — the hot key's rows spread over 8
reducers — phase 2 re-aggregates the per-salt partials on
the true keys (k x buckets rows, trivial).  Only decomposable aggregates
are offered (count/sum/min/max); a mean is sum/count downstream.  The
result is BY CONSTRUCTION identical to the plain GROUP BY, which is what
makes it oracle-checkable.  The salted equi-join for a skewed big side is
``operators/joins.py salted_join``.

The salt is ``pmod(xxhash64(salt_src), buckets)`` — deterministic per
row, so retries/speculative tasks and re-runs produce identical output
(a ``rand()`` salt would not survive task retry semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_src: str,
    sum_cols: tuple[str, ...],
    max_cols: tuple[str, ...],
) -> DataFrame:
    """Two-phase salted aggregation over 8 salts; output == plain
    groupBy(keys).

    Output columns: ``n_rows`` plus ``sum_<c>``/``max_<c>``
    for each requested column.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(8)))
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

