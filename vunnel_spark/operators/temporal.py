"""Temporal joins Spark's planner has no native operator for.

Two classic shapes from time-series/feature-store workloads, implemented
the way they must be at 100 TB:

``asof_join``
    Point-in-time lookup: each fact row picks the latest dim version with
    ``dim.ts <= fact.ts`` per key (both sides carry a ``ts`` column).  Spark has no ASOF operator; the naive
    encodings are an inequality join (BroadcastNestedLoop / O(n*m) per
    key) or a per-fact subquery.  The scale-correct form is
    union-both-sides + ``last(value, ignorenulls) OVER (partition by key
    order by ts rows unbounded preceding)`` — ONE shuffle on the key, and
    the sort is the same sort the window needs anyway.  (DuckDB grew a
    native ASOF JOIN; the oracle uses it, so the semantics are pinned
    against an independent implementation.)

``range_bucket_join``
    Interval containment (``ts`` BETWEEN ``start_ts`` AND ``end_ts``)
    with no equi key.
    Spark plans raw range predicates as BroadcastNestedLoopJoin — a
    scale-killer.  With a bound on interval length, bucketing time into
    fixed 30-minute slots turns it into an equi-join: every interval is replicated
    to the ~2 slots it overlaps, every point hashes to one slot, join on
    slot id, then re-check exact containment.  Replication factor is
    ``len/width + 1`` ≈ 2 when width ≈ max interval length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join: fact rows + latest dim ``value_cols`` at
    ``ts``.

    ``dim`` must be unique per (keys, ts) — pre-reduce it (e.g.
    ``max_by``) if versions can collide on a timestamp.  Facts with no
    prior dim version carry NULLs (left-join semantics).  Caveat: a dim
    version whose value is genuinely NULL is indistinguishable from "no
    version" (``last(ignorenulls)`` skips it).
    """
    d = dim.select(*keys, "ts", *value_cols).withColumn("_is_dim", F.lit(1))
    f = fact.withColumn("_is_dim", F.lit(0))
    u = f.unionByName(d, allowMissingColumns=True)
    # dim sorts before fact at equal ts => inclusive (<=) semantics
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("ts").asc(), F.col("_is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(F.when(F.col("_is_dim") == 1, F.col(c)), ignorenulls=True)
        .over(w)
        .alias(c)
        for c in value_cols
    ]
    out_cols = [c for c in fact.columns if c not in value_cols]
    return (
        u.select(*out_cols, F.col("_is_dim"), *carried)
        .where(F.col("_is_dim") == 0)
        .drop("_is_dim")
    )


def range_bucket_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Inner join of points (``ts``) to the intervals (``start_ts``,
    ``end_ts``) containing them (inclusive).

    Buckets are 1800 s wide: an interval no longer than 30 minutes lands
    in at most 2 of them.  Longer intervals are replicated to more
    buckets; correctness does not depend on the width, only the
    replication factor does.
    """
    w_us = F.lit(1800 * 1_000_000)
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                (F.unix_micros(F.col("start_ts")) / w_us).cast("long"),
                (F.unix_micros(F.col("end_ts")) / w_us).cast("long"),
            )
        ),
    )
    pt = points.withColumn("_b", (F.unix_micros(F.col("ts")) / w_us).cast("long"))
    return (
        pt.join(iv, "_b")
        .where((F.col("ts") >= F.col("start_ts")) & (F.col("ts") <= F.col("end_ts")))
        .drop("_b")
    )
