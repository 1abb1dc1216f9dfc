"""Window-shaped operators (SURVEY §2.6 W1-W5, §2.7 O1/O4).

The reference implements these as Python loops with dict state; here each
is one Window spec — a single shuffle on the partition key, then pure
streaming evaluation within sorted partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def priority_pick(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep the single best row per key under an explicit priority ordering.

    Mirrors the fix-date candidate pick (W1,
    /root/reference/src/vunnel/tool/fixdate/finder.py:170-203) and the CSAF
    "ael"-demotion pick (W2, csaf_parser.py:263-282): the subtle domain
    rules live entirely in the ``order_by`` expression list.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") == 1)
        .drop("_rank")
    )


def fill_down(
    df: DataFrame,
    cols: Sequence[str],
    order_by: Sequence[str],
    partition_by: Sequence[str],
) -> DataFrame:
    """Propagate the last non-null value downward (W4 — the DSA text-parse
    header fill, /root/reference/src/vunnel/providers/debian/parser.py:231-239).

    ``last(ignorenulls).over(unboundedPreceding..current)``, windowed per
    ``partition_by`` key (e.g. the source file).  ``partition_by`` is
    REQUIRED: an unpartitioned fill silently sorts the world through one
    task at scale — when the fill really is global (one logical file),
    use :func:`fill_down_global`, which distributes the same semantics
    as a two-level bucketed prefix pass.
    """
    if not partition_by:
        raise ValueError(
            "fill_down requires partition_by; for an exact global fill "
            "use fill_down_global (distributed two-level carry)"
        )
    w = Window.partitionBy(*partition_by).orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def fill_down_global(
    df: DataFrame,
    cols: Sequence[str],
    order_col: str,
    bucket_size: int = 1000,
) -> DataFrame:
    """Exact GLOBAL fill-down without a global window: the distributed
    two-level carry (the x11/o3 prefix-sum discipline applied to
    last-non-null instead of sum).

    Phase 1 fills within order-aligned buckets: ranges of
    ``bucket_size`` values of the numeric ``order_col``.
    Phase 2 reduces each bucket to its LAST non-null value per column
    (one row per bucket), fills THAT down across the tiny bucket frame
    (the only unpartitioned window, #buckets rows), and broadcasts the
    per-bucket carry back; rows still null after the local fill coalesce
    to the carry from earlier buckets.  Identical semantics to
    ``last(ignorenulls) OVER (ORDER BY order_col ROWS UNBOUNDED
    PRECEDING)`` at any scale.

    Rows with a NULL ``order_col`` land in the null bucket, which sorts
    FIRST (Spark's ascending nulls-first) — exactly where the naive
    global window would place them: they fill only from each other and
    contribute their last non-null value as carry to every later bucket.
    The carry join is null-safe so these rows are never dropped.

    Tie precision: among rows with EQUAL (or all-null) ``order_col``
    values, the per-bucket carry reduction picks the MAX VALUE (the
    struct(order, value) comparison falls through to the value field),
    whereas the naive window would return whichever row a
    nondeterministic sort happened to place last.  Semantics therefore
    match the naive window only up to that tie nondeterminism — any
    value the naive window could legally return, this picks one of them
    deterministically.
    """
    bucket = F.expr(f"{order_col} div {bucket_size}")
    out = df.withColumn("_fd_bucket", bucket)
    w_local = (
        Window.partitionBy("_fd_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w_local))
    # one row per bucket: the bucket's last non-null per column = the
    # value at the max order among that column's non-null rows
    lasts = out.groupBy("_fd_bucket").agg(
        *[
            F.max(
                F.when(
                    F.col(c).isNotNull(), F.struct(F.col(order_col), F.col(c))
                )
            )[c].alias(f"_last_{c}")
            for c in cols
        ]
    )
    w_carry = Window.orderBy("_fd_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carries = lasts.select(
        "_fd_bucket",
        *[
            F.last(f"_last_{c}", ignorenulls=True)
            .over(w_carry)
            .alias(f"_carry_{c}")
            for c in cols
        ],
    )
    # null-safe equi-join: rows whose order_col (hence bucket) is null
    # must survive and pick up the null bucket's carry row
    carries = carries.withColumnRenamed("_fd_bucket", "_fd_bucket_c")
    out = out.join(
        F.broadcast(carries),
        F.col("_fd_bucket").eqNullSafe(F.col("_fd_bucket_c")),
        "left",
    ).drop("_fd_bucket_c")
    for c in cols:
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.col(f"_carry_{c}"))
        ).drop(f"_carry_{c}")
    return out.drop("_fd_bucket")


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Classic top-k per group (W5/O4) — row_number <= k."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Deterministic dedup (A12): explicit ordering decides the survivor.

    The reference's INSERT OR IGNORE / OR REPLACE modes
    (/root/reference/src/vunnel/result.py:227-238) both reduce to this with
    an appropriate ordering (arrival asc = first-wins, desc = last-wins).
    """
    return priority_pick(df, keys, order_by)


def funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Ordered-funnel analysis (v5): per user, the earliest time each
    funnel stage was reached IN ORDER — stage k counts only at or after
    the user's stage-(k-1) time (the standard product-analytics funnel,
    e.g. view -> click -> purchase).

    Emits one row per user: ``t_<stage>`` timestamp columns (null once
    the chain breaks) and ``stage`` = number of stages completed.

    Shape: one filtered min-aggregate per stage, each keyed on the SAME
    user column — k small shuffles that AQE coalesces, with every
    intermediate bounded by |users| rows, then left-join chaining.  The
    sequential dependency (stage k's filter needs stage k-1's time) is
    irreducible — a single-pass conditional aggregate cannot express
    "first B after first A" — so k passes over the (pushed-down,
    per-stage-pruned) events scan is the minimal plan, NOT a window
    over per-user sorted event arrays (which would shuffle the full
    event payload and break down on power users with millions of rows).
    """
    users = df.select(user_col).distinct()
    out = users
    prev_name: str | None = None
    for stage in stages:
        ev = df.filter(F.col(type_col) == stage)
        if prev_name is not None:
            ev = ev.join(
                out.select(user_col, prev_name).filter(
                    F.col(prev_name).isNotNull()
                ),
                user_col,
            ).filter(F.col(ts_col) >= F.col(prev_name))
        t_name = f"t_{stage}"
        reached = ev.groupBy(user_col).agg(F.min(ts_col).alias(t_name))
        out = out.join(reached, user_col, "left")
        prev_name = t_name
    stage_expr = sum(
        (F.col(f"t_{s}").isNotNull().cast("int") for s in stages), F.lit(0)
    )
    return out.withColumn("stage", stage_expr.cast("int"))
