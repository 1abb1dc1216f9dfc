"""Stream-stream joins with watermark-bounded state.

The canonical Structured Streaming surface the windowed aggregations
don't cover: joining two unbounded streams requires BOTH sides to buffer
rows until the other side can no longer produce a match.  The watermark +
time-bound join condition is what lets Spark evict that state — without
the interval condition, stream-stream join state grows forever.

One definition, two run modes: on batch frames the same expression is a
plain inner join with an interval predicate, which is what the parity
test compares against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Inner join of two event streams on ``key`` where the right event
    lands within ``[left.ts - within, left.ts]``.

    State bound: each side keeps at most ``watermark + within`` of
    buffered rows per key; everything older is evicted because the join
    condition can no longer match it.  On batch inputs the identical
    expression runs stateless.
    """
    l_ts, r_ts = f"{left_prefix}_{ts_col}", f"{right_prefix}_{ts_col}"
    lf = left.select(
        F.col(key).alias(key),
        F.col(ts_col).alias(l_ts),
        *[F.col(c).alias(f"{left_prefix}_{c}")
          for c in left.columns if c not in (key, ts_col)],
    )
    rf = right.select(
        F.col(key).alias(f"_{key}"),
        F.col(ts_col).alias(r_ts),
        *[F.col(c).alias(f"{right_prefix}_{c}")
          for c in right.columns if c not in (key, ts_col)],
    )
    if left.isStreaming:
        lf = lf.withWatermark(l_ts, watermark)
    if right.isStreaming:
        rf = rf.withWatermark(r_ts, watermark)
    cond = (
        (F.col(key) == F.col(f"_{key}"))
        & (F.col(r_ts) >= F.col(l_ts) - F.expr(f"INTERVAL {within}"))
        & (F.col(r_ts) <= F.col(l_ts))
    )
    return lf.join(rf, cond).drop(f"_{key}")
