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
    watermark: str = "1 hour",
) -> DataFrame:
    """Inner join of two event streams on ``user_id`` where the right
    event lands within ``[left.ts - 30 minutes, left.ts]``; the other
    columns come out prefixed ``l_``/``r_``.

    State bound: each side keeps at most ``watermark`` + 30 minutes of
    buffered rows per key; everything older is evicted because the join
    condition can no longer match it.  On batch inputs the identical
    expression runs stateless.
    """
    l_ts, r_ts = "l_ts", "r_ts"
    lf = left.select(
        F.col("user_id"),
        F.col("ts").alias(l_ts),
        *[F.col(c).alias(f"l_{c}")
          for c in left.columns if c not in ("user_id", "ts")],
    )
    rf = right.select(
        F.col("user_id").alias("_user_id"),
        F.col("ts").alias(r_ts),
        *[F.col(c).alias(f"r_{c}")
          for c in right.columns if c not in ("user_id", "ts")],
    )
    if left.isStreaming:
        lf = lf.withWatermark(l_ts, watermark)
    if right.isStreaming:
        rf = rf.withWatermark(r_ts, watermark)
    cond = (
        (F.col("user_id") == F.col("_user_id"))
        & (F.col(r_ts) >= F.col(l_ts) - F.expr("INTERVAL 30 minutes"))
        & (F.col(r_ts) <= F.col(l_ts))
    )
    return lf.join(rf, cond).drop("_user_id")
