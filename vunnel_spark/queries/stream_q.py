"""The stream-stream interval join, run in batch mode.

``streaming.interval_join`` is one definition with two run modes; this
registry entry runs the batch mode over the events table so the driver
gate value-verifies the expression itself, while
tests/test_streaming.py proves the streaming mode produces identical
sets through a real file-source stream.

Registered in a tail module (after the deliberate gate-window modules in
queries/__init__.py) so the pinned first-50 composition stays stable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


@register(
    "v4_stream_stream_interval_join",
    """
    SELECT l.user_id,
           l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.ts AS l_ts, r.ts AS r_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND r.ts >= l.ts - INTERVAL 30 MINUTE
     AND r.ts <= l.ts
    """,
    doc="Stream-stream interval join, batch mode (streaming/joins.py "
        "interval_join): purchases x clicks per user within 30 minutes. "
        "In streaming mode the watermark + interval condition bound the "
        "join state (each side buffers at most watermark+interval per "
        "key); parity with this exact expression is proven in "
        "tests/test_streaming.py over a real file stream",
    tags=("events", "join", "temporal"),
)
def v4(spark, sf_dir):
    from vunnel_spark.streaming.joins import interval_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return interval_join(purchases, clicks, within="30 minutes").select(
        "user_id", "l_event_id", "r_event_id", "l_ts", "r_ts"
    )
