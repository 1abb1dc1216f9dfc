"""Event-time window operators over the ``events`` stream table
(SURVEY §2.10 note: tumbling/sliding/session windows for the generalized
engine; incremental I1/I2 semantics in batch form).

These run in batch here, but every expression is Structured-Streaming-safe:
``F.window`` / ``F.session_window`` are the same operators a
``readStream`` plan would use with a watermark.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


@register(
    "v1_tumbling_window_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS wend,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY wstart, wend, event_type
    """,
    doc="Tumbling 1h event-time window per type — F.window(ts, '1 hour'); "
        "streaming-safe (append mode with watermark)",
    tags=("events", "window"),
)
def v1(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "v2_sliding_window_counts",
    """
    SELECT ws AS wstart, ws + INTERVAL '1 hour' AS wend, count(*) AS n
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - k.k * INTERVAL '30 minutes' AS ws, ts
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k)
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY ws
    """,
    doc="Sliding 1h/30m event-time window — F.window(ts, '1h', '30m'); each "
        "event lands in size/slide = 2 windows",
    tags=("events", "window"),
)
def v2(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), F.col("w.end").alias("wend"), "n")
    )


@register(
    "v3_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '5 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL '5 minutes' AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Session window, 5-minute gap, per user — F.session_window; the "
        "oracle is the classic gaps-and-islands formulation; streaming-safe "
        "(update mode with watermark merges late sessions)",
    tags=("events", "window"),
)
def v3(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "v5_funnel_stages",
    """
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ), v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1
    )
    SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     WHEN v.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage
    FROM u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
    doc="Ordered funnel analysis view -> click -> purchase "
        "(operators/windows.py funnel_stages): per user, the earliest "
        "time each stage was reached AT OR AFTER the previous stage's "
        "time — the product-analytics conversion funnel.  The "
        "sequential dependency (first B after first A) is irreducible "
        "to one pass, so the plan is one per-stage filtered min-"
        "aggregate keyed on the same user column (k bounded shuffles, "
        "every intermediate <= |users| rows) chained by left joins — "
        "NOT a per-user sorted event-array window, which would shuffle "
        "full event payloads and melt on power users at 100 TB",
    tags=("events", "window"),
)
def v5(spark, sf_dir):
    from vunnel_spark.operators.windows import funnel_stages

    ev = t(spark, sf_dir, "events")
    return funnel_stages(
        ev, "user_id", "ts", "event_type", ("view", "click", "purchase")
    ).select("user_id", "t_view", "t_click", "t_purchase", "stage")


@register(
    "i1_watermark_delta_filter",
    """
    SELECT event_type, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
    FROM events
    WHERE ts > (SELECT max(ts) - INTERVAL '2 hours' FROM events)
    GROUP BY event_type
    """,
    doc="I1 watermark-driven delta sync (provider.py:188-201, "
        "nvd/manager.py:188-230): last_updated watermark bounds the re-read; "
        "the watermark subquery is a 1-row broadcast",
    tags=("events", "incremental"),
)
def i1(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("wm"))
    return (
        ev.join(F.broadcast(wm), F.col("ts") > F.col("wm"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


@register(
    "i2_change_detection",
    """
    SELECT cur.event_id, cur.props AS new_props
    FROM events cur JOIN (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN '{"k": -1}' ELSE props END AS props
      FROM events) cached
      ON cur.event_id = cached.event_id
    WHERE cur.props <> cached.props
    """,
    doc="I2 change-detection download skip (rhel/parser.py:131-177): join "
        "current snapshot vs cache on id, keep payload-diff rows — at scale "
        "compare xxhash64(payload) first, payload bytes only on hash diff",
    tags=("events", "incremental", "join"),
)
def i2(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cached = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit('{"k": -1}'))
        .otherwise(F.col("props"))
        .alias("cached_props"),
    )
    return (
        ev.join(cached, "event_id")
        .filter(F.col("props") != F.col("cached_props"))
        .select("event_id", F.col("props").alias("new_props"))
    )
