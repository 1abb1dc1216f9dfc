"""Temporal-join queries over the ``events`` stream table.

Beyond-reference surface: point-in-time (as-of) lookup and interval
containment — the two join shapes Spark's planner has no native operator
for, implemented scale-first in operators/temporal.py.  The oracles use
DuckDB's native ASOF JOIN / a plain inequality join, so the gate pins the
semantics against an independent engine's implementation of the same
operator.

Registry placement: sorts after ``filters`` => outside the external
gate's pinned first-50 window.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


@register(
    "t1_asof_profile_join",
    """
    WITH signups AS (
      SELECT user_id, ts, arg_max(value, event_id) AS profile_value
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, s.profile_value
    FROM purchases p
    ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND s.ts <= p.ts
    """,
    doc="Backward as-of join: each purchase picks the user's latest signup "
        "value at-or-before its timestamp; purchases with no prior signup "
        "carry NULL (left semantics).  Spark side (operators/temporal.py "
        "asof_join) is union + last(ignorenulls) over a keyed window — ONE "
        "shuffle on user_id, no inequality join; oracle is DuckDB's native "
        "ASOF LEFT JOIN",
    tags=("temporal", "join"),
)
def t1_asof(spark, sf_dir):
    from vunnel_spark.operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    dim = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("profile_value"))
    )
    fact = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(fact, dim, ["user_id"], ["profile_value"])


@register(
    "t2_range_bucket_join",
    """
    WITH incidents AS (
      SELECT event_id AS incident_id, ts AS start_ts,
             ts + INTERVAL 30 MINUTE AS end_ts
      FROM events WHERE event_type = 'error'
    ), pts AS (
      SELECT ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT incident_id,
           count(*) AS n_purchases,
           round(sum(p.value), 2) AS total_value
    FROM incidents i JOIN pts p
      ON p.ts >= i.start_ts AND p.ts <= i.end_ts
    GROUP BY incident_id
    """,
    doc="Interval-containment join with NO equi key: purchases inside each "
        "30-minute incident window (incidents derived from error events). "
        "Spark plans a raw range predicate as BroadcastNestedLoopJoin — a "
        "scale-killer — so operators/temporal.py range_bucket_join "
        "bucketizes time (width = interval length, each interval lands in "
        "<=2 buckets) and equi-joins on the bucket id before the exact "
        "containment re-check; the oracle is the plain inequality join",
    tags=("temporal", "join"),
)
def t2_range(spark, sf_dir):
    from vunnel_spark.operators.temporal import range_bucket_join

    ev = t(spark, sf_dir, "events")
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    pts = ev.where(F.col("event_type") == "purchase").select("ts", "value")
    return (
        range_bucket_join(pts, incidents)
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "t3_scd2_intervals",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w AS valid_to,
           lead(valid_from) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    doc="Slowly-changing-dimension type-2 interval construction from an "
        "event stream (Kimball SCD2; beyond-reference warehouse "
        "surface): per user, collapse consecutive same-state events "
        "(gaps-and-islands via lag), then close each state's validity "
        "interval with the next change's timestamp (lead), ties broken "
        "by event_id so both engines pick identical rows.  Scale: both "
        "windows PARTITION BY user_id — per-key frames, one shuffle on "
        "the key reused by the second window (same partitioning), no "
        "global sort anywhere (the x19/o1 lesson, by construction)",
    tags=("events", "temporal", "window"),
)
def t3_scd2(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w1))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id", "event_type", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )
