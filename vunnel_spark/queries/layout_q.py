"""Bucketed-layout queries: shuffle amortized at write time.

The 100 TB argument in executable form.  ``b1`` writes the two largest
fact tables bucketed+sorted on the join key, then runs a per-key
aggregate AND a fact⋈fact join with ZERO exchanges before the final
small rollup — the layout replaces the shuffle (pinned by
tests/test_plans.py::test_b1_bucketed_join_single_exchange).  ``b2``
shows the read side of the same contract: an IN-list filter on the
bucket column prunes the scan to the matching buckets
(``SelectedBucketsCount`` in the FileScan), the serving-path analogue
of the reference's keyed SQLite lookup (result.py:233-259 reads one
envelope by identifier instead of scanning the store).

All money arithmetic is exact-integer CENTS —
``CAST(floor(x * 100 + 0.5) AS BIGINT)`` on BOTH engines — so the
oracle comparison is exact: a double sum's value depends on
accumulation order across partitions, an integer sum's does not.
Round-6 postmortem: the previous per-row ``CAST(x AS DECIMAL(18,2))``
was engine-version-sensitive — ~5% of the fixture's price doubles sit
an epsilon BELOW their cent value (3,341/60,000 sf0.01
``l_extendedprice``), so a DuckDB build that truncates rather than
rounds the double→decimal conversion loses a cent per such row and
shifts every revenue sum (b1 went gate-red in round 6 on exactly
this).  ``floor(x*100+0.5)`` is a single IEEE multiply/add/floor both
engines execute identically.  NOTE: ``floor(x*100+0.5)`` is
round-half-UP only for non-negative x (for negative x it rounds half
toward +inf) — fine here because TPC-H prices are positive; for signed
money use sign-aware ``floor(abs(x)*100+0.5)*sign(x)`` or
``round(sum(x), 2)`` after aggregation.  Guarded by
tests/test_registry_lint.py::test_no_decimal_cast_of_raw_double.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vunnel_spark.queries._util import scratch_dir, t
from vunnel_spark.registry import register

_N_BUCKETS = 8


def _bucketed_pair(spark, sf_dir, prefix: str):
    """orders + lineitem written bucketed on the order key."""
    from vunnel_spark.sinks.bucketed import write_bucketed

    root = scratch_dir(f"{prefix}_")
    ot = write_bucketed(
        t(spark, sf_dir, "orders"),
        f"{prefix}_orders",
        os.path.join(root, "orders"),
        "o_orderkey",
        _N_BUCKETS,
    )
    lt = write_bucketed(
        t(spark, sf_dir, "lineitem"),
        f"{prefix}_lineitem",
        os.path.join(root, "lineitem"),
        "l_orderkey",
        _N_BUCKETS,
    )
    return ot, lt


@register(
    "b1_bucketed_colocated_join",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             count(*) AS n_lines,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS order_cents
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(order_cents) AS BIGINT) AS revenue_cents
    FROM per_order JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Bucketed co-located join: orders and lineitem written "
        "bucketBy(8, orderkey)+sortBy, then per-order agg + sort-merge "
        "join + rollup with exactly ONE exchange (the final 5-row "
        "rollup) in the whole plan — the write-time layout replaces the "
        "two join/agg shuffles that dominate at 100 TB.  Plan pinned by "
        "tests/test_plans.py; content oracle is layout-independent SQL. "
        "Money is exact-integer cents (floor(x*100+0.5)) on both "
        "engines — the r6 per-row double->DECIMAL cast was truncation-"
        "sensitive across DuckDB versions (module docstring postmortem)",
    tags=("layout", "join", "sink"),
)
def b1(spark, sf_dir):
    ot, lt = _bucketed_pair(spark, sf_dir, "b1")
    per_order = lt.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("order_cents"),
    )
    joined = per_order.join(
        ot.hint("merge"), per_order["l_orderkey"] == ot["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("order_cents").alias("revenue_cents"),
    )


_B2_KEYS = (11, 23, 35, 47, 59)


@register(
    "b2_bucket_pruned_lookup",
    f"""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders WHERE o_orderkey IN {_B2_KEYS}
    """,
    doc="Bucket-pruned point lookup: an IN-list on the bucket column "
        "scans only the buckets those keys hash into "
        "(SelectedBucketsCount < 8 in the FileScan, pinned) — the "
        "serving path for keyed reads over a 100 TB store, no full "
        "scan, no shuffle",
    tags=("layout", "source"),
)
def b2(spark, sf_dir):
    from vunnel_spark.sinks.bucketed import write_bucketed

    # DisableUnnecessaryBucketedScan sees no downstream operator that
    # wants the hash distribution and silently drops the bucketed read —
    # which ALSO drops bucket pruning, turning the point lookup back
    # into a full scan.  The rule is pruning-blind (it only weighs
    # distribution reuse), so serving-style lookups must pin the scan
    # on.  Safe to leave set: it only suppresses an optional disable
    # heuristic and non-bucketed reads never consult it.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    root = scratch_dir("b2_")
    ot = write_bucketed(
        t(spark, sf_dir, "orders"),
        "b2_orders",
        os.path.join(root, "orders"),
        "o_orderkey",
        _N_BUCKETS,
    )
    return ot.filter(F.col("o_orderkey").isin(*_B2_KEYS)).select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
    )


@register(
    "s14_hash_bucket_keyed_read",
    f"""
    SELECT o_orderkey AS ident, o_orderstatus AS status,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_orderkey IN {_B2_KEYS}
    """,
    doc="S14 keyed point read through the envelope store's metastore-"
        "free hash bucketing (sinks/writers.py read_keys): the store is "
        "written partitioned by _bucket = pmod(xxhash64(key), n), each "
        "requested key's bucket constant-folds from a literal, and the "
        "scan's PartitionFilters prune every unmatched bucket dir — the "
        "reference's keyed SQLite lookup (result.py:233-259) restated "
        "as file-level pruning that survives the atomic-swap publish",
    tags=("layout", "sink"),
)
def s14(spark, sf_dir):
    from vunnel_spark.sinks import EnvelopeWriter

    out = os.path.join(scratch_dir("s14_"), "results")
    orders = t(spark, sf_dir, "orders")
    writer = EnvelopeWriter(
        out, key="ident", dedup="last_wins", order_col="ident", hash_buckets=8
    )
    writer.write(
        orders.select(
            F.col("o_orderkey").alias("ident"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        )
    )
    return writer.read_keys(spark, list(_B2_KEYS))


@register(
    "b3_zorder_range_query",
    """
    SELECT event_type, count(*) AS n_rows, round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 2 AND 6
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-21 00:00:00'
    GROUP BY event_type
    """,
    doc="Z-order clustered layout (functions/zorder.py): events rewritten "
        "range-partitioned+sorted by the Morton interleave of "
        "(user_id, day), so BOTH filter columns' per-file min/max stats "
        "are tight and a 2-D range predicate prunes files a time-sorted "
        "layout must read (tests/test_zorder.py counts the touched "
        "bounding boxes from the parquet footers: z < linear).  The "
        "clustering key is write-time only — readers filter the real "
        "columns and the answer (the oracle's plain filter+agg) is "
        "layout-independent",
    tags=("layout", "sink"),
)
def b3(spark, sf_dir):
    from vunnel_spark.functions.zorder import read_clustered, write_clustered, z_value

    ev = t(spark, sf_dir, "events")
    path = os.path.join(scratch_dir("b3_"), "events_z")
    write_clustered(
        ev, path, z_value("user_id", F.dayofmonth("ts"))
    )
    zev = read_clustered(spark, path)
    return (
        zev.filter(
            F.col("user_id").between(2, 6)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-21 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
