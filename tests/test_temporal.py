"""as-of / range-bucket join operators (operators/temporal.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from vunnel_spark.operators.temporal import asof_join, range_bucket_join


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 12) + dt.timedelta(minutes=minute, seconds=second)


def test_asof_backward_semantics(spark):
    dim = spark.createDataFrame(
        [(1, _ts(0), 10.0), (1, _ts(10), 20.0), (2, _ts(5), 99.0)],
        "user_id long, ts timestamp, v double",
    )
    fact = spark.createDataFrame(
        [(100, 1, _ts(5)), (101, 1, _ts(10)), (102, 1, _ts(30)),
         (103, 2, _ts(4)), (104, 3, _ts(9))],
        "event_id long, user_id long, ts timestamp",
    )
    rows = {r["event_id"]: r["v"] for r in asof_join(fact, dim, ["user_id"], ["v"]).collect()}
    assert rows[100] == 10.0          # between versions -> earlier one
    assert rows[101] == 20.0          # equal ts -> inclusive (<=)
    assert rows[102] == 20.0          # after last version
    assert rows[103] is None          # before any version
    assert rows[104] is None          # key with no dim at all


def test_asof_preserves_fact_rowcount(spark):
    dim = spark.createDataFrame([(1, _ts(0), 1.0)], "user_id long, ts timestamp, v double")
    fact = spark.createDataFrame(
        [(i, 1, _ts(i)) for i in range(20)], "event_id long, user_id long, ts timestamp"
    )
    assert asof_join(fact, dim, ["user_id"], ["v"]).count() == 20


def test_asof_single_exchange(spark):
    dim = spark.createDataFrame([(1, _ts(0), 1.0)], "user_id long, ts timestamp, v double")
    fact = spark.createDataFrame([(1, 1, _ts(1))], "event_id long, user_id long, ts timestamp")
    plan = asof_join(fact, dim, ["user_id"], ["v"])._jdf.queryExecution().executedPlan().toString()
    # one hash-partitioning exchange on the key, no join operator at all
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_range_bucket_join_boundaries(spark):
    iv = spark.createDataFrame(
        [(1, _ts(0), _ts(30))], "iid long, start_ts timestamp, end_ts timestamp"
    )
    pts = spark.createDataFrame(
        [(_ts(0),), (_ts(30),), (_ts(30, 1),), (_ts(15),)], "ts timestamp"
    )
    got = range_bucket_join(pts, iv).count()
    assert got == 3  # inclusive both ends; 12:30:01 excluded


def test_range_bucket_join_interval_spanning_many_buckets(spark):
    # interval longer than the bucket width still matches everything inside
    # (12:00-16:00 spans nine 30-minute buckets; the points fall in eight)
    iv = spark.createDataFrame(
        [(1, _ts(0), _ts(240))], "iid long, start_ts timestamp, end_ts timestamp"
    )
    pts = spark.createDataFrame([(_ts(m),) for m in range(0, 240, 28)], "ts timestamp")
    got = range_bucket_join(pts, iv).count()
    assert got == 9


def test_range_bucket_join_no_nested_loop(spark):
    iv = spark.createDataFrame(
        [(1, _ts(0), _ts(30))], "iid long, start_ts timestamp, end_ts timestamp"
    )
    pts = spark.createDataFrame([(_ts(1),)], "ts timestamp")
    plan = range_bucket_join(pts, iv)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan


def test_asof_matches_pandas_merge_asof(spark):
    """Property check against an independent implementation: pandas
    merge_asof(direction='backward', allow_exact_matches=True) on
    randomized (key, ts) data."""
    import random

    import pandas as pd

    rng = random.Random(13)
    base = dt.datetime(2024, 1, 1)
    dim_rows = [
        (k, base + dt.timedelta(seconds=rng.randrange(0, 3600)), float(i))
        for i, k in enumerate(rng.choices(range(5), k=40))
    ]
    # dedupe (key, ts) collisions the same way the query layer does:
    # keep the highest value id per (key, ts)
    ded = {}
    for k, ts, v in dim_rows:
        ded[(k, ts)] = max(v, ded.get((k, ts), -1.0))
    dim_rows = [(k, ts, v) for (k, ts), v in ded.items()]
    fact_rows = [
        (i, rng.randrange(0, 6), base + dt.timedelta(seconds=rng.randrange(0, 3600)))
        for i in range(120)
    ]

    dim = spark.createDataFrame(dim_rows, "user_id long, ts timestamp, v double")
    fact = spark.createDataFrame(fact_rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["v"]
        for r in asof_join(fact, dim, ["user_id"], ["v"]).collect()
    }

    pdim = pd.DataFrame(dim_rows, columns=["user_id", "ts", "v"]).sort_values("ts")
    pfact = pd.DataFrame(fact_rows, columns=["event_id", "user_id", "ts"]).sort_values("ts")
    expect = pd.merge_asof(
        pfact, pdim, on="ts", by="user_id", direction="backward",
        allow_exact_matches=True,
    )
    for _, row in expect.iterrows():
        e = None if pd.isna(row["v"]) else row["v"]
        assert got[row["event_id"]] == e, (row["event_id"], got[row["event_id"]], e)


def test_interval_join_matches_bruteforce(spark):
    """Property check for the stream-stream interval join's batch mode
    against an O(n*m) reference: randomized per-key event sets, right
    event within [left.ts - within, left.ts]."""
    import random

    from vunnel_spark.streaming.joins import interval_join

    rng = random.Random(29)
    base = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, rng.randrange(0, 6), base + dt.timedelta(seconds=rng.randrange(0, 7200)))
        for i in range(80)
    ]
    right_rows = [
        (1000 + i, rng.randrange(0, 6), base + dt.timedelta(seconds=rng.randrange(0, 7200)))
        for i in range(80)
    ]
    left = spark.createDataFrame(left_rows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(right_rows, "event_id long, user_id long, ts timestamp")
    got = {
        (r.l_event_id, r.r_event_id)
        for r in interval_join(
            left.select("user_id", "ts", "event_id"),
            right.select("user_id", "ts", "event_id"),
        ).collect()
    }
    within = dt.timedelta(minutes=30)
    expect = {
        (li, ri)
        for (li, lk, lts) in left_rows
        for (ri, rk, rts) in right_rows
        if lk == rk and lts - within <= rts <= lts
    }
    assert got == expect and expect  # non-vacuous


def test_scd2_intervals_partition_the_timeline(spark, sf_dir):
    """SCD-2 semantic invariants per user: intervals are strictly
    ordered and contiguous (each valid_to equals the next valid_from),
    exactly one open (is_current) interval per user, consecutive
    intervals never repeat the same state (that's the whole point of
    the change-collapse), and the first interval starts at the user's
    first event."""
    from vunnel_spark.registry import REGISTRY, _ensure_loaded
    from vunnel_spark.session import load_table

    _ensure_loaded()
    out = REGISTRY["t3_scd2_intervals"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    first_ts = {
        r["user_id"]: r["m"]
        for r in ev.groupBy("user_id").agg(F.min("ts").alias("m")).collect()
    }
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == set(first_ts)
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r["valid_from"])
        assert rows[0]["valid_from"] == first_ts[uid]
        opens = [r for r in rows if r["is_current"]]
        assert len(opens) == 1 and opens[0] is rows[-1]
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"], (uid, a, b)
            assert a["event_type"] != b["event_type"], (uid, a, b)
        assert all(r["valid_to"] is None or r["valid_from"] < r["valid_to"]
                   for r in rows)
