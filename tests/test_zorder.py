"""Z-order layout tests: the clustering must actually prune (counted
from real parquet footer statistics, the same min/max any engine's
skipping reads) and must never change query answers."""

from __future__ import annotations

import datetime
import os
import tempfile

from pyspark.sql import functions as F

from vunnel_spark.functions.zorder import (
    file_prune_stats,
    files_touched,
    read_clustered,
    write_clustered,
    z_value,
)
from vunnel_spark.session import load_table

_UTC = datetime.timezone.utc
_DAY_BOX = (
    datetime.datetime(2024, 1, 10, tzinfo=_UTC),
    datetime.datetime(2024, 1, 21, tzinfo=_UTC),
)


def test_z_value_is_morton_interleave(spark):
    # below 2^5 both columns keep every bit: textbook Morton pairs
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 3)], "a long, b long"
    )
    out = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", z_value("a", "b").alias("z")).collect()
    }
    assert out == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3, (2, 0): 4, (3, 3): 15}


def test_zorder_prunes_more_files_than_linear(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="zorder_test_")
    zp, lp = os.path.join(root, "z"), os.path.join(root, "lin")
    write_clustered(
        ev, zp, z_value("user_id", F.dayofmonth("ts")), n_files=32
    )
    write_clustered(ev, lp, F.col("ts"), n_files=32)
    user_box = (2, 3)
    z_touch = files_touched(file_prune_stats(zp, "user_id", "ts"), user_box, _DAY_BOX)
    lin_touch = files_touched(
        file_prune_stats(lp, "user_id", "ts"), user_box, _DAY_BOX
    )
    # the time-sorted layout cannot prune on user_id at all; the z layout
    # must beat it on the 2-D box (measured 7 vs 14 at sf0.001)
    assert z_touch < lin_touch, (z_touch, lin_touch)

    # and the layout never changes answers
    pred = (
        F.col("user_id").between(*user_box)
        & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-21 00:00:00").cast("timestamp"))
    )
    a = sorted(r["event_id"] for r in read_clustered(spark, zp).filter(pred).collect())
    b = sorted(r["event_id"] for r in ev.filter(pred).collect())
    assert a == b and a


def test_clustered_write_emits_timestamp_stats(spark, sf_dir):
    # INT96 would strip ts min/max from the footers and silently disable
    # time pruning; the writer must emit micros so stats exist
    ev = load_table(spark, sf_dir, "events")
    p = os.path.join(tempfile.mkdtemp(prefix="zstats_"), "z")
    write_clustered(ev, p, F.col("ts"), n_files=4)
    stats = file_prune_stats(p, "user_id", "ts")
    assert stats and all(s[2][0] is not None for s in stats), stats[:2]


def test_z_value_matches_python_reference_property(spark):
    """Property check vs an independent bit-twiddling reference, over the
    full interleave pattern for unequal widths (11/5) including mask
    wraparound for out-of-range values."""
    import random

    rng = random.Random(7)
    cases = [(rng.randrange(0, 1 << 13), rng.randrange(0, 1 << 7))
             for _ in range(300)]

    def ref(a, b, bits_a, bits_b):
        a &= (1 << bits_a) - 1
        b &= (1 << bits_b) - 1
        z = pos = 0
        for i in range(max(bits_a, bits_b)):
            if i < bits_a:
                z |= ((a >> i) & 1) << pos
                pos += 1
            if i < bits_b:
                z |= ((b >> i) & 1) << pos
                pos += 1
        return z

    df = spark.createDataFrame(cases, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", z_value("a", "b").alias("z")).collect()
    }
    for a, b in cases:
        assert got[(a, b)] == ref(a, b, 11, 5), (a, b)
