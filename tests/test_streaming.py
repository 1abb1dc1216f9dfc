"""True Structured Streaming test: file-source streams -> watermarked
stream-stream interval join -> memory sink, compared against the
identical batch expression (one definition, two run modes).
"""

from __future__ import annotations

import pytest

from vunnel_spark.session import load_table


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """Re-write the events table as a plain-timestamp parquet dir a file
    stream can read (the driver parquet's TIMESTAMP(NANOS) needs the
    load_table normalization first)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
    return d


def _as_sets(df, cols):
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def test_stream_stream_interval_join_matches_batch(spark, event_stream_dir):
    """Stream-stream inner join with watermark-bounded state == the same
    interval-join expression on static frames.  All events fall inside the
    watermark horizon at availableNow, so the sets must be identical."""
    import pyspark.sql.functions as F

    from vunnel_spark.streaming import interval_join

    static = spark.read.parquet(event_stream_dir)
    purchases_s = static.where(F.col("event_type") == "purchase")
    clicks_s = static.where(F.col("event_type") == "click")

    def streams():
        s = spark.readStream.schema(static.schema).parquet(event_stream_dir)
        return (
            s.where(F.col("event_type") == "purchase"),
            s.where(F.col("event_type") == "click"),
        )

    lp, rc = streams()
    joined = interval_join(
        lp.select("user_id", "ts", "event_id"),
        rc.select("user_id", "ts", "event_id"),
        watermark="100 days",  # bounded-state knob; generous so none drop here
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT l_event_id, r_event_id FROM t_ssjoin")
    expect = interval_join(
        purchases_s.select("user_id", "ts", "event_id"),
        clicks_s.select("user_id", "ts", "event_id"),
    ).select("l_event_id", "r_event_id")
    assert out.count() > 0
    assert _as_sets(out, ["l_event_id", "r_event_id"]) == _as_sets(
        expect, ["l_event_id", "r_event_id"]
    )
