"""The plan walker reads operator metrics through adaptive query stages."""

import os

import pytest

from perfbench import plan


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from vunnel_spark.session import get_spark

    return get_spark("perfbench_tests", cpus=2)


def _query(spark):
    from pyspark.sql import functions as F

    facts = spark.range(20_000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    dims = spark.range(97).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    return facts.groupBy("k").agg(F.sum("v").alias("s")).join(F.broadcast(dims), "k")


def test_walk_reaches_exchanges_inside_query_stages(spark):
    df = _query(spark)
    assert df._jdf.queryExecution().toRdd().count() == 97
    nodes = plan.walk(df)
    names = [n for n, _cg, _m in nodes]
    assert "ShuffleQueryStageExec" in names and "BroadcastQueryStageExec" in names
    s = plan.summarize(nodes)
    assert s["exec.exchanges"] >= 1
    assert s["exec.shuffle_bytes"] > 0 and s["exec.shuffle_records"] > 0
    assert s["exec.broadcast_bytes"] > 0
    assert s["exec.codegen_stages"] >= 1
    assert any(in_cg for _n, in_cg, _m in nodes)


def test_noop_sink_leaves_the_frames_own_plan_empty(spark):
    """The trap the walker's callers must avoid: the noop sink runs a new
    QueryExecution, so ``df``'s own plan never executes."""
    df = _query(spark)
    df.write.format("noop").mode("overwrite").save()
    assert plan.summarize(plan.walk(df))["exec.shuffle_bytes"] == 0
