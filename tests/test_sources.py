"""Table loading tests: the dtype contract, scan fan-out, and schema
inference once per file version."""

from __future__ import annotations

import os


# Rounds 2 and 3 both shipped a "driver data != builder session" dtype bug
# (nanos-as-bigint, then TIMESTAMP_NTZ).  Pin the whole class: every column
# load_table yields must be one of these; any new parquet quirk that leaks
# through normalization turns this red before it breaks an operator.
ALLOWED_DTYPES = {
    "string", "boolean", "int", "bigint", "float", "double",
    "date", "timestamp",  # never timestamp_ntz, never raw bigint-nanos ts
    "array<float>", "array<double>", "array<string>", "binary",
}


def test_load_table_dtype_contract(spark, sf_dir):
    from vunnel_spark.session import load_tables

    tables = load_tables(spark, sf_dir)
    assert tables, sf_dir
    offenders = {
        (name, cname, dtype)
        for name, df in tables.items()
        for cname, dtype in df.dtypes
        if dtype not in ALLOWED_DTYPES
    }
    assert not offenders, f"unexpected dtypes from load_table: {offenders}"
    # the two historical regressions, pinned explicitly
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"


def test_load_table_fanout_knob(spark, sf_dir, monkeypatch):
    """VS_SCAN_MIN_PARTITIONS (r14 fixture-partitioning policy): OFF by
    default — registered plans stay exchange-free over the single-file
    fixtures; measurement harnesses opt in and get an N-way repartition,
    with the tiny dims exempt."""
    from vunnel_spark.session import load_table

    monkeypatch.delenv("VS_SCAN_MIN_PARTITIONS", raising=False)
    assert load_table(spark, sf_dir, "orders").rdd.getNumPartitions() <= 2
    monkeypatch.setenv("VS_SCAN_MIN_PARTITIONS", "8")
    assert load_table(spark, sf_dir, "orders").rdd.getNumPartitions() == 8
    # dims stay un-fanned (scheduling overhead would swamp 25-row tables)
    assert load_table(spark, sf_dir, "nation").rdd.getNumPartitions() <= 2


def test_load_table_infers_schema_once_per_file_version(spark, sf_dir, tmp_path, ddb):
    """The second read of an unchanged file starts no Spark job and has
    the inferred schema; each read is its own relation, so two reads of
    one table self-join; a rewritten file is inferred again."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_sinks import _newest_job
    from vunnel_spark.session import load_table

    sf = str(tmp_path)
    path = os.path.join(sf, "orders.parquet")
    shutil.copyfile(os.path.join(sf_dir, "orders.parquet"), path)

    first = load_table(spark, sf, "orders")
    before = _newest_job(spark)
    second = load_table(spark, sf, "orders")
    assert _newest_job(spark) == before, "a repeated read ran a Spark job"
    assert second.schema == first.schema == spark.read.parquet(path).schema

    pairs = first.join(second, first["o_custkey"] == second["o_custkey"]).count()
    (want,) = ddb.execute(
        "SELECT count(*) FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey"
    ).fetchone()
    assert pairs == want

    table = pq.read_table(path)
    pq.write_table(table.append_column("extra", pa.array(range(table.num_rows))), path)
    assert load_table(spark, sf, "orders").columns == first.columns + ["extra"]
