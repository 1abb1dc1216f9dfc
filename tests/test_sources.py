"""Source reader tests: explicit-schema scans, corrupt-row routing,
comment-header CSV with lifted metadata."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from vunnel_spark.sources import read_csv_with_comment_header, read_jsonl, read_nested_json


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


def test_jsonl_explicit_schema_and_corrupt_routing(spark, tmp_path):
    p = str(tmp_path / "in.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps({"id": "CVE-1", "sev": "High"}) + "\n")
        f.write(json.dumps({"id": "CVE-2", "sev": "Low"}) + "\n")
        f.write("{broken json\n")
    df = read_jsonl(spark, p, "id string, sev string, _corrupt_record string")
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {"CVE-1", "CVE-2"}
    assert len(bad) == 1  # corrupt row routed, not fatal


def test_nested_json_multilevel_explode(spark, tmp_path):
    # secdb-shaped document (alpine/wolfi: packages[].pkg.secfixes{ver: [ids]})
    doc = {
        "distro": "alp",
        "packages": [
            {"pkg": {"name": "openssl", "secfixes": [
                {"version": "3.0.1", "ids": ["CVE-1", "CVE-2"]},
                {"version": "3.0.2", "ids": ["CVE-3"]}]}},
            {"pkg": {"name": "zlib", "secfixes": [
                {"version": "1.2.12", "ids": ["CVE-4"]}]}},
        ],
    }
    p = str(tmp_path / "secdb.json")
    with open(p, "w") as f:
        json.dump(doc, f)
    schema = (
        "distro string, packages array<struct<pkg: struct<name: string, "
        "secfixes: array<struct<version: string, ids: array<string>>>>>>"
    )
    import pyspark.sql.functions as F

    df = read_nested_json(spark, p, schema)
    flat = (
        df.select("distro", F.explode("packages").alias("p"))
        .select("distro", F.col("p.pkg.name").alias("pkg"), F.explode("p.pkg.secfixes").alias("fx"))
        .select("distro", "pkg", F.col("fx.version").alias("version"), F.explode("fx.ids").alias("vid"))
    )
    rows = {(r.pkg, r.version, r.vid) for r in flat.collect()}
    assert rows == {
        ("openssl", "3.0.1", "CVE-1"), ("openssl", "3.0.1", "CVE-2"),
        ("openssl", "3.0.2", "CVE-3"), ("zlib", "1.2.12", "CVE-4"),
    }


@pytest.mark.parametrize("gz", [False, True])
def test_csv_comment_header_with_lift(spark, tmp_path, gz):
    # EPSS-shaped: '#model_version:v2023.03.01,score_date:2024-05-01'
    content = (
        "#model_version:v2023.03.01,score_date:2024-05-01\n"
        "cve,epss,percentile\n"
        "CVE-1,0.5,0.9\n"
        "CVE-2,0.1,0.4\n"
    )
    name = "epss.csv.gz" if gz else "epss.csv"
    p = str(tmp_path / name)
    if gz:
        with gzip.open(p, "wt") as f:
            f.write(content)
    else:
        with open(p, "w") as f:
            f.write(content)
    df = read_csv_with_comment_header(
        spark, p, "cve string, epss double, percentile double", lift_key="score_date"
    )
    rows = df.collect()
    assert len(rows) == 2
    assert all(r.score_date == "2024-05-01" for r in rows)
    assert {r.cve for r in rows} == {"CVE-1", "CVE-2"}
