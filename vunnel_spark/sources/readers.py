"""Schema-explicit readers for the source formats the reference ingests.

Parity map:
- S1/S4/S8 JSON scans (nvd/api.py pages, alpine secdb, ubuntu OSV tar) ->
  ``read_jsonl`` / ``read_nested_json`` with explicit schemas + explode
- S5 CSV-with-comment-header (epss/manager.py:64-134) ->
  ``read_csv_with_comment_header``: comment='#' + the header-comment value
  lifted into a literal column, exactly like epss lifts score_date
- S3 OVAL XML (utils/oval_v2.py:443-495) -> ``sources/oval_xml.py``:
  binaryFile scan + streaming iterparse flatMap over plain/.gz/.bz2 files
  (no spark-xml needed); the JSON-shaped criteria walk in operators/oval.py
  shares the same semantics for already-landed JSON trees
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """JSON-lines scan with explicit schema (no inference pass).

    Corrupt records go to ``_corrupt_record`` (PERMISSIVE) so one bad row
    can't kill a 100 TB read; callers filter/route them explicitly.
    """
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def read_nested_json(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """Whole-document JSON scan (one document per file, nested)."""
    return (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .json(path)
    )


def read_csv_with_comment_header(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    lift_key: str | None = None,
) -> DataFrame:
    """CSV scan skipping '#' comment lines; optionally lift a
    ``#key:value`` comment into a literal column named ``lift_key``.

    The lift reads only the file head driver-side (the comment header is
    metadata, not data) — same split the reference makes in
    epss/manager.py:64-134 (score_date from the '#…score_date' line).
    """
    df = spark.read.schema(schema).option("comment", "#").option(
        "header", "true"
    ).csv(path)
    if lift_key:
        lifted = _lift_comment_value(spark, path, "#", lift_key)
        df = df.withColumn(lift_key, F.lit(lifted))
    return df


def _lift_comment_value(
    spark: SparkSession, path: str, comment_prefix: str, key: str
) -> str | None:
    import glob
    import gzip
    import os

    paths = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
    for p in paths:
        opener = gzip.open if p.endswith(".gz") else open
        try:
            with opener(p, "rt") as f:
                for line in f:
                    if not line.startswith(comment_prefix):
                        break
                    if key in line:
                        # '#key:value' or '#...,key:value' style
                        frag = line.strip().split(key, 1)[1]
                        return frag.lstrip(":=, ").split(",")[0].strip()
        except OSError:
            continue
    return None
