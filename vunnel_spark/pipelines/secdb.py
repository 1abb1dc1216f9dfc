"""The secdb pipeline — SURVEY §7.1's minimum end-to-end slice.

Reference flow (wolfi/alpine secdb providers,
/root/reference/src/vunnel/providers/wolfi/parser.py:153-255 and
alpine/parser.py:193-313):

    scan security.json  ->  explode packages[].secfixes{ver: [ids]}
    ->  split multi-id strings  ->  CVE-pattern filter (P1)
    ->  rejection anti-join (J5, alpine only)
    ->  group-assemble FixedIn[] per vuln id (A1, O2-sorted)
    ->  fix-date enrichment (J9 against the first-observed store)
    ->  envelope  ->  dedup-on-write parquet sink (A12/S12)

Every stage is a named function so tests can assert intermediate frames;
the composed pipeline is one lazy DataFrame DAG — a single Spark action
materializes the whole provider run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vunnel_spark.sinks.writers import EnvelopeWriter, envelope, first_observed_merge

SECDB_SCHEMA = (
    "distro string, urlprefix string, apkurl string, "
    "packages array<struct<pkg: struct<name: string, "
    "secfixes: array<struct<version: string, ids: array<string>>>>>>"
)


def scan(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(SECDB_SCHEMA).option("multiLine", "true").json(path)


def explode_fixes(db: DataFrame) -> DataFrame:
    """E2: nested secdb -> flat (distro, pkg, fix_version, vid) rows.

    Multi-id strings split on whitespace and vids DEDUP FIRST-OCCURRENCE
    within one (package element, fix_version) entry — the reference's
    per-entry ``vids`` seen-list (wolfi/parser.py:208-214,
    alpine/parser.py:257-263); duplicate PACKAGE elements still
    contribute independently (posexplode keeps element identity through
    the dedup, then drops it)."""
    return (
        db.select("distro", F.posexplode("packages").alias("p_pos", "p"))
        .select(
            "distro", "p_pos",
            F.col("p.pkg.name").alias("pkg"),
            F.explode("p.pkg.secfixes").alias("fx"),
        )
        .select(
            "distro", "pkg",
            F.col("fx.version").alias("fix_version"),
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.flatten(
                            F.transform(
                                F.coalesce(
                                    "fx.ids", F.array().cast("array<string>")
                                ),
                                lambda rv: F.split(F.trim(rv), r"\s+"),
                            )
                        ),
                        lambda v: v != "",
                    )
                )
            ).alias("vid"),
        )
    )


def cve_filter(fixes: DataFrame) -> DataFrame:
    """P1: keep only CVE-PREFIXED ids — alpine's re.match('^CVE-.*')
    (alpine/parser.py:266-268) is a prefix test, not a full-id grammar,
    so 'CVE-bogus' passes.  The wolfi/chainguard family applies NO id
    filter at all (wolfi/parser.py:203-255) — see secdb_pipeline's
    ``cve_only`` switch."""
    return fixes.filter(F.col("vid").startswith("CVE-"))


def apply_rejections(fixes: DataFrame, rejections: DataFrame | None) -> DataFrame:
    """J5: drop (pkg, vid) pairs present in the rejection list
    (alpine/parser.py:243-273)."""
    if rejections is None:
        return fixes
    return fixes.join(rejections.select("pkg", "vid").distinct(), ["pkg", "vid"], "left_anti")


def assemble_records(fixes: DataFrame) -> DataFrame:
    """A1 + O2: one record per (distro, vid) with deterministically sorted
    FixedIn[] (wolfi/parser.py:198-255; sort per utils/vulnerability.py:33-50)."""
    return (
        fixes.groupBy("distro", "vid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pkg").alias("Name"), F.col("fix_version").alias("Version")))
            ).alias("FixedIn")
        )
    )


def enrich_fix_dates(
    spark: SparkSession, records: DataFrame, fixes: DataFrame, state_path: str, today: str | None = None
) -> DataFrame:
    """J9 + I4: left join first-observed dates per (vid, pkg, version),
    inserting today's date for unseen keys (merge-on-miss)."""
    keys = fixes.select(
        F.col("vid").alias("vuln"), F.col("pkg").alias("pkg"), F.col("fix_version").alias("ver")
    ).distinct()
    observed = first_observed_merge(spark, state_path, keys, ["vuln", "pkg", "ver"], today=today)
    dated = (
        fixes.join(
            observed,
            (fixes.vid == observed.vuln) & (fixes.pkg == observed.pkg) & (fixes.fix_version == observed.ver),
            "left",
        )
        .groupBy("distro", "vid")
        .agg(F.min("first_observed").alias("earliest_fix_date"))
    )
    return records.join(dated, ["distro", "vid"], "left")


def secdb_pipeline(
    spark: SparkSession,
    secdb_path: str,
    out_path: str,
    state_path: str | None = None,
    rejections: DataFrame | None = None,
    today: str | None = None,
    cve_only: bool = True,
) -> DataFrame:
    """Full provider run: scan -> transform -> enrich -> envelope -> sink.
    Returns the written envelope frame (re-read from the sink).

    ``cve_only``: alpine keeps only CVE-prefixed ids
    (alpine/parser.py:266-268); wolfi/chainguard/minimos keep every vid
    (wolfi/parser.py:203-255) — pass False for that family."""
    fixes = explode_fixes(scan(spark, secdb_path))
    if cve_only:
        fixes = cve_filter(fixes)
    fixes = apply_rejections(fixes, rejections)
    records = assemble_records(fixes)
    if state_path:
        records = enrich_fix_dates(spark, records, fixes, state_path, today=today)
        item_cols = ["distro", "FixedIn", "earliest_fix_date"]
    else:
        item_cols = ["distro", "FixedIn"]
    env = envelope(
        records.withColumn("identifier", F.concat_ws("/", "distro", "vid")),
        "schema/vulnerability/os/v1",
        "identifier",
        item_cols,
    )
    writer = EnvelopeWriter(os.path.join(out_path, "results"), dedup="last_wins")
    writer.write(env)
    return writer.read(spark)
