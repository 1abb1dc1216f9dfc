"""The NVD pipeline — SURVEY §7.2 phase 8: delta merge -> overrides ->
fix dates -> FULL-corpus re-emit.

Reference flow (/root/reference/src/vunnel/providers/nvd/manager.py:103-159
``get()``; 161-186 ``_finalize_all_records``; override join 304-339):

    delta scan (records modified since last_updated)       [I1 watermark]
    -> upsert into the KEEP input store (last-wins by id)  [S13]
    -> apply overrides to EVERY stored record              [J8]
    -> synthesize records for override-only CVEs           [J7 anti-join]
    -> apply fix dates                                     [J9/I4]
    -> re-emit the FULL corpus                             [§3.2 lifecycle:
       an incremental run still emits every record, so override and
       fix-date improvements reach CVEs absent from today's delta]

Spark shape: the input store is a last-wins-deduped parquet table (the
reference's KEEP-policy SQLite input db); every stage is a join or a
window over it — the "re-emit everything" semantics falls out of simply
emitting the merged store instead of the delta.

Scale notes: the store upsert is one window shuffle keyed on cve_id; the
override join broadcasts (overrides are a hand-curated small table in the
reference); fix-date state is merge-on-miss (I4) keyed on cve_id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vunnel_spark.sinks.writers import EnvelopeWriter, envelope, first_observed_merge

#: columns every NVD-shaped record frame carries
RECORD_COLS = ["cve_id", "severity", "description", "last_modified", "refs"]


def upsert_input(spark: SparkSession, input_path: str, delta: DataFrame) -> DataFrame:
    """S13/I1: merge today's delta into the persistent input store.

    Last-wins by (cve_id) ordered on last_modified — a re-downloaded CVE
    replaces its stored version wholesale, like the reference's
    INSERT-OR-REPLACE input db (manager.py:176-183, KEEP result policy).
    Returns the merged full corpus (read back from the store).
    """
    writer = EnvelopeWriter(
        input_path, key="cve_id", dedup="last_wins", order_col="last_modified"
    )
    merged = writer.read(spark).unionByName(delta) if writer.exists() else delta
    writer.write(merged)
    return writer.read(spark)


def apply_overrides(records: DataFrame, overrides: DataFrame) -> DataFrame:
    """J8: patch stored records with the override table.

    Severity is replaced when the override provides one (the reduced
    model's stand-in for the reference's configurations replacement);
    reference URLs merge with _apply_override's EXACT discipline
    (manager.py:328-335): override refs are APPENDED in their own order
    when their url isn't already present — existing order is preserved,
    nothing is sorted, and the presence set is built from the ORIGINAL
    record refs only (so duplicate urls inside the override list each
    append, like the reference's un-updated existing_set).  Broadcast:
    overrides are small by construction.
    """
    ovr = F.broadcast(
        overrides.select(
            "cve_id",
            F.col("severity").alias("_ovr_sev"),
            F.col("extra_refs").alias("_ovr_refs"),
        )
    )
    base_refs = F.col("refs")
    return records.join(ovr, "cve_id", "left").select(
        "cve_id",
        F.coalesce(F.col("_ovr_sev"), F.col("severity")).alias("severity"),
        "description",
        "last_modified",
        F.concat(
            base_refs,
            F.filter(
                F.coalesce(F.col("_ovr_refs"), F.array()),
                lambda r: ~F.array_contains(base_refs, r),
            ),
        ).alias("refs"),
        F.col("_ovr_sev").isNotNull().alias("was_overridden"),
    )


def synthesize_from_overrides(records: DataFrame, overrides: DataFrame) -> DataFrame:
    """J7: overrides naming CVEs with no stored record become records.

    The reference synthesizes an NVD record so a CVE published in the wild
    but still 'reserved' upstream is not silently dropped
    (manager.py:146-159 + _synthesize_nvd_record_from_override).
    """
    missing = overrides.join(records.select("cve_id"), "cve_id", "left_anti")
    return missing.select(
        "cve_id",
        F.col("severity"),
        F.lit("synthesized from override").alias("description"),
        F.lit(None).cast("timestamp").alias("last_modified"),
        # annotation references keep their OWN order (the synthesized
        # record's refs are built verbatim, manager.py:292-300, and the
        # follow-up _apply_override ref-merge finds them all present)
        F.col("extra_refs").alias("refs"),
        F.lit(True).alias("was_overridden"),
    )


def apply_fix_dates(
    spark: SparkSession, records: DataFrame, state_path: str, today: str | None = None
) -> DataFrame:
    """I4: merge-on-miss first-observed date per cve_id (fixdater analogue:
    manager.py:91 fixdater.download + _apply_fix_dates)."""
    keys = records.select("cve_id").distinct()
    observed = first_observed_merge(spark, state_path, keys, ["cve_id"], today=today)
    return records.join(observed, "cve_id", "left")


def nvd_pipeline(
    spark: SparkSession,
    delta: DataFrame,
    workdir: str,
    overrides: DataFrame | None = None,
    state_path: str | None = None,
    today: str | None = None,
) -> DataFrame:
    """One provider run: merge the delta, then re-emit the FULL corpus with
    today's overrides and fix dates applied.  Returns the written envelope
    frame (read back from the results sink)."""
    corpus = upsert_input(spark, os.path.join(workdir, "input"), delta)
    if overrides is not None:
        patched = apply_overrides(corpus, overrides)
        # apply_overrides left-joins on cve_id, so the corpus has the same
        # cve_id set as the patched frame; anti-joining against the stored
        # corpus keeps the right side a small broadcastable scan
        patched = patched.unionByName(synthesize_from_overrides(corpus, overrides))
    else:
        patched = corpus.withColumn("was_overridden", F.lit(False))
    if state_path:
        patched = apply_fix_dates(spark, patched, state_path, today=today)
        item_cols = ["severity", "description", "refs", "was_overridden", "first_observed"]
    else:
        item_cols = ["severity", "description", "refs", "was_overridden"]
    env = envelope(
        patched.withColumn("identifier", F.lower(F.col("cve_id"))),
        "schema/vulnerability/nvd/v2",
        "identifier",
        item_cols,
    )
    writer = EnvelopeWriter(os.path.join(workdir, "results"), dedup="last_wins")
    writer.write(env)
    return writer.read(spark)
