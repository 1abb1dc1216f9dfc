"""SLES release-name resolution (SURVEY §2 provider-family proof).

Reference: /root/reference/src/vunnel/providers/sles/parser.py:197-246
``_release_resolver`` — the same SLES version can appear under multiple
release names ('sles-release', 'sles-ltss-release', others), each with
its own vulnerability object, but namespaces key on the VERSION alone,
so exactly one object must win per version:

    one release name for the version          -> it wins, whatever it is
    multiple, one of them 'sles-release'      -> that one (the container
                                                 image channel)
    multiple, one 'sles-ltss-release'         -> that one
    multiple, all unrecognized                -> the version is SKIPPED
                                                 whole for this vuln

The reference walks a {version: {release: vuln}} dict per vulnerability;
here the pick is one aggregation over (vuln_id, version): count + best
priority rank decide, min_by carries the winning payload — one shuffle
on the namespace key, no window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: recognized release names, in pick priority order (parser.py:229-237)
_RELEASE_PRIORITY = ("sles-release", "sles-ltss-release")


def release_resolver(df: DataFrame) -> DataFrame:
    """One row per (vuln, version): the reference's condensing pick.

    ``df`` carries one row per (vuln_id, version, release) — release names are
    unique within a group by construction (the reference's inner dict
    keys on them).  Output drops the release column and the
    all-unrecognized multi-release groups.
    """
    keys = ["vuln_id", "version"]
    rk = (
        F.when(F.col("release") == _RELEASE_PRIORITY[0], F.lit(0))
        .when(F.col("release") == _RELEASE_PRIORITY[1], F.lit(1))
        .otherwise(F.lit(2))
    )
    payload = [c for c in df.columns if c not in (*keys, "release")]
    agg = (
        df.withColumn("_rk", rk)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("_rk").alias("_best"),
            F.min_by(F.struct(*payload), F.col("_rk")).alias("_pick"),
        )
    )
    return (
        agg
        # single-release versions keep their row whatever the name;
        # multi-release versions need a recognized winner
        .filter((F.col("_n") == 1) | (F.col("_best") <= 1))
        .select(*keys, *[F.col("_pick")[c].alias(c) for c in payload])
    )
