"""The OVAL-family pipeline — SURVEY §7.2 phase 6 (oracle/SLES/mariner).

Reference flow (/root/reference/src/vunnel/providers/oracle/oval_parser.py
and utils/oval_v2.py): an OVAL document yields four element kinds —
definitions (advisory metadata + criteria tree), rpminfo_tests,
rpminfo_objects (package names) and rpminfo_states (EVR thresholds).  The
reference resolves each definition's package tests through
test -> object/state dict lookups (oval_parser.py:119-167), drops ksplice
releases (parser.py:145-201, P6), and keeps the higher definition version
when duplicates share a name (oval_parser.py:186-206, A13).

Spark form: the dict lookups become a three-hop equi-join chain over the
four relational frames a scan of the landed OVAL feed produces
(definition/criteria rows; tests/objects/states arrive the same way from
their element kinds).  All stages are Catalyst expressions; the dimension
frames are small relative to definitions at real feed sizes, so the
resolution joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the SLES provider's PARSER_CONFIG.severity_map: feed severity -> ours
SLES_SEVERITY_MAP = {"important": "High", "moderate": "Medium", "critical": "Critical"}


def canonical_definitions(defs: DataFrame) -> DataFrame:
    """A13: duplicate definitions sharing ``name`` keep the highest
    (version, def_id) — the def_id tie-break makes the pick total."""
    w = Window.partitionBy("name").orderBy(
        F.col("version").desc(), F.col("def_id").desc()
    )
    return (
        defs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def resolve_tests(
    pairs: DataFrame,
    tests: DataFrame,
    objects: DataFrame,
    states: DataFrame,
) -> DataFrame:
    """Resolve (def_id, pkg_test) -> (pkg name, evr) via the test's
    object/state refs — the reference's dict chain as equi-joins.

    pairs:   (def_id, ns_test, pkg_test)
    tests:   (test_id, object_ref, state_ref)
    objects: (object_ref, pkg)
    states:  (state_ref, evr, release)
    """
    return (
        pairs.join(tests, pairs["pkg_test"] == tests["test_id"])
        .join(F.broadcast(objects), "object_ref")
        .join(F.broadcast(states), "state_ref")
        .select("def_id", "ns_test", "pkg", "evr", "release")
    )


def drop_ksplice(resolved: DataFrame) -> DataFrame:
    """P6: drop fixes whose rpm release matches the ksplice pattern."""
    return resolved.filter(
        F.col("release").isNull() | ~F.col("release").rlike(r".*ksplice.*")
    )


def assemble(defs: DataFrame, resolved: DataFrame) -> DataFrame:
    """One record per canonical definition: sorted FixedIn string (O2)."""
    fixes = resolved.groupBy("def_id").agg(
        F.concat_ws(
            "|",
            F.array_sort(
                F.array_distinct(
                    F.collect_list(F.concat_ws(":", F.col("pkg"), F.col("evr")))
                )
            ),
        ).alias("fixed_in")
    )
    return defs.join(fixes, "def_id", "left").select(
        "name",
        "def_id",
        F.col("version").alias("def_version"),
        "severity",
        F.coalesce("fixed_in", F.lit("")).alias("fixed_in"),
    )


def oval_pipeline(
    defs: DataFrame,
    pairs: DataFrame,
    tests: DataFrame,
    objects: DataFrame,
    states: DataFrame,
) -> DataFrame:
    """Full resolution run: A13 canonical pick -> semi-join pairs to the
    surviving definitions -> test/object/state resolution -> P6 ksplice
    drop -> record assembly."""
    canon = canonical_definitions(defs)
    live_pairs = pairs.join(canon.select("def_id"), "def_id", "left_semi")
    resolved = drop_ksplice(resolve_tests(live_pairs, tests, objects, states))
    return assemble(canon, resolved)


def sles_pipeline(
    defs: DataFrame,
    pairs: DataFrame,
    tests: DataFrame,
    objects: DataFrame,
    states: DataFrame,
) -> DataFrame:
    """SLES variant (providers/sles/parser.py:40-58, 377-420): ``pairs``
    carries a ``polarity`` column; 'not_affected' tests resolve through the
    same chain but emit Version "0" FixedIn entries, only when the
    referenced state's evr really is "0" (defensive skip otherwise).

    The not-affected entries dedup only AMONG THEMSELVES: the
    reference's "deduplicate against affected entries" intent
    (parser.py:381-384) never fires, because ``already_emitted`` holds
    (Name, Module=None) tuples while the membership test probes
    (Name, "") — so a package that is both fixed and not-affected in
    one impact item emits BOTH entries, and this pipeline reproduces
    that (r12 fidelity pass replaced an anti-join that implemented the
    comment instead of the code).  ``SLES_SEVERITY_MAP`` normalizes the
    feed's lowercase severities; an unmapped one becomes "Unknown".
    """
    canon = canonical_definitions(defs)
    live = pairs.join(canon.select("def_id"), "def_id", "left_semi")
    aff = resolve_tests(
        live.filter(F.col("polarity") != "not_affected").drop("polarity"),
        tests, objects, states,
    )
    na = (
        resolve_tests(
            live.filter(F.col("polarity") == "not_affected").drop("polarity"),
            tests, objects, states,
        )
        .filter(F.col("evr") == "0")
        .select("def_id", "pkg")
        .distinct()
        .select(
            "def_id",
            F.lit(None).cast("string").alias("ns_test"),
            "pkg",
            F.lit("0").alias("evr"),
            F.lit(None).cast("string").alias("release"),
        )
    )
    mapped = None
    for raw, cooked in SLES_SEVERITY_MAP.items():
        mapped = (F.when(F.col("severity") == raw, cooked) if mapped is None
                  else mapped.when(F.col("severity") == raw, cooked))
    return assemble(canon, aff.unionByName(na)).withColumn(
        "severity", mapped.otherwise(F.lit("Unknown"))
    )
