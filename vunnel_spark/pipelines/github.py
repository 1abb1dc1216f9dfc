"""GitHub Security Advisory pipeline — SURVEY §7.2 phase 9.

Reference flow (/root/reference/src/vunnel/providers/github/parser.py and
__init__.py:73-120): GraphQL advisory nodes carry a vulnerability-node
list; each node's GitHub ecosystem maps through ``ecosystem_map``
(parser.py:42-55) or the node is dropped; a fix record keeps
``firstPatchedVersion`` (or the literal string "None") and the
vulnerableVersionRange with commas stripped (parser.py:695-757).  The
provider then emits ONE record per (advisory, ecosystem), with FixedIn
filtered to that ecosystem and identifier ``github:{eco}/{ghsa_id.lower()}``
(__init__.py:79-94).  CVE ids are the advisory identifiers that are not
GHSA ids (parser.py:790-800); severities normalize UPPER -> canonical
(parser.py:576-602).

Spark form: the per-node loop is a projection over a literal map column
(pure Catalyst, no UDF); the per-ecosystem fan-out is the natural
``groupBy(ghsa_id, ecosystem)`` — no explode of a pre-built list, the
records never exist in unfiltered form.  The advisory-metadata join is
a broadcast at real feed sizes (advisories ≪ vulnerability nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vunnel_spark.functions.cvss import (
    cvss3_eval_cols,
    cvss4_eval_cols,
    strip_trailing_slash,
    with_cvss3_eval,
    with_cvss4_valid,
)

#: parser.py:42-55 — GitHub ecosystem -> grype namespace ecosystem
ECOSYSTEM_MAP = {
    "COMPOSER": "composer",
    "ERLANG": "erlang",
    "GO": "go",
    "MAVEN": "java",
    "NPM": "npm",
    "NUGET": "nuget",
    "PIP": "python",
    "PUB": "dart",
    "RUBYGEMS": "gem",
    "RUST": "rust",
    "SWIFT": "swift",
    "ACTIONS": "github-action",
}

#: parser.py:595-601 — feed severity (UPPER) -> canonical
SEVERITY_MAP = {
    "LOW": "Low",
    "MODERATE": "Medium",
    "HIGH": "High",
    "CRITICAL": "Critical",
}


def map_ecosystems(vuln_nodes: DataFrame) -> DataFrame:
    """Map the GitHub ecosystem label; drop unmapped nodes (the reference's
    'dropping github vuln from unmapped ecosystem' branch)."""
    m = F.create_map(*[F.lit(x) for kv in ECOSYSTEM_MAP.items() for x in kv])
    return (
        vuln_nodes.withColumn("ecosystem", m[F.col("github_ecosystem")])
        .filter(F.col("ecosystem").isNotNull())
    )


def fix_records(nodes: DataFrame, fixdates: DataFrame | None = None) -> DataFrame:
    """One FixedIn record per surviving node: name, fix version (or the
    literal 'None'), comma-stripped range, github:{eco} namespace.

    ``fixdates`` (optional): the first-observed store dim
    (ghsa_id, pkg, ecosystem, fix_version, date, kind), at most one row
    per key, carrying NORMALIZED pkg/ecosystem keys (the store writes
    through normalize_package_name and the finder-normalized ecosystem
    — functions/fixdate.py).  The probe side applies the same
    normalization (finder.py:147 + vunnel_first_observed.py:128): the
    mapped GHSA ecosystem normalizes again for the STORE key space
    ('java' -> 'java-archive', 'rust' -> 'rust-crate', ...), and python
    package names get the PEP-503 '_'/'.' -> '-' substitutions.
    The reference's github Finder is STORE-ONLY —
    ``fixdate.default_finder`` builds ``Finder(strategies=[],
    first_observed=Store)`` and ``_fixedin`` passes no candidates
    (parser.py:745-756), so ``best()`` reduces to: falsy/'None'/'0' fix
    version -> no result (finder.py:149-151), else the store row for
    (vuln_id, package, fix_version, ecosystem) whether accurate or not
    (an accurate row returns at :194, an inaccurate one via the
    last-resort extend at :198-203 — with no other sources the cap
    logic cannot discard anything).  A hit appends the
    ``available {date, kind}`` pair to the record (parser.py:751-756);
    a miss leaves the record without it."""
    base = F.concat_ws(
        ":",
        F.col("pkg"),
        F.coalesce(F.col("first_patched"), F.lit("None")),
        # .get('vulnerableVersionRange', '') — a missing range is the
        # EMPTY string, not a skipped serialization token
        F.regexp_replace(F.coalesce(F.col("vrange"), F.lit("")), ",", ""),
    )
    if fixdates is None:
        return nodes.select("ghsa_id", "ecosystem", base.alias("fix"))
    # best()'s falsy-version guard: no lookup at all for absent/None/0
    eligible = (
        F.col("first_patched").isNotNull()
        & ~F.col("first_patched").isin("", "None", "0")
    )
    # NO forced broadcast: a production first-observed store has
    # millions of rows (and the sf10 fixture dim ~10M) — AQE picks
    # broadcast when the dim is actually small; forcing it ships the
    # whole store to every task at scale (r13 sf10 measure caught this)
    dim = fixdates.select(
        F.col("ghsa_id").alias("_g"), F.col("pkg").alias("_p"),
        F.col("ecosystem").alias("_e"), F.col("fix_version").alias("_v"),
        "date", "kind",
    )
    from vunnel_spark.functions.fixdate import (
        normalize_fixdate_ecosystem,
        normalize_fixdate_package,
    )

    probe_eco = normalize_fixdate_ecosystem(F.col("ecosystem"))
    probe_pkg = normalize_fixdate_package(F.col("pkg"), probe_eco)
    joined = nodes.join(
        dim,
        eligible
        & (F.col("ghsa_id") == F.col("_g"))
        & (probe_pkg == F.col("_p"))
        & (probe_eco == F.col("_e"))
        & (F.col("first_patched") == F.col("_v")),
        "left",
    )
    avail = F.when(
        F.col("date").isNotNull(),
        F.concat(F.lit(":"), F.col("date").cast("string"), F.lit(":"), F.col("kind")),
    ).otherwise(F.lit(""))
    return joined.select(
        "ghsa_id", "ecosystem", F.concat(base, avail).alias("fix")
    )


def cvss_severities_envelope(df: DataFrame) -> DataFrame:
    """The reference's ``_make_cvss_severities`` envelope
    (github/parser.py:604-687) over vector columns.

    Input columns (either nullable — a missing ``cvssSeverities`` entry
    or a falsy ``vectorString`` is a NULL here, matching the reference's
    ``if v3: / if vector:`` guards at :669-672/:679-682):

    * ``cvss_v3_vector`` — ``cvssSeverities.cvssV3.vectorString``
    * ``cvss_v4_vector`` — ``cvssSeverities.cvssV4.vectorString``

    Adds three columns:

    * ``legacy_cvss`` — struct ``(version, vector_string,
      base_metrics(base_score, exploitability_score, impact_score,
      base_severity), status)`` per ``_make_legacy_cvss`` (:604-628);
      NULL when there is no v3 vector (the reference never assigns
      ``self["CVSS"]``) AND when the parse fails (the reference assigns
      None).  Those two cases are indistinguishable downstream, so one
      NULL models both.
    * ``cvss_v3`` / ``cvss_v4`` — the ``{"version", "vector"}`` entries
      of ``_make_cvss_v3`` / ``_make_cvss_v4``, NULL when absent or
      malformed.  The reference appends v3 then v4 into a list
      (:677/:685); callers needing the list shape use
      ``filter(array(cvss_v3, cvss_v4), x -> x is not null)`` which
      preserves exactly that order.

    All validation and scoring is pure Catalyst (functions/cvss.py) —
    no UDF, no driver round-trip; at scale this is a map-only stage.

    STRUCTURE MATTERS for cost (r13 perf find, r14 rework): downstream
    consumers extract individual struct fields, and Catalyst pushes
    GetStructField into the ``when`` branches — if the structs were
    built directly over the expensive validity/score expressions, every
    extracted field would re-evaluate the whole grammar+score tree
    (measured 8x = ~50x slower on rhel2's sibling shape).  Since r14
    the expensive scalars come from the LAYERED with_cvss3_eval /
    with_cvss4_valid projections (every intermediate a named column —
    the r13 single mid-projection still duplicated the shared split/ISS
    subtrees inside itself and broke codegen, see functions/cvss.py);
    the structs assemble from cheap attribute references only.
    """
    p3, p4 = "_g3", "_g4"
    mid = with_cvss3_eval(df, strip_trailing_slash(F.col("cvss_v3_vector")), p3)
    mid = with_cvss4_valid(mid, strip_trailing_slash(F.col("cvss_v4_vector")), p4)
    helpers = ["_v3ok", "_v4ok", "_v3ver", "_v3s", "_v4s",
               "_base", "_esc", "_isc", "_sev"]
    mid = mid.select(
        "*",
        (F.col("cvss_v3_vector").isNotNull() & F.col(f"{p3}_ok")).alias("_v3ok"),
        (F.col("cvss_v4_vector").isNotNull() & F.col(f"{p4}_ok")).alias("_v4ok"),
        F.col(f"{p3}_ver").alias("_v3ver"),
        F.col(f"{p3}_vec").alias("_v3s"),
        F.col(f"{p4}_vec").alias("_v4s"),
        F.col(f"{p3}_base").alias("_base"),
        F.col(f"{p3}_esc").alias("_esc"),
        F.col(f"{p3}_isc").alias("_isc"),
        F.col(f"{p3}_sev").alias("_sev"),
    ).drop(*cvss3_eval_cols(p3), *cvss4_eval_cols(p4))
    legacy = F.when(
        F.col("_v3ok"),
        F.struct(
            F.col("_v3ver").alias("version"),
            F.col("_v3s").alias("vector_string"),
            F.struct(
                F.col("_base").alias("base_score"),
                F.col("_esc").alias("exploitability_score"),
                F.col("_isc").alias("impact_score"),
                F.col("_sev").alias("base_severity"),
            ).alias("base_metrics"),
            F.lit("N/A").alias("status"),
        ),
    )
    v3_entry = F.when(
        F.col("_v3ok"),
        F.struct(F.col("_v3ver").alias("version"), F.col("_v3s").alias("vector")),
    )
    # _make_cvss_v4: version from clean_vector()'s prefix — "4.0" for
    # every vector the parse accepts; NO score math (parser.py:648-665)
    v4_entry = F.when(
        F.col("_v4ok"),
        F.struct(F.lit("4.0").alias("version"), F.col("_v4s").alias("vector")),
    )
    return (
        mid.withColumn("legacy_cvss", legacy)
        .withColumn("cvss_v3", v3_entry)
        .withColumn("cvss_v4", v4_entry)
        .drop(*helpers)
    )


#: advisory-level envelope columns (cvss_severities_envelope output)
#: carried through the per-ecosystem fan-out verbatim — the reference
#: writes `dict(advisory)` per ecosystem (__init__.py:94), so CVSS /
#: cvss_severities repeat identically on every ecosystem record.
ENVELOPE_COLS = ("legacy_cvss", "cvss_v3", "cvss_v4")


def github_pipeline(
    advisories: DataFrame,
    vuln_nodes: DataFrame,
    fixdates: DataFrame | None = None,
) -> DataFrame:
    """advisories: (ghsa_id, severity, identifiers array<string>, withdrawn
    [, legacy_cvss, cvss_v3, cvss_v4 — optional envelope columns from
    cvss_severities_envelope, passed through per ecosystem record])
    vuln_nodes:  (ghsa_id, github_ecosystem, pkg, first_patched, vrange)
    fixdates:    optional first-observed store dim (see fix_records) —
    the lookup runs AFTER the ecosystem map like the reference's
    per-node flow (_fixedin maps the ecosystem before calling
    fixdater.best, parser.py:717-747).

    Returns one row per (advisory, mapped ecosystem): the reference's
    per-ecosystem write loop (__init__.py:79-94) as a single groupBy+join.
    """
    per_eco = (
        fix_records(map_ecosystems(vuln_nodes), fixdates)
        .groupBy("ghsa_id", "ecosystem")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_list("fix"))).alias("fixed_in"),
            F.count(F.lit(1)).alias("n_fixes"),
        )
    )
    sev = None
    for raw, cooked in SEVERITY_MAP.items():
        sev = (F.when(F.col("severity") == raw, cooked) if sev is None
               else sev.when(F.col("severity") == raw, cooked))
    extra = [c for c in ENVELOPE_COLS if c in advisories.columns]
    meta = advisories.select(
        "ghsa_id",
        sev.otherwise(F.lit("Unknown")).alias("severity_norm"),
        F.array_join(
            F.array_sort(
                # parser.py:783 tests the bare 'GHSA' prefix, no dash
                F.filter("identifiers", lambda v: ~v.startswith("GHSA"))
            ),
            "|",
        ).alias("cves"),
        "withdrawn",
        *extra,
    )
    return per_eco.join(F.broadcast(meta), "ghsa_id").select(
        F.concat(
            F.lit("github:"), F.col("ecosystem"), F.lit("/"), F.lower(F.col("ghsa_id"))
        ).alias("identifier"),
        F.col("severity_norm").alias("severity"),
        "cves",
        "fixed_in",
        "n_fixes",
        "withdrawn",
        *extra,
    )
