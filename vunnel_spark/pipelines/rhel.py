"""The RHEL pipeline — SURVEY §7.2 phase 9: the `_parse_cve` join DAG.

Reference flow (/root/reference/src/vunnel/providers/rhel/parser.py:821-1000):

    affected_release rows (fins) + package_state rows (nfins)
    -> severity normalization (case fold + rank map)
    -> not-fixed trumps fixed                         [J12 anti-join]
    -> base-platform inference for EUS/ELS-only data  [J13 anti-join union]
    -> '+els' platform suppression                    [P2 filter]
    -> per-(cve, platform) record assembly            [A1/O2 sorted FixedIn,
       wont_fix advisories, 'None' versions for unfixed packages]

The reference walks dicts per CVE; here every step is one frame-level
join/filter over ALL CVEs at once — the per-CVE loop disappears into the
partitioning.

Scale notes: every join keys on (cve_id, platform, package, module) or a
prefix — co-partitioned throughout, one shuffle each; the inference
anti-join touches only distinct platform keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: reference severity fold (parser.py:835-855)
_SEV = {
    "critical": "Critical",
    "important": "High",
    "moderate": "Medium",
    "low": "Low",
}


def normalize_severity(df: DataFrame) -> DataFrame:
    """Severity case-fold + rank mapping; anything unrecognized -> Unknown."""
    lowered = F.lower(F.col("threat_severity"))
    expr = F.lit("Unknown")
    for raw, mapped in reversed(list(_SEV.items())):
        expr = F.when(lowered == raw, mapped).otherwise(expr)
    return df.withColumn("severity", expr)


#: fix_state -> (Version, NoAdvisory) — _fix_state_map_ (parser.py:
#: 702-710).  'Affected'/'Fix deferred' stay advisory-eligible
#: (wont_fix FALSE), 'Not affected' emits the sentinel version '0',
#: and only 'Will not fix'/'Out of support scope' are wont-fix.
#: States outside the map ('New', 'Under investigation', junk) skip.
_FIX_STATE_MAP = {
    "Affected": ("None", False),
    "Fix deferred": ("None", False),
    "Will not fix": ("None", True),
    "Out of support scope": ("None", True),
    "Not affected": ("0", False),
}


def parse_package_state(pss: DataFrame) -> DataFrame:
    """_parse_package_state (parser.py:712-752) over
    (cve_id, platform, package_name, fix_state) rows: 'module/pkg'
    names split on '/' taking components[0]/[1] (parser.py:690-699 —
    a third segment is discarded, like the reference's indexing),
    ':flatpak' modules skip whole, unmapped states skip, mapped states
    project their (version, wont_fix) pair.  One row per surviving
    input row — the reference appends per item, so a package listed
    under two states yields two records.  (The reference's
    affected-then-out_of_support concatenation order is normalized
    away by the sorted FixedIn assembly, as adjudicated for O2.)

    The emptiness skip tests the POST-split name (`if not package_name`
    AFTER _parse_package_name_and_module, parser.py:724-728): an input
    like 'mod/' splits to package '' and is skipped, while the raw
    string was non-empty (r13 ADVICE fix — the test previously ran on
    the raw package_name, letting 'mod/' emit a package='' row).  The
    reference's split also only fires when the raw name is truthy, so
    '' and NULL fall through to the same skip."""
    comps = F.split(F.col("package_name"), "/")
    has_mod = F.coalesce(F.col("package_name"), F.lit("")).contains("/")
    module = F.when(has_mod, comps[0])
    package = F.when(has_mod, comps[1]).otherwise(F.col("package_name"))
    ver = None
    wf = None
    for state, (v, w) in _FIX_STATE_MAP.items():
        cond = F.col("fix_state") == state
        ver = F.when(cond, v) if ver is None else ver.when(cond, v)
        wf = F.when(cond, F.lit(w)) if wf is None else wf.when(cond, F.lit(w))
    return (
        pss.filter(F.col("fix_state").isin(*_FIX_STATE_MAP))
        .select(
            "cve_id",
            "platform",
            package.alias("package"),
            module.alias("module"),
            ver.alias("version"),
            wf.alias("wont_fix"),
        )
        # post-split emptiness (parser.py:727) THEN the flatpak skip
        # (:731); both are plain skips so relative order is free
        .filter(F.coalesce(F.col("package"), F.lit("")) != "")
        .filter(
            F.col("module").isNull() | ~F.col("module").endswith(":flatpak")
        )
    )


def suppress_not_fixed(fins: DataFrame, nfins: DataFrame) -> DataFrame:
    """J12: a fix row is dropped when the same (cve, platform, package,
    module) appears in package_state at all (parser.py:858-877 'not
    fixed trumps fixes' — the tuple set is built from EVERY nfin,
    including advisory-eligible 'Affected' and 'Not affected' rows);
    the nfin rows themselves pass through with their own per-state
    (version, wont_fix) from the fix-state map."""
    keys = ["cve_id", "platform", "package", "module"]
    # the reference's tuple set treats None as an ordinary element —
    # a fin with module None IS suppressed by an nfin with module None —
    # so the anti-join must be null-safe on every key
    nf_keys = nfins.select(*keys).distinct()
    cond = None
    for k in keys:
        c = fins[k].eqNullSafe(nf_keys[k])
        cond = c if cond is None else cond & c
    kept_fins = fins.join(nf_keys, cond, "left_anti")
    nf_records = nfins.select(
        *keys,
        "version",
        F.lit(None).cast("string").alias("rhsa_id"),
        "wont_fix",
    )
    return kept_fins.withColumn("wont_fix", F.lit(False)).unionByName(nf_records)


def infer_base_platforms(artifacts: DataFrame) -> DataFrame:
    """J13: extended-support-only platforms synthesize base-platform
    records (version 'None', wont_fix) when the base platform has no data
    of its own (parser.py:883-905 via _get_base_platform:785-799).

    The base rule is ASYMMETRIC and exact (r12 fidelity pass — a suffix
    strip is wrong twice over): '+eus' platforms map to their MAJOR
    version ('8.6+eus' -> '8', the reference's split('.')[0]; a
    minorless '8+eus' maps to itself and so never infers), '+els'
    platforms drop only the suffix ('6+els' -> '6', minor kept), and
    every other form — including '+aus'/'+tus', which _parse_platform
    can never emit — has no base and never infers.  One inferred row is
    emitted PER SOURCE ARTIFACT, duplicates included: the reference
    appends every artifact of every extended platform sharing the base
    into one record, so two eus minors fixing the same package yield
    two identical FixedIn entries (parser.py:893-902 has no dedup).
    """
    base = F.when(
        F.col("platform").contains("+eus"),
        F.split(F.col("platform"), r"\.")[0],
    ).when(
        F.col("platform").contains("+els"),
        F.regexp_replace("platform", r"\+els", ""),
    )
    with_base = artifacts.withColumn("_base", base)
    candidates = with_base.filter(
        F.col("_base").isNotNull() & (F.col("_base") != F.col("platform"))
    )
    present = artifacts.select("cve_id", F.col("platform").alias("_base")).distinct()
    inferred = candidates.join(present, ["cve_id", "_base"], "left_anti").select(
        "cve_id",
        F.col("_base").alias("platform"),
        "package",
        "module",
        F.lit("None").alias("version"),
        F.lit(None).cast("string").alias("rhsa_id"),
        F.lit(True).alias("wont_fix"),
    )
    return artifacts.drop("_base").unionByName(inferred)


def drop_els(artifacts: DataFrame) -> DataFrame:
    """P2: '+els' platforms are never emitted (parser.py:907-909)."""
    return artifacts.filter(~F.col("platform").contains("+els"))


def assemble_records(artifacts: DataFrame, meta: DataFrame) -> DataFrame:
    """A1/O2: one record per (cve_id, platform) with a deterministically
    sorted FixedIn[] and the normalized severity/description joined in
    (parser.py:911-1000)."""
    fixed_in = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("package").alias("Name"),
                F.coalesce(F.col("version"), F.lit("None")).alias("Version"),
                F.col("module").alias("Module"),
                F.col("wont_fix").alias("NoAdvisory"),
                F.col("rhsa_id").alias("RhsaId"),
            )
        )
    )
    recs = artifacts.groupBy("cve_id", "platform").agg(fixed_in.alias("FixedIn"))
    return recs.join(F.broadcast(meta), "cve_id", "left").select(
        "cve_id",
        F.concat(F.lit("rhel:"), F.col("platform")).alias("namespace"),
        "severity",
        "description",
        "FixedIn",
    )


def with_rhel_cvss3(df, vector, base_score, status, out):
    """_parse_cvss3 + RHELCVSS3.normalize (rhel/parser.py:799-819,
    1155-1176) appended as struct column ``out``: the rhel CVSS
    envelope, which differs from the GHSA one (pipelines/github.py) in
    three exact ways —

    * NO trailing-slash strip: RHELCVSS3 feeds the raw
      cvss3_scoring_vector to CVSS3(), so a trailing '/' is a parse
      error and the whole object is None (github removesuffixes first).
    * ``base_score`` is the FEED value passed through
      (``float(self.base_score)``, :1171) — never recomputed — and a
      falsy feed score (None, 0) drops the object (:806-807, plus the
      constructor's own guard :1157-1158).  exploitability/impact ARE
      computed from the vector and quantized to 0.1 (:1172-1173).
    * ``base_severity`` comes from ``cvss3_obj.severities()[0]``
      (:1174) — thresholds on the library's COMPUTED base score, so a
      vendor feed score that disagrees with the vector shows the feed
      number next to a severity derived from the computed one.

    Any CVSS3 parse error (bad prefix, missing mandatory metric, bad
    value, duplicate or unknown key) -> None via the except at :816-818;
    ``status`` passes through nullable (.get(..., None), :813).

    DataFrame form (r14): the grammar+score tree is evaluated ONCE via
    the layered with_cvss3_eval projections and the envelope struct
    assembles from cheap attribute references — the r13 Column form
    pasted a fresh copy of the whole tree into every struct field,
    which blew past janino's method limit (codegen fell back to the
    interpreted path with no subexpression elimination) and measured
    ~2 ms-core/row on rhel2.  ``vector``/``base_score``/``status``
    should be attribute references on ``df`` (not expensive
    expressions — they are referenced more than once here).
    """
    from vunnel_spark.functions.cvss import cvss3_eval_cols, with_cvss3_eval

    p = "_rc3"
    df = with_cvss3_eval(df, vector, p)
    ok = (
        vector.isNotNull()
        & (vector != "")
        & base_score.isNotNull()
        & (base_score.cast("double") != 0.0)
        & F.col(f"{p}_ok")
    )
    obj = F.when(
        ok,
        F.struct(
            F.col(f"{p}_ver").alias("version"),
            status.alias("status"),
            vector.alias("vector_string"),
            F.struct(
                base_score.cast("double").alias("base_score"),
                F.col(f"{p}_esc").alias("exploitability_score"),
                F.col(f"{p}_isc").alias("impact_score"),
                F.col(f"{p}_sev").alias("base_severity"),
            ).alias("base_metrics"),
        ),
    )
    return df.withColumn(out, obj).drop(*cvss3_eval_cols(p))


def rpm_version_base(v):
    """The epoch:version portion of an RPM version string, release
    dropped (_get_version_base, parser.py:1090-1105 over
    utils/rpm.py:53-80 split_fullversion): strip everything after the
    LAST dash; a dashless string is its own base.  The release carries
    the .elN_M dist tag, so the base is the unit for deciding whether
    two fixes belong to genuinely different upstream streams."""
    stripped = F.regexp_extract(v, r"^(.*)-[^-]*$", 1)
    return F.when(stripped == "", v).otherwise(stripped)


def reduce_fix_streams(
    df: DataFrame,
    keys: list[str],
) -> DataFrame:
    """The (package, platform, module)-bucket reduction of
    _parse_affected_release (parser.py:565-676): rpm-equal duplicate
    versions are skipped (:569-571, e.g. the cpe:/a vs cpe:/o flavors
    of one fix), survivors sort ASCENDING by true RPM order, each
    distinct upstream BASE keeps its highest fix (:587-592, dict
    last-write-wins over the ascending walk), the newest stream's fix
    is the canonical single-constraint Version (:596-599), and when 2+
    distinct bases remain the OR'd VulnerableRange
    ``< v0 || >= base1, < v1 || ...`` encodes the per-stream
    boundaries (_build_vulnerable_range, parser.py:1120-1155); a
    single-base bucket leaves it NULL.

    One rpm sort key per row (Arrow UDF, F1), then one shuffle on the
    bucket key: the per-base keep-highest and the ascending fold both
    ride the same collect_list sort — no window needed.

    Representative choice for rpm-EQUAL versions (r13 ADVICE fix —
    dropDuplicates kept an arbitrary one): the reference keeps the
    FIRST-SEEN version string in document order (the bucket.append
    guard at parser.py:569-571 rejects later rpm-equal entries), so
    textually different but rpm-equal versions ('1.0-1' vs '0:1.0-1')
    must resolve deterministically.  A DataFrame has no document order,
    so this keeps the lexicographically smallest version string per
    rpm-equal group — deterministic across runs/partitionings, and
    identical to the reference whenever duplicates are textually
    canonical (every current caller's fixtures are).
    """
    from vunnel_spark.functions.versions import rpm_evr_sort_key

    keyed = df.withColumn("_vkey", rpm_evr_sort_key(F.col("version")))
    # rpm-EQUAL dedup: identical sort keys compare 0 (the key is the
    # F1 property-tested total order); keep the deterministic
    # representative, the min version text
    uniq = (
        keyed.groupBy(*keys, "_vkey")
        .agg(F.min(F.col("version")).alias("version"))
        .withColumn("_base", rpm_version_base(F.col("version")))
    )
    # per-base keep-highest = max _vkey per (keys, base); fixes sharing
    # a base are contiguous in rpm order (the version segment dominates
    # the release), so ordering buckets by their kept fix's key equals
    # the reference's insertion-ordered fix_by_base walk
    per_base = (
        uniq.groupBy(*keys, "_base")
        .agg(F.max_by(F.col("version"), F.col("_vkey")).alias("_v"),
             F.max("_vkey").alias("_vkey"))
    )
    sorted_fixes = F.array_sort(
        F.collect_list(F.struct("_vkey", F.col("_v").alias("v"), F.col("_base").alias("b")))
    )
    return (
        per_base.groupBy(*keys)
        .agg(sorted_fixes.alias("_fx"))
        .select(
            *keys,
            F.element_at("_fx", -1)["v"].alias("canonical"),
            F.when(
                F.size("_fx") >= 2,
                F.concat_ws(
                    " || ",
                    F.concat(F.lit("< "), F.element_at("_fx", 1)["v"]),
                    F.concat_ws(
                        " || ",
                        F.transform(
                            F.slice("_fx", 2, F.size("_fx") - 1),
                            lambda s: F.concat(
                                F.lit(">= "), s["b"], F.lit(", < "), s["v"]
                            ),
                        ),
                    ),
                ),
            ).alias("vulnerable_range"),
        )
    )


def rhel_pipeline(fins: DataFrame, nfins: DataFrame, meta: DataFrame) -> DataFrame:
    """The composed `_parse_cve` DAG over all CVEs at once.

    fins:  (cve_id, platform, package, module, version, rhsa_id)
    nfins: (cve_id, platform, package, module)
    meta:  (cve_id, threat_severity, description)
    Returns one row per (cve_id, namespace) with sorted FixedIn[].
    """
    artifacts = suppress_not_fixed(fins, nfins)
    artifacts = infer_base_platforms(artifacts)
    artifacts = drop_els(artifacts)
    return assemble_records(artifacts, normalize_severity(meta))
