"""SecureOS secdb pipeline (SURVEY §2 provider-family proof).

Reference flow (/root/reference/src/vunnel/providers/secureos/parser.py:
70-77 ``build_reference_links``, 162-229 ``_parse_apk_version`` /
``_compare_apk_versions`` / ``_get_base_version_with_r0``, 231-246
``_sort_secfix_versions`` / ``_extract_vids``, 249-327 ``_normalize``):

    secdb.json packages[].pkg{name, secfixes{version: [raw vids]}}
    ->  per package: REAL versions (not '0'/'None'/''/null) sorted
        smallest-to-largest by the provider's own simplified apk
        comparator, then the special versions in original map order
    ->  vids: each raw entry whitespace-split, deduped keeping first
        occurrence
    ->  one record per vid per release (ns 'secureos:<release>'):
        Severity Unknown, Link = security-reference URL for CVE-* ids
        (else the generic reference link), FixedIn appended in
        (package input order x version processing order)
    ->  per (vid, pkg): the FIRST real version processed (i.e. the
        smallest) sets no range; later real versions with revision > 0
        carry VulnerableRange '>=<base>-r0, <<version>'
    ->  Available from the fixdate finder (vid, pkg, version,
        ecosystem)

The provider's comparator is NOT real apk-tools semantics — it
int-compares numeric dot-parts and string-compares anything mixed,
with a trailing ``-rN`` revision.
That comparator is not even transitive on adversarial inputs (e.g.
{2, 10, '1x'} has a preference cycle), so no order-preserving sort KEY
can exist; the pin therefore sorts each package's (tiny) version list
with the reference's exact ``cmp_to_key`` inside an Arrow-batched
pandas UDF — one Python crossing per package row, everything else
Catalyst.  The per-(vid, pkg) "first real version" pick is a
min_by over (package position, version rank) — no window, one shuffle
on the record key.
"""

from __future__ import annotations

from functools import cmp_to_key

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

SECURITY_REFERENCE_URL = "https://security.secureos.io"

_SPECIALS = ("0", "None", "")


def _parse_apk_version(ver: str) -> tuple[list, int]:
    """(parts, revision) — secureos/parser.py:162-187 verbatim grammar:
    trailing ``-rN`` split off (non-numeric N -> 0), remaining hyphens
    fold into dots, numeric parts int-ified."""
    revision = 0
    version_str = ver
    if "-r" in ver:
        head, _, tail = ver.rpartition("-r")
        version_str = head
        try:
            revision = int(tail)
        except ValueError:
            revision = 0
    parts: list = []
    for part in version_str.replace("-", ".").split("."):
        try:
            parts.append(int(part))
        except ValueError:
            parts.append(part)
    return parts, revision


def _compare_apk_versions(ver_a: str, ver_b: str) -> int:
    """secureos/parser.py:190-218: positional compare, int-vs-int
    numeric, anything mixed as strings, missing parts as 0, then
    revision."""
    if ver_a == ver_b:
        return 0
    parts_a, rev_a = _parse_apk_version(ver_a)
    parts_b, rev_b = _parse_apk_version(ver_b)
    for i in range(max(len(parts_a), len(parts_b))):
        a = parts_a[i] if i < len(parts_a) else 0
        b = parts_b[i] if i < len(parts_b) else 0
        if isinstance(a, int) and isinstance(b, int):
            c = (a > b) - (a < b)
        else:
            sa, sb = str(a), str(b)
            c = (sa > sb) - (sa < sb)
        if c:
            return c
    return (rev_a > rev_b) - (rev_a < rev_b)


@F.pandas_udf(T.ArrayType(T.StringType()))
def sort_secfix_versions(version_lists: pd.Series) -> pd.Series:
    """Sort each package's REAL version list with the reference's exact
    comparator (parser.py:231-237 uses cmp_to_key(sorted) — replicated
    verbatim so even its non-transitive tie behavior matches)."""
    key = cmp_to_key(_compare_apk_versions)
    return version_lists.map(
        lambda vs: sorted(vs, key=key) if vs is not None else None
    )


def secureos_pipeline(
    packages: DataFrame,
    release: str = "rolling",
    namespace: str = "secureos",
    fixdates: DataFrame | None = None,
    security_reference_url: str = SECURITY_REFERENCE_URL,
) -> DataFrame:
    """packages(pos, pkg, secfixes array<struct<version string,
    vids array<string>>>) -> one record per vulnerability id.

    ``pos`` is the package element's index in the secdb JSON (the
    reference walks ``data['packages']`` in order); ``secfixes``
    preserves the JSON object's key order (reference dict order drives
    the special-version tail).  ``fixdates`` is the finder dimension
    (vuln_id, package, fix_version, ecosystem, date, kind)."""
    ns = f"{namespace}:{release}"
    # per-package version ordering: sorted reals, then specials in
    # original order (parser.py:284-288)
    pk = packages.select(
        "pos",
        "pkg",
        "secfixes",
        sort_secfix_versions(
            F.transform(
                F.filter(
                    "secfixes",
                    lambda s: ~F.coalesce(s["version"], F.lit("")).isin(
                        *_SPECIALS
                    ),
                ),
                lambda s: s["version"],
            )
        ).alias("sorted_reals"),
    )
    ver = pk.select(
        "pos",
        "pkg",
        "sorted_reals",
        F.posexplode("secfixes").alias("vpos", "sf"),
    ).select(
        "pos",
        "pkg",
        F.col("sf.version").alias("fix_version"),
        F.col("sf.vids").alias("raw_vids"),
        (~F.coalesce(F.col("sf.version"), F.lit("")).isin(*_SPECIALS)).alias(
            "is_real"
        ),
        # processing rank inside the package: reals by sorted position,
        # specials after every real, in original (vpos) order
        F.when(
            ~F.coalesce(F.col("sf.version"), F.lit("")).isin(*_SPECIALS),
            F.array_position(F.col("sorted_reals"), F.col("sf.version")) - 1,
        )
        .otherwise(F.size("sorted_reals") + F.col("vpos"))
        .alias("vrank"),
    )
    # vids: whitespace-split each raw entry, dedup keeps first occurrence
    # (parser.py:239-246's seen-list)
    vids = ver.select(
        "pos",
        "pkg",
        "fix_version",
        "is_real",
        "vrank",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.coalesce(
                                "raw_vids", F.array().cast("array<string>")
                            ),
                            lambda rv: F.split(F.trim(rv), r"\s+"),
                        )
                    ),
                    lambda v: v != "",
                )
            )
        ).alias("vid"),
    )
    # the FIRST real version processed per (vid, pkg) is range-free;
    # later reals with revision > 0 carry the -r0 range
    # (parser.py:303-311).  A window-min over the processing order
    # replaces the reference's seen-set — one shuffle on (vid, pkg);
    # a groupBy+join would be two, and the (vid, pkg) dimension grows
    # with the corpus so it must never be a broadcast side.
    from pyspark.sql import Window

    first_at = F.min(
        F.when(F.col("is_real"), F.struct("pos", "vrank"))
    ).over(Window.partitionBy("vid", "pkg"))
    rev_str = F.regexp_extract("fix_version", r"^(.*)-r(.*)$", 2)
    # eligibility matches Python int() (parser.py:175), which the
    # pandas-UDF sort comparator also runs verbatim: surrounding
    # whitespace, an optional sign, and underscore digit separators
    # are all accepted ('+2' -> 2, ' 2' -> 2, '1_0' -> 10) — a bare
    # ^\d+$ gate would compute revision 0 for '1.0-r+2' and suppress
    # a range the reference emits (r11 ADVICE)
    rev_norm = F.regexp_replace(rev_str, r"[\s_]", "")
    revision = F.when(
        F.col("fix_version").contains("-r")
        & rev_str.rlike(r"^\s*[+-]?\d+(_\d+)*\s*$"),
        rev_norm.cast("int"),
    ).otherwise(F.lit(0))
    base_r0 = F.concat(
        F.when(
            F.col("fix_version").contains("-r"),
            F.regexp_extract("fix_version", r"^(.*)-r(.*)$", 1),
        ).otherwise(F.col("fix_version")),
        F.lit("-r0"),
    )
    ranged = vids.select(
        "*",
        F.when(
            F.col("is_real")
            & (F.struct("pos", "vrank") != first_at)
            & (revision > 0),
            F.concat(F.lit(">="), base_r0, F.lit(", <"), F.col("fix_version")),
        ).alias("vulnerable_range"),
    )
    if fixdates is not None:
        dim = fixdates.filter(F.col("date").isNotNull()).select(
            F.col("vuln_id").alias("vid"),
            F.col("package").alias("pkg"),
            F.col("fix_version"),
            F.col("ecosystem").alias("_eco"),
            F.col("date").alias("_fd_date"),
            F.col("kind").alias("_fd_kind"),
        )
        ranged = ranged.withColumn("_eco", F.lit(ns)).join(
            F.broadcast(dim), ["vid", "pkg", "fix_version", "_eco"], "left"
        ).drop("_eco")
    else:
        ranged = ranged.withColumn(
            "_fd_date", F.lit(None).cast("string")
        ).withColumn("_fd_kind", F.lit(None).cast("string"))
    entry = F.struct(
        F.col("pkg").alias("Name"),
        F.col("fix_version").alias("Version"),
        F.lit("apk").alias("VersionFormat"),
        F.lit(ns).alias("NamespaceName"),
        F.col("vulnerable_range").alias("VulnerableRange"),
        # fixdate.best refuses falsy/'None'/'0' fix versions outright
        # (finder.py:149-151), so a store row keyed on a special version
        # must never attach (r12 fidelity pass)
        F.when(
            F.col("_fd_date").isNotNull()
            & ~F.coalesce(F.col("fix_version"), F.lit("")).isin(
                "", "None", "0"
            ),
            F.struct(
                F.col("_fd_date").alias("Date"), F.col("_fd_kind").alias("Kind")
            ),
        ).alias("Available"),
    )
    link = (
        F.when(
            F.col("vid").startswith("CVE-"),
            F.concat(F.lit(security_reference_url + "/"), F.col("vid")),
        )
        .when(
            F.col("vid").startswith("GHSA-"),
            F.concat(F.lit("https://github.com/advisories/"), F.col("vid")),
        )
        .otherwise(F.lit(""))
    )
    return (
        ranged.groupBy("vid")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("pos", "vrank", entry.alias("e"))
                    )
                ),
                lambda s: s["e"],
            ).alias("FixedIn")
        )
        .select(
            F.col("vid").alias("Name"),
            F.lit(ns).alias("NamespaceName"),
            F.lit("Unknown").alias("Severity"),
            link.alias("Link"),
            "FixedIn",
        )
    )
