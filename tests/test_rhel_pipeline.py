"""Golden test for the RHEL `_parse_cve` pipeline (SURVEY §7.2 phase 9):
not-fixed-trumps-fixed, base-platform inference, +els suppression,
severity fold, sorted FixedIn assembly — the reference's per-CVE dict walk
(rhel/parser.py:821-1000) as one frame-level DAG.
"""

from __future__ import annotations

import pytest

from vunnel_spark.pipelines import rhel_pipeline


@pytest.fixture()
def frames(spark):
    fins = spark.createDataFrame(
        [
            # plain fix
            ("CVE-1", "8", "openssl", None, "3.0.1-2.el8", "RHSA-2024:1"),
            # fix suppressed by package_state (same key in nfins)
            ("CVE-1", "8", "zlib", None, "1.2.12-1.el8", "RHSA-2024:2"),
            # EUS-only fixes on TWO minors of 9: both infer base '9'
            # (MAJOR, _get_base_platform's split('.')[0]) -> the base
            # record carries DUPLICATE kernel entries (parser.py:893-902
            # has no dedup)
            ("CVE-1", "9.2+eus", "kernel", "kmod", "5.14-1.el9", "RHSA-2024:3"),
            ("CVE-1", "9.4+eus", "kernel", "kmod", "5.14-2.el9", "RHSA-2024:7"),
            # +els platform: infers base '7', then suppressed at emit
            ("CVE-1", "7+els", "bash", None, "4.2-1.el7", "RHSA-2024:4"),
            # base platform HAS data: no inference for 8.6+eus's base
            ("CVE-2", "8.6+eus", "curl", None, "7.61-2.el8", "RHSA-2024:5"),
            ("CVE-2", "8", "curl", None, "7.61-1.el8", "RHSA-2024:6"),
        ],
        "cve_id string, platform string, package string, module string, "
        "version string, rhsa_id string",
    )
    # parse_package_state output shape: per-state (version, wont_fix)
    nfins = spark.createDataFrame(
        [("CVE-1", "8", "zlib", None, "None", True)],
        "cve_id string, platform string, package string, module string, "
        "version string, wont_fix boolean",
    )
    meta = spark.createDataFrame(
        [
            ("CVE-1", "important", "first bug"),
            ("CVE-2", "bogus-level", "second bug"),
        ],
        "cve_id string, threat_severity string, description string",
    )
    return fins, nfins, meta


def test_parse_cve_dag(spark, frames):
    out = rhel_pipeline(*frames)
    rows = {(r.cve_id, r.namespace): r for r in out.collect()}

    # +els emitted nowhere
    assert all("+els" not in ns for _, ns in rows)

    r8 = rows[("CVE-1", "rhel:8")]
    assert r8.severity == "High"  # important -> High
    by_name = {f.Name: f for f in r8.FixedIn}
    # openssl fixed; zlib's fix suppressed -> wont-fix 'None' record
    assert by_name["openssl"].Version == "3.0.1-2.el8"
    assert by_name["openssl"].NoAdvisory is False
    assert by_name["zlib"].Version == "None"
    assert by_name["zlib"].NoAdvisory is True

    # EUS minors collapse to the MAJOR base '9'; one inferred record per
    # source artifact -> duplicate kernel entries survive
    r9 = rows[("CVE-1", "rhel:9")]
    assert [(f.Name, f.Version, f.NoAdvisory) for f in r9.FixedIn] == [
        ("kernel", "None", True),
        ("kernel", "None", True),
    ]
    # the EUS platforms themselves are still emitted
    assert ("CVE-1", "rhel:9.2+eus") in rows
    assert ("CVE-1", "rhel:9.4+eus") in rows

    # +els inferred its base (suffix strip, minor kept) before suppression
    r7 = rows[("CVE-1", "rhel:7")]
    assert [(f.Name, f.Version, f.NoAdvisory) for f in r7.FixedIn] == [
        ("bash", "None", True)
    ]

    # base platform with real data: NO inference duplicate, unknown severity
    r2 = rows[("CVE-2", "rhel:8")]
    assert r2.severity == "Unknown"
    assert [f.Version for f in r2.FixedIn] == ["7.61-1.el8"]


def test_fixedin_sorted_deterministically(spark, frames):
    out1 = rhel_pipeline(*frames).collect()
    out2 = rhel_pipeline(*frames).collect()
    key = lambda rows: {  # noqa: E731
        (r.cve_id, r.namespace): [tuple(f) for f in r.FixedIn] for r in rows
    }
    assert key(out1) == key(out2)


def test_envelopes_validate_against_os_schema(spark, frames):
    """F9: every emitted envelope validates against the OS-vulnerability
    schema (reference validates each envelope at test time,
    tests/conftest.py:246-268 + schema/vulnerability/os/schema-1.0.2.json)."""
    import json

    import pytest as _pytest

    from vunnel_spark.sinks.schemas import (
        OS_VULNERABILITY_SCHEMA,
        os_envelope_json,
        validate_envelope_docs,
    )

    out = rhel_pipeline(*frames)
    docs = [r.doc for r in os_envelope_json(out).collect()]
    assert validate_envelope_docs(docs, OS_VULNERABILITY_SCHEMA) == out.count() > 0

    # the gate has teeth: stripping a required field must fail validation
    jsonschema = _pytest.importorskip("jsonschema")
    broken = json.loads(docs[0])
    del broken["item"]["Vulnerability"]["Severity"]
    with _pytest.raises(jsonschema.ValidationError):
        validate_envelope_docs([broken], OS_VULNERABILITY_SCHEMA)
    bad_sev = json.loads(docs[0])
    bad_sev["item"]["Vulnerability"]["Severity"] = "SUPER-BAD"
    with _pytest.raises(jsonschema.ValidationError):
        validate_envelope_docs([bad_sev], OS_VULNERABILITY_SCHEMA)


def test_reduce_fix_streams_matches_reference_example(spark):
    """The _build_vulnerable_range docstring example (rhel/parser.py:
    1120-1155) end-to-end through reduce_fix_streams: rpm-equal
    duplicates skip, each base keeps its highest fix, the newest stream
    is canonical, and the OR-constraint reads
    '< low || >= base_hi, < hi'; a single-base bucket leaves the range
    NULL."""
    from vunnel_spark.pipelines.rhel import reduce_fix_streams

    rows = spark.createDataFrame(
        [
            # two upstream bases (the reference's python3.9 example),
            # with an rpm-equal duplicate of the low fix and a lower
            # same-base build that per-base reduction must drop
            ("pkgA", "0:3.9.18-3.el9_4.5"),
            ("pkgA", "0:3.9.18-3.el9_4.5"),
            ("pkgA", "0:3.9.18-2.el9_4"),
            ("pkgA", "0:3.9.19-8.el9"),
            # single base: canonical only, no range
            ("pkgB", "0:2.34-60.el9_2.7"),
            ("pkgB", "0:2.34-64.el9"),
        ],
        "bucket string, version string",
    )
    out = {r.bucket: r for r in reduce_fix_streams(rows, ["bucket"]).collect()}
    a = out["pkgA"]
    assert a.canonical == "0:3.9.19-8.el9"
    assert a.vulnerable_range == (
        "< 0:3.9.18-3.el9_4.5 || >= 0:3.9.19, < 0:3.9.19-8.el9"
    )
    b = out["pkgB"]
    assert b.canonical == "0:2.34-64.el9"
    assert b.vulnerable_range is None


def test_reduce_fix_streams_deterministic_representative(spark):
    """r13 ADVICE fix: rpm-equal but TEXTUALLY different versions
    ('1.0-1' vs '0:1.0-1' — epoch 0 is implicit in rpm ordering) pick a
    deterministic representative: the lexicographically smallest
    version text."""
    from vunnel_spark.pipelines.rhel import reduce_fix_streams

    rows = spark.createDataFrame(
        [("pkgA", "1.0-1"), ("pkgA", "0:1.0-1"), ("pkgA", "1.0-2")],
        "bucket string, version string",
    )
    # the range shows the representative when the bases differ
    # textually; canonical is still the highest
    rev = spark.createDataFrame(
        [("pkgA", "1.0-1"), ("pkgA", "0:1.0-1"), ("pkgA", "2.0-1")],
        "bucket string, version string",
    )
    out_rev = {r.bucket: r for r in
               reduce_fix_streams(rev, ["bucket"]).collect()}
    assert out_rev["pkgA"].vulnerable_range == "< 0:1.0-1 || >= 2.0, < 2.0-1"

    # stable across runs
    for _ in range(2):
        got = {r.bucket: r for r in
               reduce_fix_streams(rows, ["bucket"]).collect()}
        assert got["pkgA"].canonical == "1.0-2"


def test_parse_package_state_post_split_empty_name(spark):
    """r13 ADVICE fix: the emptiness skip runs on the POST-split package
    (parser.py:724-728) — 'mod/' is skipped even though the raw
    package_name is non-empty; '', NULL, and ':flatpak' modules skip as
    before; a third '/' segment is discarded like the reference's
    components[1] indexing."""
    from vunnel_spark.pipelines.rhel import parse_package_state

    pss = spark.createDataFrame(
        [
            ("CVE-1", "8", "mod/", "Affected"),          # empty post-split
            ("CVE-1", "8", "", "Affected"),              # empty raw
            ("CVE-1", "8", None, "Affected"),            # null raw
            ("CVE-1", "8", "mod/pkg1", "Affected"),      # kept, module
            ("CVE-1", "8", "m:flatpak/pkg2", "Affected"),  # flatpak skip
            ("CVE-1", "8", "mod/pkg3/extra", "Will not fix"),  # 3rd seg dropped
            ("CVE-1", "8", "plain", "Not affected"),     # kept, no module
        ],
        "cve_id string, platform string, package_name string, fix_state string",
    )
    got = {(r.package, r.module): (r.version, r.wont_fix)
           for r in parse_package_state(pss).collect()}
    assert got == {
        ("pkg1", "mod"): ("None", False),
        ("pkg3", "mod"): ("None", True),
        ("plain", None): ("0", False),
    }


def test_rpm_version_base_examples(spark):
    """_get_version_base's documented examples (parser.py:1096-1100)."""
    from pyspark.sql import functions as F

    from vunnel_spark.pipelines.rhel import rpm_version_base

    df = spark.createDataFrame(
        [("0:3.9.19-8.el9",), ("3.9.18-3.el9_4.5",), ("1:2.27-34.base.el7",),
         ("nodash",)],
        "v string",
    )
    got = {r.v: r.b for r in df.select("v", rpm_version_base(F.col("v")).alias("b")).collect()}
    assert got["0:3.9.19-8.el9"] == "0:3.9.19"
    assert got["3.9.18-3.el9_4.5"] == "3.9.18"
    assert got["1:2.27-34.base.el7"] == "1:2.27"
    assert got["nodash"] == "nodash"


def test_parse_package_state_map_and_module_split(spark):
    """_parse_package_state (parser.py:690-752): the five-state map's
    (version, wont_fix) pairs, the 'module/pkg' split, the ':flatpak'
    module skip, unmapped-state skips, and per-item multiplicity (a
    package under two states emits two rows)."""
    from vunnel_spark.pipelines.rhel import parse_package_state

    rows = [
        ("CVE-1", "8", "httpd", "Affected"),
        ("CVE-1", "8", "httpd", "Will not fix"),      # same pkg, 2nd state
        ("CVE-1", "8", "nginx", "Fix deferred"),
        ("CVE-1", "8", "redis", "Out of support scope"),
        ("CVE-1", "8", "vim", "Not affected"),
        ("CVE-1", "8", "nodejs:16/nodejs", "Affected"),       # module split
        ("CVE-1", "8", "app:flatpak/firefox", "Affected"),    # flatpak skip
        ("CVE-1", "8", "gcc", "New"),                          # skip
        ("CVE-1", "8", "glibc", "Under investigation"),        # skip
        ("CVE-1", "8", "bash", "totally made up"),             # skip
        ("CVE-1", "8", None, "Affected"),                      # no name
    ]
    out = parse_package_state(
        spark.createDataFrame(
            rows,
            "cve_id string, platform string, package_name string, "
            "fix_state string",
        )
    ).collect()
    got = sorted(
        (r.package, r.module, r.version, r.wont_fix) for r in out
    )
    assert got == sorted(
        [
            ("httpd", None, "None", False),
            ("httpd", None, "None", True),
            ("nginx", None, "None", False),
            ("redis", None, "None", True),
            ("vim", None, "0", False),
            ("nodejs", "nodejs:16", "None", False),
        ]
    )


def test_parse_cvss3_feed_score_vs_computed_severity(spark):
    """RHELCVSS3.normalize pins (rhel/parser.py:1155-1176 via
    pipelines/rhel.py with_rhel_cvss3): the FEED base_score passes through
    while base_severity follows the COMPUTED score; no trailing-slash
    strip (parse error -> None, unlike the GHSA envelope); falsy feed
    score or vector -> None; status passes through nullable."""
    from pyspark.sql import functions as F

    from vunnel_spark.pipelines.rhel import with_rhel_cvss3

    rows = [
        # AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H computes 9.8 Critical;
        # the feed disagrees (3.0) -> base_score 3.0, severity Critical
        ("disagree", "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H", 3.0, "verified"),
        ("slash", "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H/", 9.8, "draft"),
        ("zerofeed", "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H", 0.0, None),
        ("nullvec", None, 5.0, "verified"),
        ("v30", "CVSS:3.0/AV:L/AC:H/PR:H/UI:R/S:C/C:L/I:N/A:N", 2.3, None),
    ]
    df = spark.createDataFrame(rows, "id string, vec string, feed double, st string")
    out = with_rhel_cvss3(df, F.col("vec"), F.col("feed"), F.col("st"), out="o")
    got = {r.id: r.o for r in out.select("id", "o").collect()}

    d = got["disagree"]
    assert d.base_metrics.base_score == 3.0          # feed passthrough
    assert d.base_metrics.base_severity == "Critical"  # computed 9.8
    assert d.base_metrics.exploitability_score == 3.9
    assert d.base_metrics.impact_score == 5.9
    assert d.version == "3.1" and d.status == "verified"

    assert got["slash"] is None     # rhel never strips the trailing /
    assert got["zerofeed"] is None  # falsy feed score
    assert got["nullvec"] is None
    v30 = got["v30"]
    assert v30.version == "3.0" and v30.status is None
    assert v30.base_metrics.base_severity == "Low"  # computed 2.3
