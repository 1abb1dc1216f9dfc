"""End-to-end provider pipelines as registered queries: the composed
DAG — store upsert, override patch, synthesis, full re-emit — runs under
the driver's correctness gate, not just in pytest golden tests.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vunnel_spark.queries._util import scratch_dir, t
from vunnel_spark.registry import register


@register(
    "nvd1_full_corpus_reemit",
    """
    SELECT 'cve-' || CAST(o_orderkey AS VARCHAR) AS identifier,
           CASE WHEN o_orderkey % 7 = 0 THEN 'OVR'
                WHEN o_orderkey % 5 = 0 THEN 'DELTA'
                ELSE o_orderpriority END AS severity,
           -- override refs APPEND after existing ones in override order
           -- ('a-ref' sorts before 'base'/'delta' — a sorted union would
           -- invert it); the already-present 'base' never re-appends
           CASE WHEN o_orderkey % 5 = 0 THEN 'delta' ELSE 'base' END ||
             CASE WHEN o_orderkey % 7 <> 0 THEN ''
                  -- delta records don't carry 'base', so it appends too
                  WHEN o_orderkey % 5 = 0 THEN '|ovr-ref|a-ref|base'
                  ELSE '|ovr-ref|a-ref' END AS refs,
           (o_orderkey % 7 = 0) AS was_overridden
    FROM orders
    UNION ALL
    SELECT 'cve-x' || CAST(o_orderkey AS VARCHAR), 'OVR', 'ovr-ref|a-ref|base',
           TRUE
    FROM orders WHERE o_orderkey % 13 = 0
    """,
    doc="NVD provider lifecycle end-to-end (nvd/manager.py:103-159 + "
        "161-186 + 304-339; pipelines/nvd.py): an initial full sync is "
        "upserted into the input store, then an incremental delta run "
        "re-emits the FULL corpus — delta rows replace stored records "
        "last-wins, overrides patch severity and append missing refs in "
        "override order (_apply_override:328-335 — existing order "
        "preserved, nothing sorted, the presence set is the ORIGINAL "
        "refs) on every emitted record, and override-only CVEs are "
        "synthesized with their annotation refs verbatim.  The oracle "
        "states the expected final corpus; a pipeline that emitted only "
        "the delta, dropped frozen records, skipped synthesis, or "
        "sort-unioned the refs mismatches",
    tags=("pipeline", "join", "sink", "incremental"),
)
def nvd1(spark, sf_dir):
    from vunnel_spark.pipelines.nvd import nvd_pipeline, upsert_input

    wd = scratch_dir("nvd1_")
    o = t(spark, sf_dir, "orders")
    initial = o.select(
        F.concat(F.lit("CVE-"), F.col("o_orderkey").cast("string")).alias("cve_id"),
        F.col("o_orderpriority").alias("severity"),
        F.lit("rec").alias("description"),
        F.col("o_orderdate").cast("timestamp").alias("last_modified"),
        F.array(F.lit("base")).alias("refs"),
    )
    upsert_input(spark, os.path.join(wd, "input"), initial)
    delta = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.concat(F.lit("CVE-"), F.col("o_orderkey").cast("string")).alias("cve_id"),
            F.lit("DELTA").alias("severity"),
            F.lit("rec-delta").alias("description"),
            (F.col("o_orderdate") + F.expr("INTERVAL 1000 DAYS"))
            .cast("timestamp")
            .alias("last_modified"),
            F.array(F.lit("delta")).alias("refs"),
        )
    )
    # 'a-ref' sorts before 'base'; 'base' is already present on every
    # stored record and must NOT re-append
    overrides = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.concat(F.lit("CVE-"), F.col("o_orderkey").cast("string")).alias("cve_id"),
        F.lit("OVR").alias("severity"),
        F.array(F.lit("ovr-ref"), F.lit("a-ref"), F.lit("base")).alias(
            "extra_refs"
        ),
    ).unionByName(
        o.filter(F.col("o_orderkey") % 13 == 0).select(
            F.concat(F.lit("CVE-X"), F.col("o_orderkey").cast("string")).alias("cve_id"),
            F.lit("OVR").alias("severity"),
            F.array(F.lit("ovr-ref"), F.lit("a-ref"), F.lit("base")).alias(
                "extra_refs"
            ),
        )
    )
    out = nvd_pipeline(spark, delta, wd, overrides=overrides)
    return out.select(
        "identifier",
        F.col("item.severity").alias("severity"),
        F.concat_ws("|", F.col("item.refs")).alias("refs"),
        F.col("item.was_overridden").alias("was_overridden"),
    )


@register(
    "rhel1_parse_cve_dag",
    """
    WITH sk AS (
      -- corpus-derived id scale (the debian2 discipline, r13): k = 1 at
      -- every gate SF (values unchanged), 100 at sf10 — the cve/package
      -- domains grow with the corpus so per-key density stays constant
      -- instead of amplifying 100x (the r13 watch-list decompose found
      -- the fixed %500 domain driving rhel1 to 16x on 100x data)
      SELECT GREATEST(1, COUNT(*) // 150000) AS k FROM orders
    ), base AS (
      -- realistic _parse_platform output forms: bare major ('8'),
      -- eus with a minor ('8.3+eus'), els without one ('8+els')
      SELECT 'CVE-' || CAST(l_orderkey % (500 * k) AS VARCHAR) AS cve_id,
             CAST(l_suppkey % 3 + 7 AS VARCHAR) ||
               CASE WHEN l_partkey % 4 = 0
                      THEN '.' || CAST(l_partkey % 10 AS VARCHAR) || '+eus'
                    WHEN l_partkey % 7 = 0 THEN '+els' ELSE '' END AS platform,
             'pkg' || CAST(l_partkey % (50 * k) AS VARCHAR) AS package,
             CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.' ||
               CAST(l_linenumber AS VARCHAR) AS version,
             l_returnflag AS rf,
             l_orderkey AS okey, l_partkey AS pk
      FROM lineitem, sk
    ), fins AS (
      SELECT cve_id, platform, package, CAST(NULL AS VARCHAR) AS module,
             version
      FROM base WHERE rf <> 'R'
    ), nfins AS (
      -- _parse_package_state (parser.py:690-752): 'module/pkg' names
      -- split, ':flatpak' modules skip, EMPTY post-split names skip
      -- (parser.py:727 — the pk%5=2 'mod/' class, r13 ADVICE fix),
      -- the five-state map projects (version, wont_fix),
      -- 'New'/'Under investigation' skip; one row per item (NO
      -- distinct — a package under two states emits two)
      SELECT cve_id, platform, package,
             CASE WHEN pk % 5 = 1
                  THEN 'm' || CAST(pk % 3 AS VARCHAR) END AS module,
             CASE WHEN (okey + pk) % 7 = 4 THEN '0' ELSE 'None' END AS version,
             (okey + pk) % 7 IN (2, 3) AS wont_fix
      FROM base
      WHERE rf = 'R' AND (okey + pk) % 7 < 5 AND pk % 5 NOT IN (0, 2)
    ), kept AS (
      SELECT f.cve_id, f.platform, f.package, f.module, f.version,
             FALSE AS wont_fix
      FROM fins f
      WHERE NOT EXISTS (SELECT 1 FROM nfins n WHERE n.cve_id = f.cve_id
                        AND n.platform = f.platform AND n.package = f.package
                        AND n.module IS NOT DISTINCT FROM f.module)
      UNION ALL
      SELECT cve_id, platform, package, module, version, wont_fix FROM nfins
    ), based AS (
      -- _get_base_platform (parser.py:785-799): eus -> MAJOR
      -- (split('.')[0]), els -> suffix stripped, else no base
      SELECT k.*,
             CASE WHEN k.platform LIKE '%+eus%'
                    THEN string_split(k.platform, '.')[1]
                  WHEN k.platform LIKE '%+els%'
                    THEN replace(k.platform, '+els', '') END AS bplat
      FROM kept k
    ), inferred AS (
      -- one row PER SOURCE ARTIFACT (no DISTINCT): the reference keeps
      -- duplicate inferred FixedIn entries (parser.py:893-902)
      SELECT b.cve_id, b.bplat AS platform,
             b.package, b.module, 'None' AS version, TRUE AS wont_fix
      FROM based b
      WHERE b.bplat IS NOT NULL AND b.bplat <> b.platform
        AND NOT EXISTS (
          SELECT 1 FROM kept p WHERE p.cve_id = b.cve_id
          AND p.platform = b.bplat)
    ), arts AS (
      SELECT cve_id, platform, package, module, version, wont_fix FROM kept
      UNION ALL SELECT * FROM inferred
    ), meta AS (
      SELECT DISTINCT cve_id,
             CASE CAST(substr(cve_id, 5) AS INT) % 5
                  WHEN 0 THEN 'Critical' WHEN 1 THEN 'High' WHEN 2 THEN 'Medium'
                  WHEN 3 THEN 'Low' ELSE 'Unknown' END AS severity,
             'd' || substr(cve_id, 5) AS description
      FROM base
    )
    SELECT a.cve_id, 'rhel:' || a.platform AS namespace, m.severity,
           m.description, a.package AS name, a.module, a.version,
           a.wont_fix AS no_advisory
    FROM arts a JOIN meta m ON a.cve_id = m.cve_id
    WHERE a.platform NOT LIKE '%+els%'
    """,
    doc="RHEL `_parse_cve` DAG end-to-end (rhel/parser.py:821-1000; "
        "pipelines/rhel.py): not-fixed-trumps-fixed anti-join, EUS/ELS "
        "base-platform inference, '+els' suppression, severity fold, and "
        "sorted FixedIn assembly — run over synthesized affected_release / "
        "package_state frames and exploded back flat so the oracle can "
        "state the full expected artifact table",
    tags=("pipeline", "join", "agg"),
)
def rhel1(spark, sf_dir):
    from vunnel_spark.pipelines.rhel import parse_package_state, rhel_pipeline

    li = t(spark, sf_dir, "lineitem")
    # corpus-derived id scale (one driver-side count parametrizing
    # synthesis moduli, the debian2 discipline): k=1 at every gate SF,
    # 100 at sf10 — constant per-cve density at any corpus size
    k = max(1, t(spark, sf_dir, "orders").count() // 150000)
    cve = F.concat(F.lit("CVE-"), (F.col("l_orderkey") % (500 * k)).cast("string"))
    platform = F.concat(
        (F.col("l_suppkey") % 3 + 7).cast("string"),
        F.when(
            F.col("l_partkey") % 4 == 0,
            F.concat(F.lit("."), (F.col("l_partkey") % 10).cast("string"), F.lit("+eus")),
        )
        .when(F.col("l_partkey") % 7 == 0, F.lit("+els"))
        .otherwise(F.lit("")),
    )
    pkg = F.concat(F.lit("pkg"), (F.col("l_partkey") % (50 * k)).cast("string"))
    ver = F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber"))
    base = li.select(
        cve.alias("cve_id"), platform.alias("platform"), pkg.alias("package"),
        ver.alias("version"), F.col("l_returnflag").alias("rf"),
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk"),
    )
    fins = base.filter(F.col("rf") != "R").select(
        "cve_id", "platform", "package",
        F.lit(None).cast("string").alias("module"), "version",
        F.lit(None).cast("string").alias("rhsa_id"),
    )
    # package_state items drive the REAL parser: module/pkg splits, a
    # ':flatpak' skip branch, all five mapped states plus the two
    # skipped ones ('New', 'Under investigation')
    mod_tok = F.concat(F.lit("m"), (F.col("pk") % 3).cast("string"))
    pkg_name = (
        F.when(
            F.col("pk") % 5 == 0,
            F.concat(mod_tok, F.lit(":flatpak/"), F.col("package")),
        )
        .when(F.col("pk") % 5 == 1, F.concat(mod_tok, F.lit("/"), F.col("package")))
        # 'mod/' — non-empty raw name whose POST-split package is empty;
        # the reference skips it at parser.py:727 (r13 ADVICE fix class)
        .when(F.col("pk") % 5 == 2, F.concat(mod_tok, F.lit("/")))
        .otherwise(F.col("package"))
    )
    state = F.element_at(
        F.array(
            F.lit("Affected"), F.lit("Fix deferred"), F.lit("Will not fix"),
            F.lit("Out of support scope"), F.lit("Not affected"),
            F.lit("New"), F.lit("Under investigation"),
        ),
        ((F.col("okey") + F.col("pk")) % 7 + 1).cast("int"),
    )
    pss = base.filter(F.col("rf") == "R").select(
        "cve_id", "platform",
        pkg_name.alias("package_name"), state.alias("fix_state"),
    )
    nfins = parse_package_state(pss)
    meta = base.select(
        "cve_id",
        F.element_at(
            F.array(
                F.lit("critical"), F.lit("important"), F.lit("moderate"),
                F.lit("low"), F.lit("unknown"),
            ),
            (F.substring("cve_id", 5, 10).cast("int") % 5) + 1,
        ).alias("threat_severity"),
        F.concat(F.lit("d"), F.substring("cve_id", 5, 10)).alias("description"),
    ).distinct()
    out = rhel_pipeline(fins, nfins, meta)
    return out.select(
        "cve_id", "namespace", "severity", "description",
        F.explode("FixedIn").alias("f"),
    ).select(
        "cve_id", "namespace", "severity", "description",
        F.col("f.Name").alias("name"),
        F.col("f.Module").alias("module"),
        F.col("f.Version").alias("version"),
        F.col("f.NoAdvisory").alias("no_advisory"),
    )


@register(
    "rhel2_cvss_normalize",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'N' WHEN 1 THEN 'A' WHEN 2 THEN 'L' ELSE 'P' END AS av,
             CASE CAST(o_orderkey % 2 AS INT) WHEN 0 THEN 'L' ELSE 'H' END AS ac,
             CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'N' WHEN 1 THEN 'L' ELSE 'H' END AS pr,
             CASE CAST(o_orderkey % 2 AS INT) WHEN 0 THEN 'N' ELSE 'R' END AS ui,
             CASE WHEN o_orderkey % 5 < 3 THEN 'U' ELSE 'C' END AS sco,
             CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS cc,
             CASE CAST(o_orderkey % 5 % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS ic,
             CASE CAST(o_orderkey % 7 % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS aa,
             CASE WHEN o_orderkey % 2 = 0 THEN '3.1' ELSE '3.0' END AS ver3,
             CAST(o_orderkey % 6 AS INT) AS kls,
             CASE WHEN o_orderkey % 7 = 0 THEN 0.0
                  WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE (CAST(o_orderkey % 90 AS INT) + 10) / 10.0 END AS feed_score,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  WHEN o_orderkey % 3 = 1 THEN 'verified' ELSE 'draft' END AS status
      FROM orders
    ), vecs AS (
      SELECT *,
             'CVSS:' || ver3 || '/AV:' || av || '/AC:' || ac || '/PR:' || pr || '/UI:' || ui
               || '/S:' || sco || '/C:' || cc || '/I:' || ic || '/A:' || aa AS core,
             CASE WHEN kls = 5 THEN NULL
                  WHEN kls = 3 THEN 'CVSS:' || ver3 || '/AV:' || av || '/AC:' || ac || '/PR:' || pr
                       || '/UI:' || ui || '/S:' || sco || '/C:' || cc || '/I:' || ic || '/A:' || aa || '/'
                  WHEN kls = 4 THEN 'CVSS:' || ver3 || '/AV:' || av || '/AC:' || ac || '/PR:' || pr
                       || '/UI:' || ui || '/S:' || sco || '/C:' || cc || '/I:' || ic
                  ELSE 'CVSS:' || ver3 || '/AV:' || av || '/AC:' || ac || '/PR:' || pr || '/UI:' || ui
                       || '/S:' || sco || '/C:' || cc || '/I:' || ic || '/A:' || aa END AS vec,
             -- rhel does NOT strip the trailing slash, so kls=3 is a
             -- parse error; only kls 0-2 with a truthy feed score emit
             (kls <= 2 AND CAST(k % 7 AS INT) <> 0
              AND CAST(k % 11 AS INT) <> 0) AS ok
      FROM base
    ), vals AS (
      SELECT *, sco = 'C' AS chg,
             CASE av WHEN 'N' THEN 0.85 WHEN 'A' THEN 0.62 WHEN 'L' THEN 0.55 ELSE 0.2 END AS av_v,
             CASE ac WHEN 'L' THEN 0.77 ELSE 0.44 END AS ac_v,
             CASE pr WHEN 'N' THEN 0.85
                     WHEN 'L' THEN CASE WHEN sco = 'C' THEN 0.68 ELSE 0.62 END
                     ELSE CASE WHEN sco = 'C' THEN 0.5 ELSE 0.27 END END AS pr_v,
             CASE ui WHEN 'N' THEN 0.85 ELSE 0.62 END AS ui_v,
             CASE cc WHEN 'H' THEN 0.56 WHEN 'L' THEN 0.22 ELSE 0.0 END AS c_v,
             CASE ic WHEN 'H' THEN 0.56 WHEN 'L' THEN 0.22 ELSE 0.0 END AS i_v,
             CASE aa WHEN 'H' THEN 0.56 WHEN 'L' THEN 0.22 ELSE 0.0 END AS a_v
      FROM vecs
    ), issx AS (
      SELECT *, CAST(1 - (1 - c_v) * (1 - i_v) * (1 - a_v) AS DOUBLE) AS iss FROM vals
    ), powx AS (
      SELECT *, iss - 0.02 AS x1, (iss - 0.02) * (iss - 0.02) AS x2 FROM issx
    ), powy AS (
      SELECT *, x2 * x2 AS x4, (x2 * x2) * (x2 * x2) AS x8 FROM powx
    ), scx AS (
      SELECT *,
             CASE WHEN chg THEN 7.52 * (iss - 0.029) - 3.25 * ((((x8 * x4) * x2) * x1))
                  ELSE 6.42 * iss END AS impact,
             8.22 * av_v * ac_v * pr_v * ui_v AS expl
      FROM powy
    ), cbx AS (
      SELECT *, CAST(round(least(CASE WHEN chg THEN 1.08 * (impact + expl)
                                 ELSE impact + expl END, 10.0) * 100000)
                     AS BIGINT) AS i5
      FROM scx
    ), fin AS (
      SELECT *,
             CASE WHEN impact <= 0 THEN 0.0
                  WHEN i5 % 10000 = 0 THEN i5 / 100000.0
                  ELSE (i5 // 10000 + 1) / 10.0 END AS computed
      FROM cbx
    )
    SELECT 'CVE-' || CAST(k AS VARCHAR) AS cve_id,
           CASE WHEN ok THEN ver3 END AS version,
           CASE WHEN ok THEN status END AS status,
           CASE WHEN ok THEN vec END AS vector_string,
           -- the FEED score passes through; severity follows the
           -- COMPUTED score (RHELCVSS3.normalize :1171 vs :1174)
           CASE WHEN ok THEN CAST(feed_score AS DOUBLE) END AS base_score,
           CASE WHEN ok THEN CAST(round(expl, 1) AS DOUBLE) END AS exploitability_score,
           CASE WHEN ok THEN CAST(round(impact, 1) AS DOUBLE) END AS impact_score,
           CASE WHEN ok THEN
             CASE WHEN computed = 0.0 THEN 'None' WHEN computed < 4.0 THEN 'Low'
                  WHEN computed < 7.0 THEN 'Medium' WHEN computed < 9.0 THEN 'High'
                  ELSE 'Critical' END END AS base_severity
    FROM fin
    """,
    doc="RHEL CVSS3 envelope, exact to _parse_cvss3 + RHELCVSS3.normalize "
        "(rhel/parser.py:799-819, 1155-1176; pipelines/rhel.py "
        "with_rhel_cvss3): NO trailing-slash strip (a trailing '/' is a parse "
        "error, unlike the GHSA envelope), falsy feed vector/base_score "
        "drop the object, the FEED base_score passes through while "
        "exploitability/impact are computed+quantized from the vector and "
        "base_severity follows the library's COMPUTED score — the fixture "
        "feeds deliberately-disagreeing feed scores so the gate catches "
        "any implementation that derives severity from the feed number.  "
        "Classes: valid 3.0/3.1, null-status, trailing-slash, missing "
        "metric, null vector, zero and null feed scores",
    tags=("pipeline", "scalar"),
)
def rhel2(spark, sf_dir):
    from vunnel_spark.pipelines.rhel import with_rhel_cvss3

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    av = (F.when(k % 4 == 0, "N").when(k % 4 == 1, "A")
          .when(k % 4 == 2, "L").otherwise("P"))
    ac = F.when(k % 2 == 0, "L").otherwise("H")
    pr = F.when(k % 3 == 0, "N").when(k % 3 == 1, "L").otherwise("H")
    ui = F.when(k % 2 == 0, "N").otherwise("R")
    sco = F.when(k % 5 < 3, "U").otherwise("C")
    cc = F.when(k % 3 == 0, "H").when(k % 3 == 1, "L").otherwise("N")
    ic = F.when(k % 5 % 3 == 0, "H").when(k % 5 % 3 == 1, "L").otherwise("N")
    aa = F.when(k % 7 % 3 == 0, "H").when(k % 7 % 3 == 1, "L").otherwise("N")
    ver3 = F.when(k % 2 == 0, "3.1").otherwise("3.0")
    core7 = F.concat(
        F.lit("CVSS:"), ver3, F.lit("/AV:"), av, F.lit("/AC:"), ac,
        F.lit("/PR:"), pr, F.lit("/UI:"), ui, F.lit("/S:"), sco,
        F.lit("/C:"), cc, F.lit("/I:"), ic,
    )
    core = F.concat(core7, F.lit("/A:"), aa)
    kls = (k % 6).cast("int")
    vec = (
        F.when(kls == 5, F.lit(None).cast("string"))
        .when(kls == 3, F.concat(core, F.lit("/")))
        .when(kls == 4, core7)
        .otherwise(core)
    )
    feed = (
        F.when(k % 7 == 0, F.lit(0.0))
        .when(k % 11 == 0, F.lit(None).cast("double"))
        .otherwise(((k % 90).cast("int") + 10) / F.lit(10.0))
    )
    status = (
        F.when(k % 3 == 0, F.lit(None).cast("string"))
        .when(k % 3 == 1, F.lit("verified"))
        .otherwise(F.lit("draft"))
    )
    df = o.select(
        F.concat(F.lit("CVE-"), k.cast("string")).alias("cve_id"),
        vec.alias("vec"), feed.alias("feed"), status.alias("st"),
    )
    # with_rhel_cvss3 evaluates the grammar+score tree once through the
    # layered projections (r14 rework of the r13 find — the struct now
    # assembles from cheap attribute refs, so field extraction is free)
    mid = with_rhel_cvss3(df, F.col("vec"), F.col("feed"), F.col("st"),
                          out="_o")
    return mid.select(
        "cve_id",
        F.col("_o.version").alias("version"),
        F.col("_o.status").alias("status"),
        F.col("_o.vector_string").alias("vector_string"),
        F.col("_o.base_metrics.base_score").alias("base_score"),
        F.col("_o.base_metrics.exploitability_score").alias("exploitability_score"),
        F.col("_o.base_metrics.impact_score").alias("impact_score"),
        F.col("_o.base_metrics.base_severity").alias("base_severity"),
    )


@register(
    "ubuntu1_pro_inference",
    """
    WITH frags AS (
      SELECT CASE WHEN l_returnflag = 'A' THEN 'ubuntu:pro:' ELSE 'ubuntu:' END ||
               CAST(l_suppkey % 2 + 22 AS VARCHAR) || '.04' AS ecosystem,
             'CVE-' || CAST(l_orderkey % 300 AS VARCHAR) AS cve_id,
             'pkg' || CAST(l_partkey % 40 AS VARCHAR) AS pkg,
             'fixed' AS status,
             CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.' ||
               CAST(l_linenumber AS VARCHAR) AS fixed_version
      FROM lineitem
    ), inferred AS (
      SELECT DISTINCT replace(p.ecosystem, ':pro:', ':') AS ecosystem,
             p.cve_id, p.pkg
      FROM frags p
      WHERE p.ecosystem LIKE '%:pro:%'
        AND NOT EXISTS (
          SELECT 1 FROM frags b
          WHERE b.ecosystem = replace(p.ecosystem, ':pro:', ':')
            AND b.cve_id = p.cve_id AND b.pkg = p.pkg)
    )
    SELECT ecosystem, cve_id, pkg, status, fixed_version, 'real' AS origin
    FROM frags
    UNION ALL
    SELECT ecosystem, cve_id, pkg, 'wont_fix_inferred', NULL, 'inferred'
    FROM inferred
    """,
    doc="Ubuntu fragment pipeline end-to-end (ubuntu/parser.py:307-373 "
        "fragment writes; 457-495 Pro-to-base inference; "
        "pipelines/ubuntu.py): today's rows land in ecosystem-partitioned "
        "fragments (dynamic overwrite), then the full store is yielded "
        "with synthesized base wont-fix rows for every (cve, pkg) a Pro "
        "sibling covers and base omits — Canonical encodes 'Pro-only fix' "
        "by omission, and the inference reconstructs it.  The freezing of "
        "absent ecosystems is exercised by i6 and the pipeline golden test",
    tags=("pipeline", "join", "sink"),
)
def ubuntu1(spark, sf_dir):
    from vunnel_spark.pipelines.ubuntu import ubuntu_pipeline

    li = t(spark, sf_dir, "lineitem")
    eco = F.concat(
        F.when(F.col("l_returnflag") == "A", F.lit("ubuntu:pro:")).otherwise(
            F.lit("ubuntu:")
        ),
        (F.col("l_suppkey") % 2 + 22).cast("string"),
        F.lit(".04"),
    )
    today = li.select(
        eco.alias("ecosystem"),
        F.concat(F.lit("CVE-"), (F.col("l_orderkey") % 300).cast("string")).alias("cve_id"),
        F.concat(F.lit("pkg"), (F.col("l_partkey") % 40).cast("string")).alias("pkg"),
        F.lit("fixed").alias("status"),
        F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber")).alias(
            "fixed_version"
        ),
    )
    wd = scratch_dir("ubuntu1_")
    return ubuntu_pipeline(spark, today, wd)


@register(
    "osv1_fixdate_patch",
    """
    SELECT vuln_id, package, fixed_version,
           -- finder.best: the accurate-store min date is a CAP; the
           -- published candidate wins iff <= cap (or no cap); the store
           -- itself surfaces when nothing survives, inaccurate rows last
           CASE WHEN cap IS NOT NULL AND (p IS NULL OR p > cap) THEN cap
                WHEN p IS NOT NULL THEN p
                ELSE s_min END AS fix_date,
           CASE WHEN cap IS NOT NULL AND (p IS NULL OR p > cap)
                  THEN 'observed'
                WHEN p IS NOT NULL THEN 'advisory'
                ELSE 'observed' END AS fix_kind
    FROM (
      -- duplicate (orderkey, linenumber) pairs exist in the corpus, so
      -- events sharing (vuln, pkg, fixed_version) merge into ONE
      -- candidate group — aggregate like the pipeline's group pick
      SELECT vuln_id, package, fixed_version,
             bool_or(has_store) AS has_store,
             min(CASE WHEN has_store AND s_acc THEN s_date END) AS cap,
             min(CASE WHEN has_store THEN s_date END) AS s_min,
             max(p_date) AS p
      FROM (
        SELECT 'OSV-' || CAST(o_orderkey AS VARCHAR) AS vuln_id,
               'pkg-' || CAST(l_partkey % 50 AS VARCHAR) AS package,
               '1.' || CAST(l_linenumber AS VARCHAR) || '.'
                    || CAST(l_partkey % 50 AS VARCHAR) AS fixed_version,
               l_suppkey % 3 = 0 AS has_store,
               -- store date: sometimes BEFORE published (wins under
               -- the cap), sometimes the ship date (published wins)
               CASE WHEN l_partkey % 2 = 0
                    THEN CAST(o_orderdate AS DATE) - 10
                    ELSE CAST(l_shipdate AS DATE) END AS s_date,
               l_partkey % 7 <> 0 AS s_acc,
               CASE WHEN o_orderkey % 31 = 0 THEN NULL
                    ELSE CAST(o_orderdate AS DATE) END AS p_date
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      GROUP BY vuln_id, package, fixed_version)
    WHERE has_store OR p IS NOT NULL
    """,
    doc="OSV passthrough pipeline end-to-end (utils/osv.py:9-108; "
        "pipelines/osv.py): nested advisories are built from orders/"
        "lineitem (one affected per package, fixed events per lineitem), "
        "patched via explode -> candidate join -> the finder.best cap "
        "pick (an accurate first-observed store date is a CAP and last "
        "resort, not a competitor: candidates dated <= it win, later "
        "ones are discarded, the store surfaces only when nothing "
        "survives; an inaccurate store trails every candidate) -> "
        "in-order array reassembly, then RE-EXPLODED from the rebuilt "
        "nested doc.  The synthesis exercises every branch: early and "
        "late store dates, inaccurate store rows, null published, "
        "store-only and published-only and candidate-less events.  The "
        "oracle states every event's expected best fix date flat; a pick "
        "that prefers the wrong candidate, or a rebuild that drops/"
        "reorders ranges, changes the re-exploded rows.  "
        "INPUT IS PRE-MATERIALIZED (r11 verdict): the registered query "
        "reads the nested corpus from a keyed parquet cache (built once "
        "per (sf_dir, orders count)), so gate and sweep measure the "
        "PRODUCTION shape — the patch pipeline over a nested corpus on "
        "disk (9.1x at 100x data, osv1_pipeline_results.json) — not the "
        "orders x lineitem collect_list synthesis (33.5x).  The oracle "
        "is a pure function of orders/lineitem either way",
    tags=("pipeline", "join", "explode"),
)
def osv1(spark, sf_dir):
    return osv1_run(*osv1_materialized_inputs(spark, sf_dir))


#: bump when osv1_inputs' synthesis changes (v2: branch-complete
#: fixture for the finder.best cap pick, r12)
_OSV1_SYNTH_V = 2


def osv1_materialized_inputs(spark, sf_dir):
    """osv1's synthesized nested input, through a keyed parquet cache.

    In production the nested advisory corpus IS the pipeline's on-disk
    input; building it per query run made the registered osv1 measure
    collect_list assembly instead of the pipeline (the r9 68.4x 'watch'
    item, adjudicated r10-r11).  The cache key folds in a content
    fingerprint of the source tables (sizes + mtimes, r13 ADVICE — row
    count alone couldn't distinguish regenerated same-size data), so a
    regenerated testdata dir can't serve a stale synthesis; writes
    go to a tmp dir then os.rename so concurrent/killed runs never
    expose a half-written cache.  Lives under the gitignored .scaledata/.
    """
    import hashlib
    import os
    import shutil

    # content fingerprint (r13 ADVICE): file sizes + mtimes of the two
    # source tables, so a REGENERATED testdata dir with the same row
    # count but different content busts the cache (the row-count key
    # couldn't see that).  Stat-only — no Spark job, unlike the old
    # count(); a parquet "file" may be a directory of part files.
    def _fp(table: str) -> str:
        p = os.path.join(sf_dir, f"{table}.parquet")
        paths = [p]
        if os.path.isdir(p):
            paths = sorted(
                os.path.join(p, f) for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
        return ";".join(
            f"{os.path.basename(q)}:{os.stat(q).st_size}:{os.stat(q).st_mtime_ns}"
            for q in paths
        )

    # _OSV1_SYNTH_V busts the cache whenever the synthesis itself
    # changes — the content fingerprint alone can't see that
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}:{_fp('orders')}:{_fp('lineitem')}:"
        f"v{_OSV1_SYNTH_V}".encode()
    ).hexdigest()[:16]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)
    )))
    root = os.path.join(repo, ".scaledata", "osv1_input", key)
    if not os.path.isdir(root):
        adv, fxd = osv1_inputs(spark, sf_dir)
        tmp = f"{root}.tmp-{os.getpid()}"
        adv.write.mode("overwrite").parquet(os.path.join(tmp, "advisories"))
        fxd.write.mode("overwrite").parquet(os.path.join(tmp, "fixdates"))
        try:
            os.rename(tmp, root)
        except OSError:  # another process won the race; its cache is fine
            shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.read.parquet(os.path.join(root, "advisories")),
        spark.read.parquet(os.path.join(root, "fixdates")),
    )


def osv1_inputs(spark, sf_dir):
    """(advisories, fixdates): osv1's synthesized nested-corpus INPUT.

    Split out so osv1_materialized_inputs can cache it as parquet and
    the registered osv1 times the PATCH PIPELINE alone — in production
    the nested advisory corpus is the pipeline's input, not built per
    query, so a measurement that includes the orders×lineitem synthesis
    join overstates the pipeline's growth (the r9 curve's 68.4x-at-100x
    'watch' item was exactly this).
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    ev = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.concat(F.lit("OSV-"), F.col("o_orderkey").cast("string")).alias("id"),
        # null published every 31st advisory: exercises the
        # store-as-last-resort and candidate-less branches of the pick
        F.when(F.col("o_orderkey") % 31 == 0, F.lit(None))
        .otherwise(F.col("o_orderdate"))
        .cast(orders.schema["o_orderdate"].dataType)
        .alias("published"),
        F.concat(F.lit("pkg-"), (F.col("l_partkey") % 50).cast("string")).alias("pkg"),
        F.lit("npm").alias("eco"),
        F.concat(
            F.lit("1."), F.col("l_linenumber").cast("string"),
            F.lit("."), (F.col("l_partkey") % 50).cast("string"),
        ).alias("fixed"),
        "l_suppkey", "l_partkey", "l_shipdate", "o_orderdate",
    )
    # nested advisories: one affected per (advisory, pkg), one range each,
    # an 'introduced: 0' event plus one fixed event per lineitem
    ranges = ev.groupBy("id", "published", "pkg", "eco").agg(
        F.array(
            F.struct(
                F.lit("ECOSYSTEM").alias("type"),
                F.concat(
                    F.array(F.struct(
                        F.lit("0").alias("introduced"),
                        F.lit(None).cast("string").alias("fixed"),
                    )),
                    F.array_sort(F.collect_list(F.struct(
                        F.lit(None).cast("string").alias("introduced"),
                        F.col("fixed").alias("fixed"),
                    ))),
                ).alias("events"),
            )
        ).alias("ranges")
    )
    # array_sort: collect_list order is partition-dependent, and the patch
    # operator addresses ranges POSITIONALLY (a_pos) — an unsorted array
    # makes the two computations of this subtree disagree on positions
    # under some shuffle geometries (bug surfaced at sf0.1 under the plain
    # 200-partition session: fixes attached to wrong ranges)
    advisories = ranges.groupBy("id").agg(
        F.first("published").alias("published"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.struct(F.col("pkg").alias("name"), F.col("eco").alias("ecosystem")).alias("package"),
                    F.col("ranges").alias("ranges"),
                )
            )
        ).alias("affected"),
    )
    fixdates = ev.filter(F.col("l_suppkey") % 3 == 0).select(
        F.col("id").alias("vuln_id"),
        F.col("pkg").alias("package"),
        F.col("eco").alias("ecosystem"),
        F.col("fixed").alias("fix_version"),
        # early (pre-published) dates win under the cap; ship dates lose
        # to the published candidate — both branches of finder.best's
        # <=-cap rule are exercised (mirrored in the oracle's s_date)
        F.when(
            F.col("l_partkey") % 2 == 0,
            F.date_sub(F.col("o_orderdate").cast("date"), 10),
        )
        .otherwise(F.col("l_shipdate").cast("date"))
        .alias("date"),
        F.lit("observed").alias("kind"),
        # every 7th package id: an INACCURATE store row, which must
        # trail every candidate and never form a cap
        (F.col("l_partkey") % 7 != 0).alias("accurate"),
    )
    return advisories, fixdates


def osv1_run(advisories, fixdates):
    """The PATCH PIPELINE half of osv1: patch fix dates into the nested
    corpus, then re-explode the rebuilt document to flat rows."""
    from vunnel_spark.pipelines.osv import osv_patch_fix_dates

    patched = osv_patch_fix_dates(advisories, fixdates)
    # re-explode the REBUILT nested document to flat verification rows
    out = (
        patched.select("id", F.explode("affected").alias("aff"))
        .select("id", F.col("aff.package.name").alias("package"), F.explode("aff.ranges").alias("rng"))
        .select("id", "package", F.explode("rng.database_specific.anchore.fixes").alias("fx"))
        .select(
            F.col("id").alias("vuln_id"),
            "package",
            F.col("fx.version").alias("fixed_version"),
            F.col("fx.date").cast("date").alias("fix_date"),
            F.col("fx.kind").alias("fix_kind"),
        )
    )
    return out


@register(
    "debian1_legacy_merge_dag",
    """
    WITH dsas AS (
      SELECT o_orderkey % 100 AS dsa_base,
             o_orderkey AS rev,
             'pkg' || CAST(o_custkey % 20 AS VARCHAR) AS pkg,
             CASE WHEN o_orderkey % 3 = 0 THEN []::VARCHAR[]
                  WHEN o_orderkey % 8 = 0
                  THEN ['CVE-2024-' || CAST(o_orderkey % 300 AS VARCHAR),
                        'CVE-2024-' || CAST((o_orderkey + 7) % 300 AS VARCHAR)]
                  ELSE ['CVE-2024-' || CAST(o_orderkey % 300 AS VARCHAR)]
             END AS cves
      FROM orders WHERE o_orderkey % 4 = 0
    ), filled AS (
      SELECT dsa_base, rev, pkg,
             CASE WHEN len(cves) > 0 THEN cves
                  ELSE max_by(cves, len(cves)*1000000000 + rev)
                         OVER (PARTITION BY dsa_base) END AS cves
      FROM dsas
    ), advisories AS (
      SELECT 'DSA-' || CAST(dsa_base AS VARCHAR) || '-' || CAST(rev AS VARCHAR)
               AS dsa_id,
             pkg, unnest(cves) AS cve
      FROM filled
    ), cve_rows AS (
      SELECT DISTINCT
             'deb' || CAST(l_suppkey % 3 + 10 AS VARCHAR) AS ns,
             'CVE-2024-' || CAST(l_orderkey % 300 AS VARCHAR) AS cve,
             'pkg' || CAST(l_partkey % 20 AS VARCHAR) AS pkg,
             CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.' ||
               CAST(l_linenumber AS VARCHAR) AS fixed_version,
             -- full reference urgency vocabulary incl. ** variants
             list_extract(['low','low**','medium','medium**','high',
                           'high**','unimportant','exotic'],
                          CAST(l_partkey % 8 AS INT) + 1) AS urgency
      FROM lineitem
    ), j2 AS (
      SELECT c.ns, c.cve, c.pkg, c.fixed_version, c.urgency,
             COALESCE(array_to_string(list_sort(
               list(a.dsa_id) FILTER (WHERE a.dsa_id IS NOT NULL)), '|'), '')
               AS advisories
      FROM cve_rows c
      LEFT JOIN advisories a ON a.pkg = c.pkg AND a.cve = c.cve
      GROUP BY c.ns, c.cve, c.pkg, c.fixed_version, c.urgency
    ), sev AS (
      SELECT *,
             CASE WHEN urgency IN ('low', 'low**') THEN 'Low'
                  WHEN urgency IN ('medium', 'medium**') THEN 'Medium'
                  WHEN urgency IN ('high', 'high**') THEN 'High'
                  WHEN urgency = 'unimportant' THEN 'Negligible'
                  ELSE 'Unknown' END AS severity
      FROM j2
    ), assembled AS (
      SELECT ns, cve AS vid,
             max_by(severity, CASE severity WHEN 'Negligible' THEN 1
                                            WHEN 'Low' THEN 2
                                            WHEN 'Medium' THEN 3
                                            WHEN 'High' THEN 4
                                            WHEN 'Critical' THEN 5
                                            ELSE 0 END) AS severity,
             array_to_string(list_transform(
               list_sort(list(struct_pack(Name := pkg, Version := fixed_version))),
               s -> s.Name || ':' || s.Version), '|') AS fixed_in,
             COALESCE(array_to_string(list_sort(list_filter(list_distinct(
               flatten(list(string_split(advisories, '|')))), x -> x <> '')), '|'), '')
               AS advisories
      FROM sev GROUP BY ns, cve
    ), legacy AS (
      SELECT DISTINCT 'deb10' AS ns,
             CASE WHEN o_orderkey % 12 = 0
                  THEN 'CVE-2024-' || CAST(o_orderkey % 300 AS VARCHAR)
                  ELSE 'CVE-1999-' || CAST(o_orderkey % 300 AS VARCHAR) END AS vid,
             'Low' AS severity, 'legacypkg:1.0' AS fixed_in, '' AS advisories
      FROM orders WHERE o_orderkey % 6 = 0
    ), merged AS (
      SELECT ns, vid, severity, fixed_in, advisories, 0 AS from_legacy
      FROM assembled
      UNION ALL
      SELECT l.ns, l.vid, l.severity, l.fixed_in, l.advisories, 1
      FROM legacy l
      WHERE NOT EXISTS (SELECT 1 FROM assembled a
                        WHERE a.ns = l.ns AND a.vid = l.vid)
    )
    SELECT ns, vid, severity, fixed_in, advisories,
           CAST(from_legacy AS INTEGER) AS from_legacy
    FROM merged
    """,
    doc="Debian provider DAG end-to-end (debian/parser.py:109-618; "
        "pipelines/debian.py): sibling CVE fill-down across DSA revisions "
        "(J3, windowed max_by — no self-join), CVE-to-DSA advisory join + "
        "list assembly (J2), urgency normalization + severity max-merge "
        "(P8/A2), sorted FixedIn record assembly (A1/O2), legacy "
        "union-merge with current-wins priority (J14), envelope sink.  The "
        "oracle restates every stage in SQL, so the gate checks the "
        "composed lifecycle, not just the operator parts",
    tags=("pipeline", "join", "window", "agg", "sink"),
)
def debian1(spark, sf_dir, id_scale=1):
    """``id_scale`` widens the synthesized id space (DSA bases, CVE ids,
    package names) by that factor.  The registered query uses 1 (the
    oracle depends on the exact moduli); the scale harness passes the SF
    ratio, because an SF-INVARIANT id space means per-key payloads grow
    linearly with the corpus and the per-(ns, vid) record assembly goes
    quadratic in memory — a gate-construction artifact, not a pipeline
    property (production id spaces grow with the corpus)."""
    from vunnel_spark.pipelines.debian import debian_pipeline

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n_cve, n_pkg, n_dsa = 300 * id_scale, 20 * id_scale, 100 * id_scale
    cve = F.concat(F.lit("CVE-2024-"), (F.col("o_orderkey") % n_cve).cast("string"))
    cve2 = F.concat(F.lit("CVE-2024-"), ((F.col("o_orderkey") + 7) % n_cve).cast("string"))
    dsas = o.filter(F.col("o_orderkey") % 4 == 0).select(
        (F.col("o_orderkey") % n_dsa).alias("dsa_base"),
        F.col("o_orderkey").alias("rev"),
        F.concat(F.lit("pkg"), (F.col("o_custkey") % n_pkg).cast("string")).alias("pkg"),
        F.when(F.col("o_orderkey") % 3 == 0, F.array().cast("array<string>"))
        .when(F.col("o_orderkey") % 8 == 0, F.array(cve, cve2))
        .otherwise(F.array(cve))
        .alias("cves"),
    )
    cve_rows = li.select(
        F.concat(F.lit("deb"), (F.col("l_suppkey") % 3 + 10).cast("string")).alias("ns"),
        F.concat(F.lit("CVE-2024-"), (F.col("l_orderkey") % n_cve).cast("string")).alias("cve"),
        F.concat(F.lit("pkg"), (F.col("l_partkey") % n_pkg).cast("string")).alias("pkg"),
        F.concat_ws(
            ".", F.col("l_quantity").cast("int"), F.col("l_linenumber")
        ).alias("fixed_version"),
        # full reference urgency vocabulary (debian/parser.py:356-374)
        # incl. the ** variants, plus one fallback token ('exotic' ->
        # nvd-else-Unknown branch; the DAG carries no nvd stream)
        F.element_at(
            F.lit(["low", "low**", "medium", "medium**", "high",
                   "high**", "unimportant", "exotic"]),
            (F.col("l_partkey") % 8).cast("int") + 1,
        ).alias("urgency"),
    ).distinct()
    legacy = o.filter(F.col("o_orderkey") % 6 == 0).select(
        F.lit("deb10").alias("ns"),
        F.concat(
            F.when(F.col("o_orderkey") % 12 == 0, F.lit("CVE-2024-")).otherwise(F.lit("CVE-1999-")),
            (F.col("o_orderkey") % n_cve).cast("string"),
        ).alias("vid"),
        F.lit("Low").alias("severity"),
        F.array(F.struct(F.lit("legacypkg").alias("Name"), F.lit("1.0").alias("Version"))).alias("FixedIn"),
        F.lit("").alias("advisories"),
    ).distinct()
    wd = scratch_dir("debian1_")
    out = debian_pipeline(spark, dsas, cve_rows, wd, legacy=legacy)
    return out.select(
        F.col("item.ns").alias("ns"),
        F.col("item.vid").alias("vid"),
        F.col("item.severity").alias("severity"),
        F.concat_ws(
            "|",
            F.transform(
                F.col("item.FixedIn"),
                lambda s: F.concat_ws(":", s["Name"], s["Version"]),
            ),
        ).alias("fixed_in"),
        F.col("item.advisories").alias("advisories"),
        F.col("item.from_legacy").cast("int").alias("from_legacy"),
    )


@register(
    "debian2_legacy_merge_scaled",
    """
    WITH sk AS (
      SELECT GREATEST(1, COUNT(*) // 5000) AS k FROM orders
    ), dsas AS (
      SELECT o_orderkey % (100 * k) AS dsa_base,
             o_orderkey AS rev,
             'pkg' || CAST(o_custkey % (20 * k) AS VARCHAR) AS pkg,
             CASE WHEN o_orderkey % 3 = 0 THEN []::VARCHAR[]
                  WHEN o_orderkey % 8 = 0
                  THEN ['CVE-2024-' || CAST(o_orderkey % (300 * k) AS VARCHAR),
                        'CVE-2024-' || CAST((o_orderkey + 7) % (300 * k) AS VARCHAR)]
                  ELSE ['CVE-2024-' || CAST(o_orderkey % (300 * k) AS VARCHAR)]
             END AS cves
      FROM orders, sk WHERE o_orderkey % 4 = 0
    ), filled AS (
      SELECT dsa_base, rev, pkg,
             CASE WHEN len(cves) > 0 THEN cves
                  ELSE max_by(cves, len(cves)*1000000000 + rev)
                         OVER (PARTITION BY dsa_base) END AS cves
      FROM dsas
    ), advisories AS (
      SELECT 'DSA-' || CAST(dsa_base AS VARCHAR) || '-' || CAST(rev AS VARCHAR)
               AS dsa_id,
             pkg, unnest(cves) AS cve
      FROM filled
    ), cve_rows AS (
      SELECT DISTINCT
             'deb' || CAST(l_suppkey % 3 + 10 AS VARCHAR) AS ns,
             'CVE-2024-' || CAST(l_orderkey % (300 * k) AS VARCHAR) AS cve,
             'pkg' || CAST(l_partkey % (20 * k) AS VARCHAR) AS pkg,
             CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.' ||
               CAST(l_linenumber AS VARCHAR) AS fixed_version,
             -- full reference urgency vocabulary incl. ** variants
             list_extract(['low','low**','medium','medium**','high',
                           'high**','unimportant','exotic'],
                          CAST(l_partkey % 8 AS INT) + 1) AS urgency
      FROM lineitem, sk
    ), j2 AS (
      SELECT c.ns, c.cve, c.pkg, c.fixed_version, c.urgency,
             COALESCE(array_to_string(list_sort(
               list(a.dsa_id) FILTER (WHERE a.dsa_id IS NOT NULL)), '|'), '')
               AS advisories
      FROM cve_rows c
      LEFT JOIN advisories a ON a.pkg = c.pkg AND a.cve = c.cve
      GROUP BY c.ns, c.cve, c.pkg, c.fixed_version, c.urgency
    ), sev AS (
      SELECT *,
             CASE WHEN urgency IN ('low', 'low**') THEN 'Low'
                  WHEN urgency IN ('medium', 'medium**') THEN 'Medium'
                  WHEN urgency IN ('high', 'high**') THEN 'High'
                  WHEN urgency = 'unimportant' THEN 'Negligible'
                  ELSE 'Unknown' END AS severity
      FROM j2
    ), assembled AS (
      SELECT ns, cve AS vid,
             max_by(severity, CASE severity WHEN 'Negligible' THEN 1
                                            WHEN 'Low' THEN 2
                                            WHEN 'Medium' THEN 3
                                            WHEN 'High' THEN 4
                                            WHEN 'Critical' THEN 5
                                            ELSE 0 END) AS severity,
             array_to_string(list_transform(
               list_sort(list(struct_pack(Name := pkg, Version := fixed_version))),
               s -> s.Name || ':' || s.Version), '|') AS fixed_in,
             COALESCE(array_to_string(list_sort(list_filter(list_distinct(
               flatten(list(string_split(advisories, '|')))), x -> x <> '')), '|'), '')
               AS advisories
      FROM sev GROUP BY ns, cve
    ), legacy AS (
      SELECT DISTINCT 'deb10' AS ns,
             CASE WHEN o_orderkey % 12 = 0
                  THEN 'CVE-2024-' || CAST(o_orderkey % (300 * k) AS VARCHAR)
                  ELSE 'CVE-1999-' || CAST(o_orderkey % (300 * k) AS VARCHAR) END AS vid,
             'Low' AS severity, 'legacypkg:1.0' AS fixed_in, '' AS advisories
      FROM orders, sk WHERE o_orderkey % 6 = 0
    ), merged AS (
      SELECT ns, vid, severity, fixed_in, advisories, 0 AS from_legacy
      FROM assembled
      UNION ALL
      SELECT l.ns, l.vid, l.severity, l.fixed_in, l.advisories, 1
      FROM legacy l
      WHERE NOT EXISTS (SELECT 1 FROM assembled a
                        WHERE a.ns = l.ns AND a.vid = l.vid)
    )
    SELECT ns, vid, severity, fixed_in, advisories,
           CAST(from_legacy AS INTEGER) AS from_legacy
    FROM merged
    """,
    doc="The debian DAG (see debian1) with a CORPUS-PROPORTIONAL id "
        "space: the DSA-base / CVE / package moduli are all multiplied "
        "by k = greatest(1, count(orders) // 5000), derived identically "
        "in Spark and in the oracle.  Regression-guards the scale class "
        "round 10 found in debian1's gate geometry — an SF-INVARIANT "
        "synthetic id space makes per-(ns, vid) collect payloads grow "
        "linearly with the corpus and the record assembly OOMs at sf10; "
        "with the id space tied to the corpus, per-key payloads are "
        "bounded at every SF by construction (measured 27.1 s at sf10 = "
        "4.1x on 100x data, debian1_scaled_results.json).  Production "
        "id spaces grow with the corpus, so THIS geometry, not "
        "debian1's, is the 100 TB shape of the pipeline",
    tags=("pipeline", "join", "window", "agg", "sink", "scale"),
)
def debian2(spark, sf_dir):
    """Corpus-derived ``id_scale``: one driver-side count of the orders
    table (legitimate control flow — it parametrizes synthesis moduli,
    not row processing) sets k so the id space grows with the data.
    sf0.001 -> k=1 (debian1's exact geometry), sf0.01 -> 3, sf0.1 -> 30,
    sf10 -> 3000."""
    o = t(spark, sf_dir, "orders")
    k = max(1, o.count() // 5000)
    return debian1(spark, sf_dir, id_scale=int(k))


@register(
    "oval1_resolution_dag",
    """
    WITH defs AS (
      SELECT 'oval:def:' || CAST(o_orderkey AS VARCHAR) AS def_id,
             'ELSA-' || CAST(o_orderkey % 500 AS VARCHAR) AS name,
             o_orderkey % 7 AS version,
             CASE o_orderstatus WHEN 'F' THEN 'Important'
                                WHEN 'O' THEN 'Moderate'
                                ELSE 'Low' END AS severity
      FROM orders WHERE o_orderkey % 3 = 0
    ), canon AS (
      SELECT def_id, name, version, severity FROM (
        SELECT *, row_number() OVER (
          PARTITION BY name ORDER BY version DESC, def_id DESC) AS rn
        FROM defs) WHERE rn = 1
    ), pairs AS (
      SELECT 'oval:def:' || CAST(l_orderkey AS VARCHAR) AS def_id,
             'tst:ns' || CAST(l_suppkey % 5 AS VARCHAR) AS ns_test,
             'tst:' || CAST(l_partkey % 200 AS VARCHAR) AS pkg_test
      FROM lineitem WHERE l_orderkey % 3 = 0
    ), tests AS (
      SELECT DISTINCT 'tst:' || CAST(p_partkey % 200 AS VARCHAR) AS test_id,
             'obj:' || CAST((p_partkey % 200) % 120 AS VARCHAR) AS object_ref,
             'ste:' || CAST((p_partkey % 200) % 90 AS VARCHAR) AS state_ref
      FROM part
    ), objects AS (
      SELECT DISTINCT 'obj:' || CAST(p_partkey % 120 AS VARCHAR) AS object_ref,
             'pkg' || CAST((p_partkey % 120) % 60 AS VARCHAR) AS pkg
      FROM part
    ), states AS (
      SELECT DISTINCT 'ste:' || CAST(p_partkey % 90 AS VARCHAR) AS state_ref,
             '0:1.' || CAST(p_partkey % 90 AS VARCHAR) || '-'
               || CAST((p_partkey % 90) % 4 AS VARCHAR) AS evr,
             CASE WHEN (p_partkey % 90) % 7 = 0 THEN 'ksplice1.el'
                  ELSE 'el' END || CAST((p_partkey % 90) % 3 + 6 AS VARCHAR)
               AS release
      FROM part
    ), resolved AS (
      SELECT p.def_id, ob.pkg, s.evr
      FROM pairs p
      JOIN canon c ON c.def_id = p.def_id
      JOIN tests tt ON tt.test_id = p.pkg_test
      JOIN objects ob ON ob.object_ref = tt.object_ref
      JOIN states s ON s.state_ref = tt.state_ref
      WHERE s.release IS NULL OR NOT regexp_matches(s.release, 'ksplice')
    ), fixes AS (
      SELECT def_id,
             array_to_string(list_sort(list_distinct(list(pkg || ':' || evr))),
                             '|') AS fixed_in
      FROM resolved GROUP BY def_id
    )
    SELECT c.name, c.def_id, c.version AS def_version, c.severity,
           COALESCE(f.fixed_in, '') AS fixed_in
    FROM canon c LEFT JOIN fixes f ON f.def_id = c.def_id
    """,
    doc="OVAL-family provider DAG end-to-end (oracle/oval_parser.py:119-206; "
        "pipelines/oval.py): A13 duplicate-definition canonical pick "
        "(windowed row_number, higher version wins), the reference's "
        "test->object/state dict chain as a 3-hop broadcast equi-join "
        "(oval_parser.py:119-167), P6 ksplice-release drop "
        "(parser.py:145-201), sorted FixedIn assembly (A1/O2).  Inputs are "
        "the four relational frames the S3 XML scan tier emits, synthesized "
        "deterministically from orders/lineitem/part; the oracle restates "
        "every stage in SQL so the gate checks the composed lifecycle",
    tags=("pipeline", "join", "window", "agg"),
)
def oval1(spark, sf_dir):
    from vunnel_spark.pipelines.oval import oval_pipeline

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    defs = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.concat(F.lit("oval:def:"), F.col("o_orderkey").cast("string")).alias("def_id"),
        F.concat(F.lit("ELSA-"), (F.col("o_orderkey") % 500).cast("string")).alias("name"),
        (F.col("o_orderkey") % 7).alias("version"),
        F.when(F.col("o_orderstatus") == "F", F.lit("Important"))
        .when(F.col("o_orderstatus") == "O", F.lit("Moderate"))
        .otherwise(F.lit("Low"))
        .alias("severity"),
    )
    pairs = li.filter(F.col("l_orderkey") % 3 == 0).select(
        F.concat(F.lit("oval:def:"), F.col("l_orderkey").cast("string")).alias("def_id"),
        F.concat(F.lit("tst:ns"), (F.col("l_suppkey") % 5).cast("string")).alias("ns_test"),
        F.concat(F.lit("tst:"), (F.col("l_partkey") % 200).cast("string")).alias("pkg_test"),
    )
    k = F.col("p_partkey") % 200
    tests = pt.select(
        F.concat(F.lit("tst:"), k.cast("string")).alias("test_id"),
        F.concat(F.lit("obj:"), (k % 120).cast("string")).alias("object_ref"),
        F.concat(F.lit("ste:"), (k % 90).cast("string")).alias("state_ref"),
    ).distinct()
    j = F.col("p_partkey") % 120
    objects = pt.select(
        F.concat(F.lit("obj:"), j.cast("string")).alias("object_ref"),
        F.concat(F.lit("pkg"), (j % 60).cast("string")).alias("pkg"),
    ).distinct()
    m = F.col("p_partkey") % 90
    states = pt.select(
        F.concat(F.lit("ste:"), m.cast("string")).alias("state_ref"),
        F.concat(F.lit("0:1."), m.cast("string"), F.lit("-"), (m % 4).cast("string")).alias("evr"),
        F.concat(
            F.when(m % 7 == 0, F.lit("ksplice1.el")).otherwise(F.lit("el")),
            (m % 3 + 6).cast("string"),
        ).alias("release"),
    ).distinct()
    return oval_pipeline(defs, pairs, tests, objects, states)


@register(
    "sles1_not_affected_dag",
    """
    WITH defs AS (
      SELECT 'oval:def:' || CAST(o_orderkey AS VARCHAR) AS def_id,
             'SUSE-SU-' || CAST(o_orderkey % 500 AS VARCHAR) AS name,
             o_orderkey % 7 AS version,
             CASE o_orderstatus WHEN 'F' THEN 'important'
                                WHEN 'O' THEN 'moderate'
                                ELSE 'critical' END AS severity
      FROM orders WHERE o_orderkey % 3 = 0
    ), canon AS (
      SELECT def_id, name, version, severity FROM (
        SELECT *, row_number() OVER (
          PARTITION BY name ORDER BY version DESC, def_id DESC) AS rn
        FROM defs) WHERE rn = 1
    ), pairs AS (
      SELECT 'oval:def:' || CAST(l_orderkey AS VARCHAR) AS def_id,
             'tst:' || CAST(l_partkey % 200 AS VARCHAR) AS pkg_test,
             CASE WHEN l_linenumber % 4 = 0 THEN 'not_affected'
                  ELSE 'affirm' END AS polarity
      FROM lineitem WHERE l_orderkey % 3 = 0
    ), live AS (
      SELECT p.* FROM pairs p JOIN canon c ON c.def_id = p.def_id
    ), tests AS (
      SELECT DISTINCT 'tst:' || CAST(p_partkey % 200 AS VARCHAR) AS test_id,
             'obj:' || CAST((p_partkey % 200) % 120 AS VARCHAR) AS object_ref,
             'ste:' || CAST((p_partkey % 200) % 90 AS VARCHAR) AS state_ref
      FROM part
    ), objects AS (
      SELECT DISTINCT 'obj:' || CAST(p_partkey % 120 AS VARCHAR) AS object_ref,
             'pkg' || CAST((p_partkey % 120) % 60 AS VARCHAR) AS pkg
      FROM part
    ), states AS (
      SELECT DISTINCT 'ste:' || CAST(p_partkey % 90 AS VARCHAR) AS state_ref,
             CASE WHEN (p_partkey % 90) % 11 = 0 THEN '0'
                  ELSE '0:1.' || CAST(p_partkey % 90 AS VARCHAR) || '-'
                       || CAST((p_partkey % 90) % 4 AS VARCHAR) END AS evr
      FROM part
    ), aff AS (
      SELECT p.def_id, ob.pkg, s.evr
      FROM live p
      JOIN tests tt ON tt.test_id = p.pkg_test
      JOIN objects ob ON ob.object_ref = tt.object_ref
      JOIN states s ON s.state_ref = tt.state_ref
      WHERE p.polarity <> 'not_affected'
    ), na AS (
      -- dedup among not-affected only: the reference's dedup against
      -- affected entries never fires ((Name, None) vs (Name, ''),
      -- parser.py:381-409), so both entries emit for a shared package
      SELECT DISTINCT p.def_id, ob.pkg, '0' AS evr
      FROM live p
      JOIN tests tt ON tt.test_id = p.pkg_test
      JOIN objects ob ON ob.object_ref = tt.object_ref
      JOIN states s ON s.state_ref = tt.state_ref
      WHERE p.polarity = 'not_affected' AND s.evr = '0'
    ), fixes AS (
      SELECT def_id,
             array_to_string(list_sort(list_distinct(list(pkg || ':' || evr))),
                             '|') AS fixed_in
      FROM (SELECT * FROM aff UNION ALL SELECT * FROM na) GROUP BY def_id
    )
    SELECT c.name, c.def_id, c.version AS def_version,
           CASE c.severity WHEN 'important' THEN 'High'
                           WHEN 'moderate' THEN 'Medium'
                           WHEN 'critical' THEN 'Critical'
                           ELSE 'Unknown' END AS severity,
           COALESCE(f.fixed_in, '') AS fixed_in
    FROM canon c LEFT JOIN fixes f ON f.def_id = c.def_id
    """,
    doc="SLES OVAL DAG with not-affected semantics (sles/parser.py:40-58, "
        "377-420; pipelines/oval.py sles_pipeline): the not_affected "
        "polarity resolves through the same test/object/state chain but "
        "emits Version-'0' FixedIn entries, gated on the state's evr "
        "actually being '0' (the reference's defensive skip), deduped "
        "only AMONG the not-affected entries — the reference's "
        "dedup-against-affected never fires ((Name, None) vs (Name, ''), "
        "parser.py:381-409), so a package both fixed and not-affected "
        "emits both entries, which this gate now exercises; feed "
        "severities normalize through PARSER_CONFIG.severity_map.  "
        "Inputs synthesized from orders/lineitem/part; the oracle "
        "restates every stage",
    tags=("pipeline", "join", "window", "agg"),
)
def sles1(spark, sf_dir):
    from vunnel_spark.pipelines.oval import sles_pipeline

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    pt = t(spark, sf_dir, "part")
    defs = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.concat(F.lit("oval:def:"), F.col("o_orderkey").cast("string")).alias("def_id"),
        F.concat(F.lit("SUSE-SU-"), (F.col("o_orderkey") % 500).cast("string")).alias("name"),
        (F.col("o_orderkey") % 7).alias("version"),
        F.when(F.col("o_orderstatus") == "F", F.lit("important"))
        .when(F.col("o_orderstatus") == "O", F.lit("moderate"))
        .otherwise(F.lit("critical"))
        .alias("severity"),
    )
    pairs = li.filter(F.col("l_orderkey") % 3 == 0).select(
        F.concat(F.lit("oval:def:"), F.col("l_orderkey").cast("string")).alias("def_id"),
        F.lit(None).cast("string").alias("ns_test"),
        F.concat(F.lit("tst:"), (F.col("l_partkey") % 200).cast("string")).alias("pkg_test"),
        F.when(F.col("l_linenumber") % 4 == 0, F.lit("not_affected"))
        .otherwise(F.lit("affirm"))
        .alias("polarity"),
    )
    k = F.col("p_partkey") % 200
    tests = pt.select(
        F.concat(F.lit("tst:"), k.cast("string")).alias("test_id"),
        F.concat(F.lit("obj:"), (k % 120).cast("string")).alias("object_ref"),
        F.concat(F.lit("ste:"), (k % 90).cast("string")).alias("state_ref"),
    ).distinct()
    j = F.col("p_partkey") % 120
    objects = pt.select(
        F.concat(F.lit("obj:"), j.cast("string")).alias("object_ref"),
        F.concat(F.lit("pkg"), (j % 60).cast("string")).alias("pkg"),
    ).distinct()
    m = F.col("p_partkey") % 90
    states = pt.select(
        F.concat(F.lit("ste:"), m.cast("string")).alias("state_ref"),
        F.when(m % 11 == 0, F.lit("0"))
        .otherwise(
            F.concat(F.lit("0:1."), m.cast("string"), F.lit("-"), (m % 4).cast("string"))
        )
        .alias("evr"),
        F.lit(None).cast("string").alias("release"),
    ).distinct()
    return sles_pipeline(defs, pairs, tests, objects, states)


@register(
    "sles2_release_resolver",
    """
    SELECT 'CVE-' || CAST(o_orderkey AS VARCHAR) AS vuln_id,
           '15.' || CAST(o_orderkey % 4 AS VARCHAR) AS version,
           CASE o_orderkey % 6
                WHEN 1 THEN 'pay-weird-release'
                WHEN 3 THEN 'pay-sles-ltss-release'
                ELSE 'pay-sles-release' END AS payload
    FROM orders WHERE o_orderkey % 6 <> 4
    """,
    doc="SLES per-version release-name resolution (sles/parser.py:"
        "197-246 _release_resolver; pipelines/sles.py): one feed object "
        "per version — a lone release wins whatever its name, "
        "'sles-release' beats 'sles-ltss-release' beats nothing, and a "
        "multi-release version with only unrecognized names is skipped "
        "whole.  Synthesis covers all six group shapes (lone "
        "recognized, lone unrecognized, both recognized, ltss+junk, "
        "all-junk dropped, sles+junk); the payload column proves WHICH "
        "release's object won, not just that one did.  One aggregation "
        "on the (vuln, version) namespace key — no window, no explode "
        "survives the agg",
    tags=("pipeline", "agg", "window"),
)
def sles2(spark, sf_dir):
    from vunnel_spark.pipelines.sles import release_resolver

    o = t(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    g = okey % 6
    arr = lambda *xs: F.array(*[F.lit(x) for x in xs])  # noqa: E731
    rels = (
        F.when(g == 0, arr("sles-release"))
        .when(g == 1, arr("weird-release"))
        .when(g == 2, arr("sles-release", "sles-ltss-release"))
        .when(g == 3, arr("sles-ltss-release", "foo-release"))
        .when(g == 4, arr("foo-release", "bar-release"))
        .otherwise(arr("sles-release", "foo-release"))
    )
    rows = o.select(
        F.concat(F.lit("CVE-"), okey.cast("string")).alias("vuln_id"),
        F.concat(F.lit("15."), (okey % 4).cast("string")).alias("version"),
        F.explode(rels).alias("release"),
    ).withColumn("payload", F.concat(F.lit("pay-"), F.col("release")))
    return release_resolver(rows)


@register(
    "ghsa1_per_ecosystem_dag",
    """
    WITH advisories AS (
      SELECT 'GHSA-' || CAST(o_orderkey AS VARCHAR) AS ghsa_id,
             CASE o_orderstatus
               WHEN 'F' THEN 'CRITICAL'
               WHEN 'O' THEN 'MODERATE'
               ELSE CASE WHEN o_orderkey % 5 = 0 THEN 'BOGUS' ELSE 'LOW' END
             END AS severity,
             CASE WHEN o_orderkey % 4 = 0
                  THEN ['GHSA-' || CAST(o_orderkey AS VARCHAR),
                        'CVE-2024-' || CAST(o_orderkey % 300 AS VARCHAR),
                        'CVE-2023-' || CAST(o_orderkey % 100 AS VARCHAR)]
                  ELSE ['GHSA-' || CAST(o_orderkey AS VARCHAR),
                        'CVE-2024-' || CAST(o_orderkey % 300 AS VARCHAR)]
             END AS identifiers,
             CASE WHEN o_orderkey % 10 = 0 THEN '2024-01-01' END AS withdrawn
      FROM orders WHERE o_orderkey % 2 = 0
    ), vuln_nodes AS (
      SELECT 'GHSA-' || CAST(l_orderkey AS VARCHAR) AS ghsa_id,
             list_extract(
               ['COMPOSER','ERLANG','GO','MAVEN','NPM','NUGET','PIP','PUB',
                'RUBYGEMS','RUST','SWIFT','ACTIONS','DEB','RPM','OTHER'],
               CAST(l_suppkey % 15 + 1 AS INT)) AS github_ecosystem,
             CASE WHEN l_partkey % 9 = 0
                  THEN 'pkg_' || CAST(l_partkey % 50 AS VARCHAR)
                  ELSE 'pkg' || CAST(l_partkey % 50 AS VARCHAR) END AS pkg,
             CASE WHEN l_linenumber % 5 = 0 THEN NULL
                  ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.'
                       || CAST(l_linenumber AS VARCHAR) END AS first_patched,
             '>= 1.0, < ' || CAST(CAST(l_quantity AS INT) AS VARCHAR) AS vrange
      FROM lineitem WHERE l_orderkey % 2 = 0
    ), eco_map(github_ecosystem, ecosystem, store_eco) AS (
      -- third column: the FINDER-normalized store key space
      -- (tool/fixdate/finder.py:12-29 over the mapped ecosystem)
      VALUES ('COMPOSER','composer','php-composer'),
             ('ERLANG','erlang','erlang'), ('GO','go','go-module'),
             ('MAVEN','java','java-archive'), ('NPM','npm','npm'),
             ('NUGET','nuget','dotnet'), ('PIP','python','python'),
             ('PUB','dart','dart-pub'), ('RUBYGEMS','gem','gem'),
             ('RUST','rust','rust-crate'), ('SWIFT','swift','swift'),
             ('ACTIONS','github-action','github-action')
    ), fdsrc AS (
      -- first-observed store dim: ~1/3 subset of node keys
      SELECT 'GHSA-' || CAST(l_orderkey AS VARCHAR) AS ghsa_id,
             list_extract(
               ['COMPOSER','ERLANG','GO','MAVEN','NPM','NUGET','PIP','PUB',
                'RUBYGEMS','RUST','SWIFT','ACTIONS','DEB','RPM','OTHER'],
               CAST(l_suppkey % 15 + 1 AS INT)) AS github_ecosystem,
             CASE WHEN l_partkey % 9 = 0
                  THEN 'pkg_' || CAST(l_partkey % 50 AS VARCHAR)
                  ELSE 'pkg' || CAST(l_partkey % 50 AS VARCHAR) END AS pkg,
             CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.'
               || CAST(l_linenumber AS VARCHAR) AS fix_version,
             DATE '2020-01-01' + CAST(l_partkey % 900 AS INT) AS d,
             CASE WHEN l_partkey % 4 = 0 THEN 'grype-db' ELSE 'observed' END AS kind
      FROM lineitem
      WHERE l_orderkey % 2 = 0 AND (l_orderkey + l_partkey) % 3 = 0
    ), fixdim AS (
      -- store keys are written NORMALIZED (normalize_package_name +
      -- finder-normalized ecosystem)
      SELECT f.ghsa_id,
             CASE WHEN m.store_eco IN ('pypi', 'python')
                  THEN replace(replace(trim(f.pkg), '_', '-'), '.', '-')
                  ELSE trim(f.pkg) END AS pkg,
             m.store_eco AS ecosystem, f.fix_version,
             min(f.d) AS d, min(f.kind) AS kind
      FROM fdsrc f JOIN eco_map m USING (github_ecosystem)
      GROUP BY 1, 2, 3, 4
    ), mapped AS (
      -- fixdater.best on each record (parser.py:745-756): store-only
      -- finder, falsy/'None'/'0' fix versions skip the lookup entirely;
      -- PROBE keys normalize exactly like the store writes
      SELECT v.ghsa_id, m.ecosystem,
             v.pkg || ':' || COALESCE(v.first_patched, 'None') || ':'
               || replace(v.vrange, ',', '')
               || COALESCE(':' || CAST(f.d AS VARCHAR) || ':' || f.kind, '')
               AS fix
      FROM vuln_nodes v
      JOIN eco_map m USING (github_ecosystem)
      LEFT JOIN fixdim f
        ON v.first_patched IS NOT NULL
       AND v.first_patched NOT IN ('', 'None', '0')
       AND f.ghsa_id = v.ghsa_id
       AND f.pkg = CASE WHEN m.store_eco IN ('pypi', 'python')
                        THEN replace(replace(trim(v.pkg), '_', '-'), '.', '-')
                        ELSE trim(v.pkg) END
       AND f.ecosystem = m.store_eco AND f.fix_version = v.first_patched
    ), per_eco AS (
      SELECT ghsa_id, ecosystem,
             array_to_string(list_sort(list(fix)), '|') AS fixed_in,
             count(*) AS n_fixes
      FROM mapped GROUP BY ghsa_id, ecosystem
    ), envb AS (
      -- cvssSeverities envelope (parser.py:604-693), class selectors on
      -- kk = o_orderkey // 2 (advisories are even keys)
      SELECT 'GHSA-' || CAST(o_orderkey AS VARCHAR) AS ghsa_id,
             o_orderkey // 2 AS kk, o_custkey AS ck
      FROM orders WHERE o_orderkey % 2 = 0
    ), envl AS (
      SELECT ghsa_id, kk, ck,
             CASE CAST(kk % 4 AS INT) WHEN 0 THEN 'N' WHEN 1 THEN 'A' WHEN 2 THEN 'L' ELSE 'P' END AS av,
             CASE CAST(kk % 2 AS INT) WHEN 0 THEN 'L' ELSE 'H' END AS ac,
             CASE CAST(kk % 3 AS INT) WHEN 0 THEN 'N' WHEN 1 THEN 'L' ELSE 'H' END AS pr,
             CASE CAST(kk % 2 AS INT) WHEN 0 THEN 'N' ELSE 'R' END AS ui,
             CASE WHEN kk % 5 < 3 THEN 'U' ELSE 'C' END AS sco,
             CASE CAST(kk % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS cc,
             CASE CAST(kk % 5 % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS ic,
             CASE CAST(kk % 7 % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS aa,
             CASE WHEN kk % 2 = 0 THEN '3.1' ELSE '3.0' END AS ver3,
             CASE WHEN kk % 3 < 2 THEN 'N' ELSE 'P' END AS at4,
             CASE CAST(kk % 3 AS INT) WHEN 0 THEN 'N' WHEN 1 THEN 'P' ELSE 'A' END AS ui4,
             CASE CAST((kk + 1) % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS sc4,
             CASE CAST((kk + 2) % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS si4,
             CASE CAST((kk + 1) % 5 % 3 AS INT) WHEN 0 THEN 'H' WHEN 1 THEN 'L' ELSE 'N' END AS sa4
      FROM envb
    ), envs AS (
      SELECT *,
             'AV:' || av || '/AC:' || ac || '/PR:' || pr || '/UI:' || ui
               || '/S:' || sco || '/C:' || cc || '/I:' || ic || '/A:' || aa AS core,
             (ck % 7 <> 0 AND CAST(kk % 8 AS INT) <= 4) AS v3ok,
             (ck % 3 <> 0 AND CAST(kk % 5 AS INT) <= 2) AS v4ok,
             CASE WHEN CAST(kk % 8 AS INT) = 4
                  THEN 'CVSS:' || ver3 || '/AV:' || av || '/AC:' || ac || '/PR:' || pr || '/UI:' || ui
                       || '/S:' || sco || '/C:' || cc || '/I:' || ic || '/A:' || aa || '/E:F/RL:W'
                  ELSE 'CVSS:' || ver3 || '/AV:' || av || '/AC:' || ac || '/PR:' || pr || '/UI:' || ui
                       || '/S:' || sco || '/C:' || cc || '/I:' || ic || '/A:' || aa END AS v3s,
             CASE WHEN CAST(kk % 5 AS INT) = 2
                  THEN 'CVSS:4.0/AV:' || av || '/AC:' || ac || '/AT:' || at4 || '/PR:' || pr
                       || '/UI:' || ui4 || '/VC:' || cc || '/VI:' || ic || '/VA:' || aa
                       || '/SC:' || sc4 || '/SI:' || si4 || '/SA:' || sa4 || '/U:Green'
                  ELSE 'CVSS:4.0/AV:' || av || '/AC:' || ac || '/AT:' || at4 || '/PR:' || pr
                       || '/UI:' || ui4 || '/VC:' || cc || '/VI:' || ic || '/VA:' || aa
                       || '/SC:' || sc4 || '/SI:' || si4 || '/SA:' || sa4 END AS v4s
      FROM envl
    ), envv AS (
      SELECT *, sco = 'C' AS chg,
             CASE av WHEN 'N' THEN 0.85 WHEN 'A' THEN 0.62 WHEN 'L' THEN 0.55 ELSE 0.2 END AS av_v,
             CASE ac WHEN 'L' THEN 0.77 ELSE 0.44 END AS ac_v,
             CASE pr WHEN 'N' THEN 0.85
                     WHEN 'L' THEN CASE WHEN sco = 'C' THEN 0.68 ELSE 0.62 END
                     ELSE CASE WHEN sco = 'C' THEN 0.5 ELSE 0.27 END END AS pr_v,
             CASE ui WHEN 'N' THEN 0.85 ELSE 0.62 END AS ui_v,
             CASE cc WHEN 'H' THEN 0.56 WHEN 'L' THEN 0.22 ELSE 0.0 END AS c_v,
             CASE ic WHEN 'H' THEN 0.56 WHEN 'L' THEN 0.22 ELSE 0.0 END AS i_v,
             CASE aa WHEN 'H' THEN 0.56 WHEN 'L' THEN 0.22 ELSE 0.0 END AS a_v
      FROM envs
    ), envi AS (
      SELECT *, CAST(1 - (1 - c_v) * (1 - i_v) * (1 - a_v) AS DOUBLE) AS iss FROM envv
    ), envp AS (
      SELECT *, iss - 0.02 AS x1, (iss - 0.02) * (iss - 0.02) AS x2 FROM envi
    ), envp2 AS (
      SELECT *, x2 * x2 AS x4, (x2 * x2) * (x2 * x2) AS x8 FROM envp
    ), envsc AS (
      SELECT *,
             CASE WHEN chg THEN 7.52 * (iss - 0.029) - 3.25 * ((((x8 * x4) * x2) * x1))
                  ELSE 6.42 * iss END AS impact,
             8.22 * av_v * ac_v * pr_v * ui_v AS expl
      FROM envp2
    ), envcb AS (
      SELECT *, CAST(round(least(CASE WHEN chg THEN 1.08 * (impact + expl)
                                 ELSE impact + expl END, 10.0) * 100000)
                     AS BIGINT) AS i5
      FROM envsc
    ), env AS (
      SELECT ghsa_id, v3ok, v4ok, ver3, v3s, v4s, expl, impact,
             CASE WHEN impact <= 0 THEN 0.0
                  WHEN i5 % 10000 = 0 THEN i5 / 100000.0
                  ELSE (i5 // 10000 + 1) / 10.0 END AS base
      FROM envcb
    )
    SELECT 'github:' || p.ecosystem || '/' || lower(p.ghsa_id) AS identifier,
           CASE a.severity WHEN 'LOW' THEN 'Low' WHEN 'MODERATE' THEN 'Medium'
                           WHEN 'HIGH' THEN 'High' WHEN 'CRITICAL' THEN 'Critical'
                           ELSE 'Unknown' END AS severity,
           array_to_string(list_sort(list_filter(a.identifiers,
             x -> NOT starts_with(x, 'GHSA-'))), '|') AS cves,
           p.fixed_in, p.n_fixes, a.withdrawn,
           CASE WHEN e.v3ok THEN e.ver3 END AS legacy_version,
           CASE WHEN e.v3ok THEN e.base END AS base_score,
           CASE WHEN e.v3ok THEN CAST(round(e.expl, 1) AS DOUBLE) END AS exploitability_score,
           CASE WHEN e.v3ok THEN CAST(round(e.impact, 1) AS DOUBLE) END AS impact_score,
           CASE WHEN e.v3ok THEN
             CASE WHEN e.base = 0.0 THEN 'None' WHEN e.base < 4.0 THEN 'Low'
                  WHEN e.base < 7.0 THEN 'Medium' WHEN e.base < 9.0 THEN 'High'
                  ELSE 'Critical' END END AS base_severity,
           concat_ws('|', CASE WHEN e.v3ok THEN e.ver3 END,
                          CASE WHEN e.v4ok THEN '4.0' END) AS entry_versions,
           concat_ws('|', CASE WHEN e.v3ok THEN e.v3s END,
                          CASE WHEN e.v4ok THEN e.v4s END) AS entry_vectors
    FROM per_eco p
    JOIN advisories a USING (ghsa_id)
    JOIN env e USING (ghsa_id)
    """,
    doc="GitHub Security Advisory DAG end-to-end (github/parser.py:42-55, "
        "576-602, 695-757; __init__.py:73-120; pipelines/github.py): "
        "ecosystem_map projection with unmapped-node drop, FixedIn records "
        "with 'None' fallback and comma-stripped ranges, per-(advisory, "
        "ecosystem) fan-out as groupBy (the reference's write loop), "
        "broadcast advisory-metadata join, UPPER->canonical severity map, "
        "non-GHSA identifier extraction as the CVE list.  Inputs "
        "synthesized from orders/lineitem; the oracle restates every stage",
    tags=("pipeline", "join", "agg"),
)
def ghsa1(spark, sf_dir):
    from vunnel_spark.pipelines.github import (
        cvss_severities_envelope,
        github_pipeline,
    )

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ghsa = F.concat(F.lit("GHSA-"), F.col("o_orderkey").cast("string"))
    cve1 = F.concat(F.lit("CVE-2024-"), (F.col("o_orderkey") % 300).cast("string"))
    cve2 = F.concat(F.lit("CVE-2023-"), (F.col("o_orderkey") % 100).cast("string"))

    # cvssSeverities vector synthesis (r13: the reference's parsed
    # advisory carries CVSS + cvss_severities, parser.py:604-693, and
    # __init__.py:94 repeats them on every per-ecosystem record).
    # Advisories are EVEN orderkeys, so class selectors key on
    # kk = o_orderkey div 2 to reach every class/minor combination.
    kk = F.expr("o_orderkey div 2")
    ck = F.col("o_custkey")
    av = (F.when(kk % 4 == 0, "N").when(kk % 4 == 1, "A")
          .when(kk % 4 == 2, "L").otherwise("P"))
    ac = F.when(kk % 2 == 0, "L").otherwise("H")
    pr = F.when(kk % 3 == 0, "N").when(kk % 3 == 1, "L").otherwise("H")
    ui = F.when(kk % 2 == 0, "N").otherwise("R")
    sco = F.when(kk % 5 < 3, "U").otherwise("C")
    cc = F.when(kk % 3 == 0, "H").when(kk % 3 == 1, "L").otherwise("N")
    ic = F.when(kk % 5 % 3 == 0, "H").when(kk % 5 % 3 == 1, "L").otherwise("N")
    aa = F.when(kk % 7 % 3 == 0, "H").when(kk % 7 % 3 == 1, "L").otherwise("N")
    ver3 = F.when(kk % 2 == 0, "3.1").otherwise("3.0")
    core7 = F.concat(
        F.lit("AV:"), av, F.lit("/AC:"), ac, F.lit("/PR:"), pr,
        F.lit("/UI:"), ui, F.lit("/S:"), sco, F.lit("/C:"), cc,
        F.lit("/I:"), ic,
    )
    core = F.concat(core7, F.lit("/A:"), aa)
    pfx = F.concat(F.lit("CVSS:"), ver3, F.lit("/"))
    kls = (kk % 8).cast("int")
    v3_raw = F.when(ck % 7 == 0, F.lit(None).cast("string")).otherwise(
        F.when(kls <= 2, F.concat(pfx, core))
        .when(kls == 3, F.concat(pfx, core, F.lit("/")))
        .when(kls == 4, F.concat(pfx, core, F.lit("/E:F/RL:W")))
        .when(kls == 5, F.concat(F.lit("CVSS:2.0/"), core))
        .when(kls == 6, F.concat(pfx, core7))
        .otherwise(F.concat(pfx, core, F.lit("/XX:N")))
    )
    sfx10 = F.concat(
        F.lit("/AC:"), ac, F.lit("/AT:"),
        F.when(kk % 3 < 2, "N").otherwise("P"),
        F.lit("/PR:"), pr, F.lit("/UI:"),
        F.when(kk % 3 == 0, "N").when(kk % 3 == 1, "P").otherwise("A"),
        F.lit("/VC:"), cc, F.lit("/VI:"), ic, F.lit("/VA:"), aa,
        F.lit("/SC:"),
        F.when((kk + 1) % 3 == 0, "H").when((kk + 1) % 3 == 1, "L").otherwise("N"),
        F.lit("/SI:"),
        F.when((kk + 2) % 3 == 0, "H").when((kk + 2) % 3 == 1, "L").otherwise("N"),
    )
    sa4 = (F.when((kk + 1) % 5 % 3 == 0, "H").when((kk + 1) % 5 % 3 == 1, "L")
           .otherwise("N"))
    jls = (kk % 5).cast("int")
    v4_raw = F.when(ck % 3 == 0, F.lit(None).cast("string")).otherwise(
        F.when(jls <= 1, F.concat(F.lit("CVSS:4.0/AV:"), av, sfx10,
                                  F.lit("/SA:"), sa4))
        .when(jls == 2, F.concat(F.lit("CVSS:4.0/AV:"), av, sfx10,
                                 F.lit("/SA:"), sa4, F.lit("/U:Green/")))
        .when(jls == 3, F.concat(F.lit("CVSS:4.0/AV:Q"), sfx10,
                                 F.lit("/SA:"), sa4))
        .otherwise(F.concat(F.lit("CVSS:4.0/AV:"), av, sfx10))
    )
    advisories = cvss_severities_envelope(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            ghsa.alias("ghsa_id"),
            F.when(F.col("o_orderstatus") == "F", F.lit("CRITICAL"))
            .when(F.col("o_orderstatus") == "O", F.lit("MODERATE"))
            .otherwise(
                F.when(F.col("o_orderkey") % 5 == 0, F.lit("BOGUS")).otherwise(F.lit("LOW"))
            )
            .alias("severity"),
            F.when(F.col("o_orderkey") % 4 == 0, F.array(ghsa, cve1, cve2))
            .otherwise(F.array(ghsa, cve1))
            .alias("identifiers"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("2024-01-01")).alias("withdrawn"),
            v3_raw.alias("cvss_v3_vector"),
            v4_raw.alias("cvss_v4_vector"),
        )
    ).drop("cvss_v3_vector", "cvss_v4_vector")
    ecos = ["COMPOSER", "ERLANG", "GO", "MAVEN", "NPM", "NUGET", "PIP", "PUB",
            "RUBYGEMS", "RUST", "SWIFT", "ACTIONS", "DEB", "RPM", "OTHER"]
    # pkg token: an underscore class (partkey%9=0) exercises the store's
    # PEP-503 package normalization for python-family ecosystems
    pkg_tok = F.when(
        F.col("l_partkey") % 9 == 0,
        F.concat(F.lit("pkg_"), (F.col("l_partkey") % 50).cast("string")),
    ).otherwise(F.concat(F.lit("pkg"), (F.col("l_partkey") % 50).cast("string")))
    vuln_nodes = li.filter(F.col("l_orderkey") % 2 == 0).select(
        F.concat(F.lit("GHSA-"), F.col("l_orderkey").cast("string")).alias("ghsa_id"),
        F.element_at(
            F.array(*[F.lit(e) for e in ecos]),
            (F.col("l_suppkey") % 15 + 1).cast("int"),
        ).alias("github_ecosystem"),
        pkg_tok.alias("pkg"),
        F.when(
            F.col("l_linenumber") % 5 != 0,
            F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber")),
        ).alias("first_patched"),
        F.concat(F.lit(">= 1.0, < "), F.col("l_quantity").cast("int").cast("string")).alias("vrange"),
    )
    # first-observed store dim (r13: _fixedin's fixdater.best lookup,
    # parser.py:745-756 — store-only for github, so best() is a guarded
    # dim hit).  A ~1/3 subset of node keys so hits AND misses occur;
    # the ln%5 null first_patched rows exercise the falsy-version guard.
    from vunnel_spark.functions.fixdate import (
        normalize_fixdate_ecosystem,
        normalize_fixdate_package,
    )
    from vunnel_spark.pipelines.github import ECOSYSTEM_MAP

    eco_m = F.create_map(*[F.lit(x) for kv in ECOSYSTEM_MAP.items() for x in kv])
    # the dim is a REFERENCE-BUILT store: keys are written through the
    # finder-normalized ecosystem ('java' -> 'java-archive', ...) and
    # normalize_package_name ('pkg_7' -> 'pkg-7' for python)
    _mapped_eco = eco_m[
        F.element_at(
            F.array(*[F.lit(e) for e in ecos]),
            (F.col("l_suppkey") % 15 + 1).cast("int"),
        )
    ]
    _store_eco = normalize_fixdate_ecosystem(_mapped_eco)
    # The unmapped-ecosystem drop tests the RAW map probe, not the
    # normalized column: normalize_fixdate_ecosystem is null-preserving
    # and never maps a non-null input to NULL (identity fallback), so
    # ``_store_eco IS NOT NULL`` <=> ``_mapped_eco IS NOT NULL`` — and
    # the cheap form keeps Catalyst from pasting the whole normalize
    # tree into the pushed-down filter a second time (r15 metrics: the
    # dim's map-side pipeline was 3.5 s of the 9.4 s query at sf0.1,
    # dominated by exactly that duplicated evaluation).
    fd_src = li.filter(
        (F.col("l_orderkey") % 2 == 0)
        & ((F.col("l_orderkey") + F.col("l_partkey")) % 3 == 0)
        & _mapped_eco.isNotNull()
    ).select(
        F.concat(F.lit("GHSA-"), F.col("l_orderkey").cast("string")).alias("ghsa_id"),
        normalize_fixdate_package(pkg_tok, _store_eco).alias("pkg"),
        _store_eco.alias("ecosystem"),
        F.concat_ws(
            ".", F.col("l_quantity").cast("int"), F.col("l_linenumber")
        ).alias("fix_version"),
        F.date_add(
            F.to_date(F.lit("2020-01-01")), (F.col("l_partkey") % 900).cast("int")
        ).alias("date"),
        F.when(F.col("l_partkey") % 4 == 0, "grype-db")
        .otherwise("observed")
        .alias("kind"),
    )
    fixdates = fd_src.groupBy("ghsa_id", "pkg", "ecosystem", "fix_version").agg(
        F.min("date").alias("date"), F.min("kind").alias("kind")
    )
    out = github_pipeline(advisories, vuln_nodes, fixdates)
    return out.select(
        "identifier", "severity", "cves", "fixed_in", "n_fixes", "withdrawn",
        F.col("legacy_cvss.version").alias("legacy_version"),
        F.col("legacy_cvss.base_metrics.base_score").alias("base_score"),
        F.col("legacy_cvss.base_metrics.exploitability_score").alias(
            "exploitability_score"
        ),
        F.col("legacy_cvss.base_metrics.impact_score").alias("impact_score"),
        F.col("legacy_cvss.base_metrics.base_severity").alias("base_severity"),
        F.concat_ws("|", F.col("cvss_v3.version"), F.col("cvss_v4.version")).alias(
            "entry_versions"
        ),
        F.concat_ws("|", F.col("cvss_v3.vector"), F.col("cvss_v4.vector")).alias(
            "entry_vectors"
        ),
    )


@register(
    "ubuntu2_osv_downconvert",
    r"""
    WITH sl AS (
      SELECT l_orderkey % 400 AS rec,
             CASE l_suppkey % 6
               WHEN 0 THEN 'Ubuntu:22.04:LTS'
               WHEN 1 THEN 'Ubuntu:24.04'
               WHEN 2 THEN 'Ubuntu:Pro:22.04:LTS'
               WHEN 3 THEN 'Ubuntu:Pro:16.04'
               WHEN 4 THEN 'Ubuntu:Pro:FIPS:22.04:LTS'
               ELSE 'Ubuntu:Nvidia-BlueField:22.04' END AS eco,
             l_partkey % 50 AS pkgnum,
             ((l_orderkey % 400) * 7 + l_partkey % 50) % 3 AS st,
             l_quantity, l_linenumber
      FROM lineitem
    ),
    s2 AS (
      SELECT rec, eco, st,
             CASE WHEN (rec + pkgnum) % 23 = 0 THEN NULL
                  ELSE 'pkg' || CAST(pkgnum AS VARCHAR) END AS pkg,
             CASE WHEN st = 0 THEN CAST(CAST(l_quantity AS INT) AS VARCHAR)
                       || '.' || CAST(l_linenumber AS VARCHAR) END AS fv,
             CASE WHEN st = 0 AND l_linenumber % 2 = 1
                  THEN '2024-0' || CAST(l_linenumber AS VARCHAR) || '-15' END AS fdate
      FROM sl
    ),
    eco_ns AS (
      SELECT DISTINCT eco,
             CASE WHEN regexp_extract(eco, '^Ubuntu:(\d+\.\d+)(:LTS)?$', 1) <> ''
                  THEN 'ubuntu:' || regexp_extract(eco, '^Ubuntu:(\d+\.\d+)(:LTS)?$', 1)
                  WHEN regexp_extract(eco, '^Ubuntu:Pro:(\d+\.\d+)(:LTS)?$', 1) <> ''
                  THEN 'ubuntu:' || regexp_extract(eco, '^Ubuntu:Pro:(\d+\.\d+)(:LTS)?$', 1) || '+esm'
             END AS ns
      FROM sl
    ),
    v AS (
      SELECT r.rec, r.eco, e.ns,
             'CVE-2024-' || CAST(r.rec AS VARCHAR) AS vuln_name,
             CASE r.rec % 8 WHEN 0 THEN 'Negligible' WHEN 1 THEN 'Low'
                  WHEN 2 THEN 'Medium' WHEN 3 THEN 'High'
                  WHEN 4 THEN 'Critical' ELSE 'Unknown' END AS severity
      FROM (SELECT DISTINCT rec, eco FROM sl
            WHERE rec % 17 <> 0 AND rec % 19 <> 0) r
      JOIN eco_ns e ON r.eco = e.eco
      WHERE e.ns IS NOT NULL
    ),
    fixed_rows AS (
      SELECT v.ns, v.vuln_name, v.severity, s.pkg, s.fv, s.fdate
      FROM v JOIN s2 s ON v.rec = s.rec AND v.eco = s.eco
      WHERE s.st = 0 AND s.pkg IS NOT NULL
    ),
    none_rows AS (
      SELECT DISTINCT v.ns, v.vuln_name, v.severity, s.pkg, s.st
      FROM v JOIN s2 s ON v.rec = s.rec AND v.eco = s.eco
      WHERE s.st <> 0 AND s.pkg IS NOT NULL AND v.ns NOT LIKE '%+esm'
    ),
    empty_recs AS (
      SELECT DISTINCT v.ns, v.vuln_name, v.severity
      FROM v
      WHERE v.ns NOT LIKE '%+esm'
        AND NOT EXISTS (SELECT 1 FROM fixed_rows f
                        WHERE f.ns = v.ns AND f.vuln_name = v.vuln_name)
        AND NOT EXISTS (SELECT 1 FROM none_rows n
                        WHERE n.ns = v.ns AND n.vuln_name = v.vuln_name)
    )
    SELECT ns || '/' || lower(vuln_name) AS identifier, vuln_name,
           ns AS namespace, severity,
           'https://ubuntu.com/security/' || vuln_name AS link,
           pkg AS fixed_name, 'dpkg' AS version_format, fv AS version,
           FALSE AS no_advisory, fdate AS available_date,
           CASE WHEN fdate IS NOT NULL THEN 'advisory' END AS available_kind
    FROM fixed_rows
    UNION ALL
    SELECT ns || '/' || lower(vuln_name), vuln_name, ns, severity,
           'https://ubuntu.com/security/' || vuln_name,
           pkg, 'dpkg', 'None', st = 1,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM none_rows
    UNION ALL
    SELECT ns || '/' || lower(vuln_name), vuln_name, ns, severity,
           'https://ubuntu.com/security/' || vuln_name,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM empty_recs
    """,
    doc="OSV->OS downconvert end-to-end (ubuntu/os_downconvert.py:1-266): "
        "synthesizes per-ecosystem OSV envelopes (base/Pro/FIPS/"
        "Nvidia-BlueField, LTS and non-LTS, withdrawn, missing-CVE, every "
        "severity variant, fixed/wont-fix/no-fix entries, fix-date lookup "
        "hits and misses, null package names) as genuinely NESTED "
        "affected[]/ranges[]/events[] frames, then runs the pure-Catalyst "
        "pipelines/ubuntu.py osv_to_os: ESM channel mapping "
        "(Ubuntu:Pro:X.YY -> ubuntu:X.YY+esm), +esm no-fix suppression, "
        "wont-fix NoAdvisory encoding, Available date/kind deref.  The "
        "oracle derives the same result RELATIONALLY from the flat rows — "
        "two independent formulations of the reference semantics",
    tags=("pipeline", "explode"),
)
def ubuntu2(spark, sf_dir):
    from vunnel_spark.pipelines.ubuntu import osv_to_os

    li = t(spark, sf_dir, "lineitem")
    rec = F.col("l_orderkey") % 400
    pkgnum = F.col("l_partkey") % 50
    st = (rec * 7 + pkgnum) % 3
    eco = (
        F.when(F.col("l_suppkey") % 6 == 0, F.lit("Ubuntu:22.04:LTS"))
        .when(F.col("l_suppkey") % 6 == 1, F.lit("Ubuntu:24.04"))
        .when(F.col("l_suppkey") % 6 == 2, F.lit("Ubuntu:Pro:22.04:LTS"))
        .when(F.col("l_suppkey") % 6 == 3, F.lit("Ubuntu:Pro:16.04"))
        .when(F.col("l_suppkey") % 6 == 4, F.lit("Ubuntu:Pro:FIPS:22.04:LTS"))
        .otherwise(F.lit("Ubuntu:Nvidia-BlueField:22.04"))
    )
    pkg = F.when((rec + pkgnum) % 23 != 0, F.concat(F.lit("pkg"), pkgnum.cast("string")))
    fv = F.when(
        st == 0,
        F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber")),
    )
    fdate = F.when(
        (st == 0) & (F.col("l_linenumber") % 2 == 1),
        F.concat(F.lit("2024-0"), F.col("l_linenumber").cast("string"), F.lit("-15")),
    )
    sl = li.select(
        rec.alias("rec"), eco.alias("eco"), pkg.alias("pkg"),
        F.when(st == 1, F.lit("wont-fix")).alias("status"),
        # one OSV range per source row; empty-filter gives typed empty arrays
        F.struct(
            F.filter(
                F.array(F.struct(fv.alias("fixed"))),
                lambda e: e["fixed"].isNotNull(),
            ).alias("events"),
            F.filter(
                F.array(F.struct(fv.alias("version"), fdate.alias("date"),
                                 F.lit("advisory").alias("kind"))),
                lambda x: x["date"].isNotNull(),
            ).alias("fixes"),
        ).alias("rng"),
    )
    entries = sl.groupBy("rec", "eco", "pkg").agg(
        F.collect_list("rng").alias("ranges"), F.max("status").alias("status")
    )
    sev_score = (
        F.when(F.col("rec") % 8 == 0, F.lit("negligible"))
        .when(F.col("rec") % 8 == 1, F.lit("low"))
        .when(F.col("rec") % 8 == 2, F.lit("medium"))
        .when(F.col("rec") % 8 == 3, F.lit("high"))
        .when(F.col("rec") % 8 == 4, F.lit("critical"))
        .otherwise(F.lit("untriaged"))
    )
    cve = F.concat(F.lit("CVE-2024-"), F.col("rec").cast("string"))
    osv = entries.groupBy("rec", "eco").agg(
        F.collect_list(
            F.struct(
                F.struct(F.col("eco").alias("ecosystem"), F.col("pkg").alias("name"))
                .alias("package"),
                F.col("ranges"),
                F.col("status"),
            )
        ).alias("affected")
    ).select(
        F.concat_ws("/", F.lit("UBUNTU-CVE"), "rec", "eco").alias("record_id"),
        F.when(F.col("rec") % 17 == 0, F.lit("2024-01-01")).alias("withdrawn"),
        F.when(F.col("rec") % 19 == 0, F.array().cast("array<string>"))
        .otherwise(F.array(cve)).alias("upstream"),
        F.when(
            F.col("rec") % 8 == 7,
            F.array(F.struct(F.lit("CVSS_V3").alias("type"), F.lit("9.8").alias("score"))),
        )
        .when(
            F.col("rec") % 8 == 6,
            F.array(F.struct(F.lit("Ubuntu").alias("type"), F.lit("").alias("score"))),
        )
        .otherwise(F.array(F.struct(F.lit("Ubuntu").alias("type"), sev_score.alias("score"))))
        .alias("severity"),
        "affected",
    )
    return osv_to_os(osv)


@register(
    "arch1_avg_assembly_dag",
    """
    WITH rec AS (
      SELECT o_orderkey AS okey,
             'AVG-' || CAST(o_orderkey AS VARCHAR) AS group_id,
             o_custkey % 40 AS pbase,
             CASE WHEN o_orderkey % 4 = 0 THEN ''
                  ELSE CAST(o_orderkey % 9 AS VARCHAR) || '.' ||
                       CAST(o_orderkey % 5 AS VARCHAR) || '-1' END AS fixed,
             CASE o_orderkey % 6 WHEN 0 THEN 'Critical' WHEN 1 THEN 'High'
                  WHEN 2 THEN 'Medium' WHEN 3 THEN 'Low'
                  WHEN 4 THEN 'Bogus' ELSE '' END AS rawsev,
             CASE WHEN o_orderkey % 5 = 0 THEN ''
                  ELSE 'arbitrary code execution' END AS vtype
      FROM orders WHERE o_orderkey % 11 <> 0
    ), adv AS (
      SELECT group_id, okey % 50 AS i FROM rec WHERE okey % 3 = 0
      UNION ALL
      SELECT group_id, okey % 50 + 50 FROM rec WHERE okey % 3 = 0
      UNION ALL
      SELECT group_id, okey % 50 FROM rec WHERE okey % 3 <> 0 AND okey % 5 = 0
    ), asa AS (
      SELECT range AS i,
             CASE WHEN range % 2 = 0 THEN
               '2024-' || lpad(CAST(range % 12 + 1 AS VARCHAR), 2, '0') ||
               '-' || lpad(CAST(range % 28 + 1 AS VARCHAR), 2, '0') END AS dt
      FROM range(100)
    ), best AS (
      SELECT a.group_id, min(s.dt) AS asa_date
      FROM adv a JOIN asa s ON s.i = a.i AND s.dt IS NOT NULL
      GROUP BY a.group_id
    ), pkgs AS (
      SELECT group_id, 'pkg' || CAST(pbase AS VARCHAR) AS name FROM rec
      UNION ALL
      SELECT group_id, 'pkg' || CAST(pbase + 100 AS VARCHAR)
      FROM rec WHERE okey % 3 = 0
    )
    SELECT lower(r.group_id) AS record_id, p.name,
           'arch:rolling' AS namespace, 'pacman' AS version_format,
           CASE WHEN r.fixed <> '' THEN r.fixed ELSE 'None' END AS version,
           CASE WHEN r.rawsev IN ('Critical','High','Medium','Low')
                THEN r.rawsev ELSE 'Unknown' END AS severity,
           CASE WHEN r.vtype <> '' THEN r.vtype
                ELSE 'Arch vulnerability ' || r.group_id END AS description,
           'https://security.archlinux.org/' || r.group_id AS link,
           CASE WHEN r.okey % 2 = 0 THEN 'CVE-2024-' || CAST(r.okey AS VARCHAR)
                ELSE r.group_id END AS fix_lookup_id,
           CASE WHEN r.fixed <> '' THEN b.asa_date END AS available_date,
           CAST(CASE WHEN r.okey % 2 = 0 THEN 2 ELSE 0 END AS INT) AS n_cves
    FROM rec r
    JOIN pkgs p ON p.group_id = r.group_id
    LEFT JOIN best b ON b.group_id = r.group_id
    """,
    doc="Arch AVG-record assembly end-to-end (arch/parser.py:248-302 "
        "parse, 168-226 _build_fixed_in_entries, 131-135 "
        "_get_best_asa_date; pipelines/arch.py): 'Not affected' records "
        "drop, severity normalizes (identity on the four tiers else "
        "Unknown), the earliest non-null ASA advisory date becomes the "
        "fix availability (fixed records only — the threaded HTTP date "
        "cache is a broadcast dimension here), packages explode to one "
        "pacman FixedIn each with Version='None' when unfixed, empty "
        "package names are skipped, the description falls back to the "
        "AVG id, and the record key lowercases.  Synthesized records "
        "include empty-string packages, bogus/empty severities, missing "
        "CVE lists, and advisories whose date fetch failed — every "
        "branch of the reference parse.  Scale: the only wide ops are "
        "the thin (group_id, date) min-agg and the group_id equi-joins; "
        "the ASA dimension is broadcast-sized by domain",
    tags=("pipeline", "join", "explode"),
)
def arch1(spark, sf_dir):
    from vunnel_spark.pipelines.arch import arch_pipeline

    o = t(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    p1 = F.concat(F.lit("pkg"), (F.col("o_custkey") % 40).cast("string"))
    p2 = F.concat(F.lit("pkg"), (F.col("o_custkey") % 40 + 100).cast("string"))
    empty_arr = F.array().cast("array<string>")
    records = o.select(
        F.concat(F.lit("AVG-"), okey.cast("string")).alias("group_id"),
        F.when(okey % 11 == 0, F.lit("Not affected"))
        .when(okey % 7 == 0, F.lit("Vulnerable"))
        .otherwise(F.lit("Fixed"))
        .alias("status"),
        F.concat(
            F.array(p1),
            F.when(okey % 3 == 0, F.array(p2)).otherwise(empty_arr),
            F.when(okey % 13 == 0, F.array(F.lit(""))).otherwise(empty_arr),
        ).alias("packages"),
        F.when(
            okey % 4 == 0, F.lit("")
        ).otherwise(
            F.concat(
                (okey % 9).cast("string"), F.lit("."),
                (okey % 5).cast("string"), F.lit("-1"),
            )
        ).alias("fixed_version"),
        F.when(okey % 6 == 0, F.lit("Critical"))
        .when(okey % 6 == 1, F.lit("High"))
        .when(okey % 6 == 2, F.lit("Medium"))
        .when(okey % 6 == 3, F.lit("Low"))
        .when(okey % 6 == 4, F.lit("Bogus"))
        .otherwise(F.lit(""))
        .alias("severity"),
        F.when(okey % 5 == 0, F.lit("")).otherwise(
            F.lit("arbitrary code execution")
        ).alias("vuln_type"),
        F.when(
            okey % 2 == 0,
            F.array(
                F.concat(F.lit("CVE-2024-"), okey.cast("string")),
                F.concat(F.lit("CVE-2024-"), (okey + 1000000).cast("string")),
            ),
        ).otherwise(empty_arr).alias("issues"),
        F.when(
            okey % 3 == 0,
            F.array(
                F.concat(F.lit("ASA-"), (okey % 50).cast("string"), F.lit("-1")),
                F.concat(F.lit("ASA-"), (okey % 50 + 50).cast("string"), F.lit("-1")),
            ),
        )
        .when(
            okey % 5 == 0,
            F.array(
                F.concat(F.lit("ASA-"), (okey % 50).cast("string"), F.lit("-1"))
            ),
        )
        .otherwise(empty_arr)
        .alias("advisories"),
    )
    asa_dates = spark.range(100).select(
        F.concat(F.lit("ASA-"), F.col("id").cast("string"), F.lit("-1")).alias(
            "asa_id"
        ),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit("2024-"),
                F.lpad((F.col("id") % 12 + 1).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((F.col("id") % 28 + 1).cast("string"), 2, "0"),
            ),
        ).alias("date"),
    )
    return arch_pipeline(records, asa_dates)


@register(
    "hummingbird1_csaf_subset_dag",
    """
    WITH plat AS (
      SELECT 'plat' || CAST(n_nationkey AS VARCHAR) AS platform_id
      FROM nation WHERE n_nationkey % 3 = 0
    ), rels AS (
      SELECT DISTINCT
             'plat' || CAST(l_suppkey % 25 AS VARCHAR) || ':pkg' ||
               CAST(l_partkey % 80 AS VARCHAR) AS composite_id,
             'pkg' || CAST(l_partkey % 80 AS VARCHAR) AS package,
             'plat' || CAST(l_suppkey % 25 AS VARCHAR) AS relates_to
      FROM lineitem
    ), kept AS (
      SELECT r.composite_id, r.package, p.platform_id
      FROM rels r JOIN plat p ON r.relates_to = p.platform_id
    ), ps AS (
      SELECT DISTINCT
             'CVE-2025-' || CAST(l_orderkey % 400 AS VARCHAR) AS cve_id,
             CASE WHEN l_linenumber = 1
                  THEN 'plat' || CAST(l_suppkey % 25 AS VARCHAR)
                  ELSE 'plat' || CAST(l_suppkey % 25 AS VARCHAR) || ':pkg' ||
                       CAST(l_partkey % 80 AS VARCHAR) END AS product_id,
             CASE (l_orderkey + l_linenumber) % 4
                  WHEN 0 THEN 'fixed' WHEN 1 THEN 'known_affected'
                  WHEN 2 THEN 'known_not_affected'
                  ELSE 'under_investigation' END AS status
      FROM lineitem
    ), sc AS (
      SELECT 'CVE-2025-' || CAST(o_orderkey % 400 AS VARCHAR) AS cve_id,
             'plat' || CAST(o_custkey % 25 AS VARCHAR) AS product_id,
             min(CAST(o_orderkey % 100 AS DOUBLE) / 10.0) AS score
      FROM orders GROUP BY 1, 2
    ), rem AS (
      SELECT 'CVE-2025-' || CAST(o_orderkey % 400 AS VARCHAR) AS cve_id,
             'plat' || CAST(o_custkey % 25 AS VARCHAR) || ':pkg' ||
               CAST(o_orderkey % 80 AS VARCHAR) AS product_id,
             min(CASE WHEN o_orderkey % 2 = 0 THEN 'vendor_fix'
                      ELSE 'workaround' END) AS category
      FROM orders GROUP BY 1, 2
    ), status AS (
      SELECT s.cve_id, s.product_id, s.status,
             CAST(NULL AS VARCHAR) AS package, p.platform_id AS platform
      FROM ps s JOIN plat p ON s.product_id = p.platform_id
      UNION ALL
      SELECT s.cve_id, s.product_id, s.status, k.package, k.platform_id
      FROM ps s JOIN kept k ON s.product_id = k.composite_id
    ), surv_sc AS (
      SELECT x.cve_id, x.product_id, min(x.score) AS score FROM (
        SELECT s.cve_id, s.product_id, s.score
        FROM sc s JOIN plat p ON s.product_id = p.platform_id
        UNION ALL
        SELECT s.cve_id, s.product_id, s.score
        FROM sc s JOIN kept k ON s.product_id = k.composite_id
      ) x GROUP BY 1, 2
    ), surv_rem AS (
      SELECT x.cve_id, x.product_id, min(x.category) AS category FROM (
        SELECT r.cve_id, r.product_id, r.category
        FROM rem r JOIN plat p ON r.product_id = p.platform_id
        UNION ALL
        SELECT r.cve_id, r.product_id, r.category
        FROM rem r JOIN kept k ON r.product_id = k.composite_id
      ) x GROUP BY 1, 2
    )
    SELECT st.cve_id, st.product_id, st.status, st.package, st.platform,
           s.score, r.category
    FROM status st
    LEFT JOIN surv_sc s ON s.cve_id = st.cve_id AND s.product_id = st.product_id
    LEFT JOIN surv_rem r ON r.cve_id = st.cve_id AND r.product_id = st.product_id
    """,
    doc="Hummingbird CSAF-VEX corpus subsetting end-to-end "
        "(hummingbird/parser.py:86-138 _subset_document + 143-252 "
        "helpers; pipelines/hummingbird.py): platform ids CPE-match the "
        "hummingbird prefix, relationships keep only hummingbird "
        "platforms (their composite ids + package refs survive), and "
        "product_status / scores / remediations filter to the surviving "
        "id set — a CVE with no surviving status drops entirely.  The "
        "reference subsets one JSON document at a time with Python sets; "
        "here each set test is a join (platform side broadcast — the "
        "dimension is tiny by construction; composite side a plain "
        "equi-join on the kept-relationship frame), so ONE plan subsets "
        "the whole advisory corpus.  Second CSAF consumer after rhel — "
        "proves the family operators compose",
    tags=("pipeline", "join"),
)
def hummingbird1(spark, sf_dir):
    from vunnel_spark.pipelines.hummingbird import hummingbird_pipeline

    nat = t(spark, sf_dir, "nation")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    branches = nat.select(
        F.concat(F.lit("plat"), F.col("n_nationkey").cast("string")).alias(
            "product_id"
        ),
        F.when(
            F.col("n_nationkey") % 3 == 0,
            F.concat(
                F.lit("cpe:/a:redhat:hummingbird:"),
                F.col("n_nationkey").cast("string"),
            ),
        )
        .otherwise(
            F.concat(F.lit("cpe:/o:linux:other:"), F.col("n_nationkey").cast("string"))
        )
        .alias("cpe"),
    )
    plat_expr = F.concat(F.lit("plat"), (F.col("l_suppkey") % 25).cast("string"))
    pkg_expr = F.concat(F.lit("pkg"), (F.col("l_partkey") % 80).cast("string"))
    relationships = li.select(
        F.concat(plat_expr, F.lit(":"), pkg_expr).alias("composite_id"),
        pkg_expr.alias("product_reference"),
        plat_expr.alias("relates_to"),
    ).distinct()
    product_status = li.select(
        F.concat(F.lit("CVE-2025-"), (F.col("l_orderkey") % 400).cast("string")).alias(
            "cve_id"
        ),
        F.when(F.col("l_linenumber") == 1, plat_expr)
        .otherwise(F.concat(plat_expr, F.lit(":"), pkg_expr))
        .alias("product_id"),
        F.element_at(
            F.array(
                F.lit("fixed"), F.lit("known_affected"),
                F.lit("known_not_affected"), F.lit("under_investigation"),
            ),
            ((F.col("l_orderkey") + F.col("l_linenumber")) % 4 + 1).cast("int"),
        ).alias("status"),
    ).distinct()
    scores = o.groupBy(
        F.concat(F.lit("CVE-2025-"), (F.col("o_orderkey") % 400).cast("string")).alias(
            "cve_id"
        ),
        F.concat(F.lit("plat"), (F.col("o_custkey") % 25).cast("string")).alias(
            "product_id"
        ),
    ).agg(F.min((F.col("o_orderkey") % 100).cast("double") / 10.0).alias("score"))
    remediations = o.groupBy(
        F.concat(F.lit("CVE-2025-"), (F.col("o_orderkey") % 400).cast("string")).alias(
            "cve_id"
        ),
        F.concat(
            F.lit("plat"), (F.col("o_custkey") % 25).cast("string"),
            F.lit(":pkg"), (F.col("o_orderkey") % 80).cast("string"),
        ).alias("product_id"),
    ).agg(
        F.min(
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("vendor_fix")).otherwise(
                F.lit("workaround")
            )
        ).alias("category")
    )
    return hummingbird_pipeline(
        branches, relationships, product_status, scores, remediations
    )


@register(
    "mariner1_oval_graph_dag",
    """
    WITH defs AS (
      SELECT o_orderkey AS okey,
             CASE WHEN o_orderkey % 23 <> 0
                  THEN 'CVE-2025-' || CAST(o_orderkey AS VARCHAR) END AS ref_id,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE CASE o_orderkey % 5 WHEN 0 THEN 'Critical'
                       WHEN 1 THEN 'High' WHEN 2 THEN 'Medium'
                       WHEN 3 THEN 'Low' ELSE 'Negligible' END END AS severity,
             CASE WHEN o_orderkey % 17 = 0 THEN 'Not Applicable'
                  WHEN o_orderkey % 17 = 1 THEN NULL
                  ELSE 'true' END AS patchable,
             CASE WHEN o_orderkey % 7 <> 0
                  THEN 'mariner vulnerability ' || CAST(o_orderkey AS VARCHAR)
                  END AS description,
             CASE WHEN o_orderkey % 11 <> 0
                  THEN 'https://cve.example.org/CVE-2025-' ||
                       CAST(o_orderkey AS VARCHAR) END AS ref_url,
             CASE WHEN o_orderkey % 3 <> 0
                  THEN '2025-' ||
                       lpad(CAST(o_orderkey % 12 + 1 AS VARCHAR), 2, '0') ||
                       '-' ||
                       lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
                  END AS advisory_date
      FROM orders
    ), live AS (
      SELECT * FROM defs
      WHERE severity IS NOT NULL
        AND (patchable IS NULL OR patchable <> 'Not Applicable')
        AND ref_id IS NOT NULL
    ), crit AS (
      SELECT okey, 0 AS pos,
             'tst-' || CAST(okey % 500 AS VARCHAR) AS tref FROM live
      UNION ALL
      SELECT okey, 1, 'tst-' || CAST(okey % 500 + 500 AS VARCHAR)
      FROM live WHERE okey % 2 = 0
      UNION ALL
      SELECT okey, 2, 'tst-9999' FROM live WHERE okey % 19 = 0
    ), tests AS (
      SELECT 'tst-' || CAST(range AS VARCHAR) AS test_id,
             CASE WHEN range % 37 <> 0
                  THEN 'obj-' || CAST(range % 300 AS VARCHAR) END AS object_ref,
             CASE WHEN range % 43 <> 0
                  THEN 'st-' || CAST(range % 400 AS VARCHAR) END AS state_ref
      FROM range(1000)
    ), objs AS (
      SELECT 'obj-' || CAST(range AS VARCHAR) AS object_id,
             CASE WHEN range % 41 = 0 THEN ''
                  ELSE 'pkg' || CAST(range % 120 AS VARCHAR) END AS name
      FROM range(250)
    ), sts AS (
      SELECT 'st-' || CAST(range AS VARCHAR) AS state_id,
             CASE WHEN range % 29 <> 0
                  THEN CAST(range % 9 AS VARCHAR) || '.' ||
                       CAST(range % 5 AS VARCHAR) || '-' ||
                       CAST(range % 7 AS VARCHAR) END AS evr_value,
             CASE range % 4 WHEN 0 THEN 'less than'
                  WHEN 1 THEN 'less than or equal'
                  WHEN 2 THEN 'greater than'
                  ELSE 'exists' END AS evr_operation
      FROM range(350)
    ), tf AS (
      SELECT c.okey, c.pos, t.object_ref, t.state_ref
      FROM crit c JOIN tests t ON c.tref = t.test_id
    ), first_obj AS (
      SELECT tf.okey, arg_min(o.name, tf.pos) AS name
      FROM tf JOIN objs o ON tf.object_ref = o.object_id
      GROUP BY tf.okey
    ), entries AS (
      SELECT tf.okey, tf.pos, s.evr_value, s.evr_operation,
             CASE s.evr_operation
                  WHEN 'less than' THEN '< ' || s.evr_value
                  WHEN 'greater than' THEN '> ' || s.evr_value
                  WHEN 'less than or equal' THEN '<= ' || s.evr_value
                  END AS entry
      FROM tf JOIN sts s ON tf.state_ref = s.state_id
      WHERE s.evr_value IS NOT NULL
    ), rng AS (
      SELECT okey,
             string_agg(entry, ', ' ORDER BY entry DESC) AS vulnerable_range,
             arg_max(evr_value, pos)
               FILTER (WHERE evr_operation = 'less than') AS fixed_raw
      FROM entries GROUP BY okey
      HAVING count(entry) > 0
    )
    SELECT l.ref_id AS record_id, f.name,
           'mariner:2.0' AS namespace, 'rpm' AS version_format,
           coalesce(r.fixed_raw, 'None') AS version,
           r.vulnerable_range, l.severity,
           coalesce(l.description, '') AS description,
           coalesce(l.ref_url, '') AS link,
           CASE WHEN r.fixed_raw IS NOT NULL THEN l.advisory_date
                END AS available_date,
           CASE WHEN r.fixed_raw IS NOT NULL AND l.advisory_date IS NOT NULL
                THEN 'advisory' END AS available_kind
    FROM live l
    JOIN rng r ON l.okey = r.okey
    JOIN first_obj f ON l.okey = f.okey
    WHERE f.name <> ''
    """,
    doc="Mariner/Azure-Linux OVAL graph end-to-end (mariner/parser.py:"
        "208-236 vulnerabilities, 125-196 make_fixed_in, 98-123 the "
        "test/object/state ref walks; pipelines/mariner.py): definitions "
        "with no severity, 'Not Applicable' patchable, or no reference "
        "id drop; criteria walk criterion->test->{object,state} with "
        "missing ids dropping silently at every hop; the FIRST resolved "
        "object names the package (empty name drops the definition); "
        "each resolved state contributes '< v'/'> v'/'<= v' (unknown "
        "operations contribute nothing, the LAST less-than sets the "
        "fixed version, entries sort DESCENDING and join with ', '); "
        "availability only for fixed definitions carrying an advisory "
        "date.  Synthesized graph includes dangling test/object/state "
        "refs, null evr values, unknown operations, empty object names, "
        "and every drop branch.  Scale: the reference's three in-memory "
        "id dicts become broadcast dimensions (bounded by the OVAL test "
        "namespace); the only shuffles are thin per-definition aggs",
    tags=("pipeline", "join", "explode"),
)
def mariner1(spark, sf_dir):
    from vunnel_spark.pipelines.mariner import mariner_pipeline

    o = t(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    definitions = o.select(
        okey.alias("def_id"),
        F.when(
            okey % 23 != 0, F.concat(F.lit("CVE-2025-"), okey.cast("string"))
        ).alias("ref_id"),
        F.when(okey % 13 == 0, F.lit(None).cast("string"))
        .when(okey % 5 == 0, F.lit("Critical"))
        .when(okey % 5 == 1, F.lit("High"))
        .when(okey % 5 == 2, F.lit("Medium"))
        .when(okey % 5 == 3, F.lit("Low"))
        .otherwise(F.lit("Negligible"))
        .alias("severity"),
        F.when(okey % 17 == 0, F.lit("Not Applicable"))
        .when(okey % 17 == 1, F.lit(None).cast("string"))
        .otherwise(F.lit("true"))
        .alias("patchable"),
        F.when(
            okey % 7 != 0,
            F.concat(F.lit("mariner vulnerability "), okey.cast("string")),
        ).alias("description"),
        F.when(
            okey % 11 != 0,
            F.concat(
                F.lit("https://cve.example.org/CVE-2025-"), okey.cast("string")
            ),
        ).alias("ref_url"),
        F.when(
            okey % 3 != 0,
            F.concat(
                F.lit("2025-"),
                F.lpad((okey % 12 + 1).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((okey % 28 + 1).cast("string"), 2, "0"),
            ),
        ).alias("advisory_date"),
        F.filter(
            F.array(
                F.concat(F.lit("tst-"), (okey % 500).cast("string")),
                F.when(
                    okey % 2 == 0,
                    F.concat(F.lit("tst-"), (okey % 500 + 500).cast("string")),
                ),
                F.when(okey % 19 == 0, F.lit("tst-9999")),
            ),
            lambda x: x.isNotNull(),
        ).alias("criteria"),
    )
    tests = spark.range(1000).select(
        F.concat(F.lit("tst-"), F.col("id").cast("string")).alias("test_id"),
        F.when(
            F.col("id") % 37 != 0,
            F.concat(F.lit("obj-"), (F.col("id") % 300).cast("string")),
        ).alias("object_ref"),
        F.when(
            F.col("id") % 43 != 0,
            F.concat(F.lit("st-"), (F.col("id") % 400).cast("string")),
        ).alias("state_ref"),
    )
    objects = spark.range(250).select(
        F.concat(F.lit("obj-"), F.col("id").cast("string")).alias("object_id"),
        F.when(F.col("id") % 41 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("pkg"), (F.col("id") % 120).cast("string")))
        .alias("name"),
    )
    states = spark.range(350).select(
        F.concat(F.lit("st-"), F.col("id").cast("string")).alias("state_id"),
        F.when(
            F.col("id") % 29 != 0,
            F.concat_ws(
                "",
                (F.col("id") % 9).cast("string"), F.lit("."),
                (F.col("id") % 5).cast("string"), F.lit("-"),
                (F.col("id") % 7).cast("string"),
            ),
        ).alias("evr_value"),
        F.when(F.col("id") % 4 == 0, F.lit("less than"))
        .when(F.col("id") % 4 == 1, F.lit("less than or equal"))
        .when(F.col("id") % 4 == 2, F.lit("greater than"))
        .otherwise(F.lit("exists"))
        .alias("evr_operation"),
    )
    return mariner_pipeline(definitions, tests, objects, states)


@register(
    "photon1_advisory_patch_dag",
    """
    WITH sk AS (
      SELECT GREATEST(1, COUNT(*) // 5000) AS k FROM orders
    ), base AS (
      SELECT o_orderkey AS okey, k,
             CASE CAST(o_orderkey % 3 AS INT)
                  WHEN 0 THEN '3.0' WHEN 1 THEN '4.0' ELSE '5.0' END AS ver,
             CAST(o_orderkey % (1500 * k) AS VARCHAR) AS cve_n
      FROM orders, sk
    ), entries AS (
      SELECT okey AS pos, ver,
             CASE WHEN okey % 13 = 0 THEN 'BDSA-2025-' || cve_n
                  WHEN okey % 17 = 0 THEN ''
                  ELSE 'CVE-2025-' || cve_n END AS cve_id,
             CASE WHEN okey % 11 = 0 THEN ''
                  ELSE 'pkg' || CAST(okey % (40 * k) AS VARCHAR) END AS pkg,
             CASE CAST(okey % 7 AS INT) WHEN 1 THEN 9.5 WHEN 2 THEN 8.0
                  WHEN 3 THEN 5.5 WHEN 4 THEN 2.0 WHEN 5 THEN 0.0 END AS score,
             CASE WHEN okey % 5 = 0 THEN 'Not Affected'
                  ELSE 'Affected' END AS status,
             CASE WHEN okey % 23 = 0 THEN '0'
                  WHEN okey % 4 = 0 THEN 'NA'
                  WHEN okey % 4 = 1 THEN ''
                  ELSE CAST(okey % 9 AS VARCHAR) || '.' ||
                       CAST(okey % 5 AS VARCHAR) || '-' ||
                       CAST(okey % 3 AS VARCHAR) END AS res_ver
      FROM base
    ), live AS (
      SELECT pos, ver, cve_id, pkg, score, status,
             CASE WHEN res_ver IN ('', 'NA') THEN 'None'
                  ELSE res_ver END AS version,
             CASE WHEN score IS NULL THEN 'Unknown'
                  WHEN score >= 9.0 THEN 'Critical'
                  WHEN score >= 7.0 THEN 'High'
                  WHEN score >= 4.0 THEN 'Medium'
                  WHEN score >= 0.1 THEN 'Low'
                  ELSE 'Negligible' END AS tier
      FROM entries
      WHERE cve_id <> '' AND lower(cve_id) NOT LIKE 'bdsa%'
    ), adv_files AS (
      SELECT ver,
             'PHSA-2021-' || ver || '-0' || cve_n AS advisory_id,
             '2021-' || lpad(CAST(okey % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
               lpad(CAST(okey % 28 + 1 AS VARCHAR), 2, '0') AS dt,
             'https://github.com/vmware/photon/wiki/Security-Update-' ||
               ver || '-' || cve_n AS url,
             ['CVE-2025-' || cve_n,
              'CVE-2025-' || CAST((okey + 7) % (1500 * k) AS VARCHAR)] AS cves
      FROM base
      WHERE okey % 6 = 0 AND okey % 11 <> 0 AND okey % 7 <> 0
    ), adv AS (
      SELECT ver, cve_id, advisory_id, dt, url,
             row_number() OVER (PARTITION BY ver, cve_id
                                ORDER BY dt, advisory_id, url) AS rn
      FROM (SELECT ver, unnest(cves) AS cve_id, advisory_id, dt, url
            FROM adv_files)
    ), advisory AS (
      SELECT ver, cve_id, advisory_id, dt, url FROM adv WHERE rn = 1
    ), fixdates AS (
      SELECT DISTINCT
             'CVE-2025-' || cve_n AS vuln_id,
             'pkg' || CAST(okey % (40 * k) AS VARCHAR) AS package,
             CASE WHEN okey % 23 = 0 THEN '0'
                  WHEN okey % 4 = 0 THEN 'NA'
                  WHEN okey % 4 = 1 THEN ''
                  ELSE CAST(okey % 9 AS VARCHAR) || '.' ||
                       CAST(okey % 5 AS VARCHAR) || '-' ||
                       CAST(okey % 3 AS VARCHAR) END AS fix_version,
             'photon:' || ver AS ecosystem,
             '2022-' || lpad(CAST((okey % (1500 * k)) % 12 + 1 AS VARCHAR), 2, '0')
               || '-' ||
               lpad(CAST((okey % (40 * k)) % 28 + 1 AS VARCHAR), 2, '0') AS fd,
             'first-observed' AS kind
      FROM base WHERE okey % 10 = 0
    ), sev AS (
      SELECT ver, cve_id,
             coalesce(arg_min(tier, pos) FILTER (WHERE tier <> 'Unknown'),
                      'Unknown') AS severity
      FROM live GROUP BY ver, cve_id
    ), survivors AS (
      SELECT l.*,
             CAST(row_number() OVER (PARTITION BY l.ver, l.cve_id
                                     ORDER BY l.pos) - 1 AS INT) AS fi_pos
      FROM live l
      WHERE l.status <> 'Not Affected' AND l.pkg <> ''
    )
    SELECT 'photon:' || s.ver AS ns,
           s.cve_id AS vuln_id,
           v.severity,
           'https://www.cve.org/CVERecord?id=' || s.cve_id AS link,
           a.dt AS issued,
           s.fi_pos,
           s.pkg,
           s.version,
           'rpm' AS version_format,
           a.advisory_id,
           a.url AS advisory_url,
           CASE WHEN s.version NOT IN ('None', '0') AND a.dt IS NOT NULL
                THEN a.dt
                WHEN s.version NOT IN ('None', '0') AND f.fd IS NOT NULL
                THEN f.fd END AS avail_date,
           CASE WHEN s.version NOT IN ('None', '0') AND a.dt IS NOT NULL
                THEN 'advisory'
                WHEN s.version NOT IN ('None', '0') AND f.fd IS NOT NULL
                THEN f.kind END AS avail_kind
    FROM survivors s
    JOIN sev v ON v.ver = s.ver AND v.cve_id = s.cve_id
    LEFT JOIN advisory a ON a.ver = s.ver AND a.cve_id = s.cve_id
    LEFT JOIN fixdates f
      ON f.vuln_id = s.cve_id AND f.package = s.pkg
     AND f.fix_version = s.version AND f.ecosystem = 'photon:' || s.ver
    """,
    doc="Photon advisory+patch end-to-end (photon/parser.py:52-141 wiki "
        "advisory map incl. the markdown regex parse — run SPARK-SIDE on "
        "synthesized file contents hitting the non-matching-filename, "
        "missing-date, and earliest-wins branches — 232-309 record "
        "assembly, 311-352 two-tier fix-date patch; pipelines/photon.py). "
        "Synthesized entries cover BDSA/empty-id skips, Not-Affected and "
        "empty-pkg drops, whole-record drops, all five CVSS tiers plus "
        "the unscored scan, 'NA'/''/'0' version placeholders, and "
        "finder rows that hit, miss, and tie with advisory dates.  The "
        "record flattens to one row per FixedIn for the value-hash "
        "compare.  Scale: dimensions (advisory map, finder) broadcast; "
        "the fact table shuffles once on the record key "
        "(tests/test_photon_pipeline.py pins the plan)",
    tags=("pipeline", "join", "aggregate"),
)
def photon1(spark, sf_dir):
    from vunnel_spark.pipelines.photon import advisory_map, photon_pipeline

    o = t(spark, sf_dir, "orders")
    # corpus-proportional id spaces (the debian2 discipline): one
    # driver-side count, mirrored by the oracle's sk CTE
    k = int(max(1, o.count() // 5000))
    okey = F.col("o_orderkey")
    ver = (
        F.when(okey % 3 == 0, "3.0").when(okey % 3 == 1, "4.0").otherwise("5.0")
    )
    cve_n = (okey % (1500 * k)).cast("string")
    res_ver = (
        F.when(okey % 23 == 0, "0")
        .when(okey % 4 == 0, "NA")
        .when(okey % 4 == 1, "")
        .otherwise(
            F.concat(
                (okey % 9).cast("string"), F.lit("."),
                (okey % 5).cast("string"), F.lit("-"),
                (okey % 3).cast("string"),
            )
        )
    )
    entries = o.select(
        ver.alias("photon_version"),
        okey.alias("pos"),
        F.when(okey % 13 == 0, F.concat(F.lit("BDSA-2025-"), cve_n))
        .when(okey % 17 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("CVE-2025-"), cve_n))
        .alias("cve_id"),
        F.when(okey % 11 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("pkg"), (okey % (40 * k)).cast("string")))
        .alias("pkg"),
        F.when(okey % 7 == 1, F.lit(9.5))
        .when(okey % 7 == 2, F.lit(8.0))
        .when(okey % 7 == 3, F.lit(5.5))
        .when(okey % 7 == 4, F.lit(2.0))
        .when(okey % 7 == 5, F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("cve_score"),
        F.when(okey % 5 == 0, F.lit("Not Affected"))
        .otherwise(F.lit("Affected"))
        .alias("status"),
        res_ver.alias("res_ver"),
    )
    dt = F.concat(
        F.lit("2021-"), F.lpad(((okey % 12) + 1).cast("string"), 2, "0"),
        F.lit("-"), F.lpad(((okey % 28) + 1).cast("string"), 2, "0"),
    )
    files = o.filter(okey % 6 == 0).select(
        F.when(
            okey % 11 == 0,
            F.concat(F.lit("Notes-"), ver, F.lit("-"), cve_n, F.lit(".md")),
        )
        .otherwise(
            F.concat(
                F.lit("Security-Update-"), ver, F.lit("-"), cve_n, F.lit(".md")
            )
        )
        .alias("filename"),
        F.concat(
            F.lit("Advisory Id : PHSA-2021-"), ver, F.lit("-0"), cve_n,
            F.lit("\n"),
            F.when(okey % 7 == 0, F.lit(""))
            .when(okey % 5 == 0, F.concat(F.lit("Issued on: "), dt))
            .otherwise(F.concat(F.lit("Issue date: "), dt)),
            F.lit("\nfixes CVE-2025-"), cve_n,
            F.lit(" and CVE-2025-"), ((okey + 7) % (1500 * k)).cast("string"),
        ).alias("content"),
    )
    fixdates = (
        o.filter(okey % 10 == 0)
        .select(
            F.concat(F.lit("CVE-2025-"), cve_n).alias("vuln_id"),
            F.concat(F.lit("pkg"), (okey % (40 * k)).cast("string")).alias("package"),
            res_ver.alias("fix_version"),
            F.concat(F.lit("photon:"), ver).alias("ecosystem"),
            F.concat(
                F.lit("2022-"),
                F.lpad(((okey % (1500 * k)) % 12 + 1).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad(((okey % (40 * k)) % 28 + 1).cast("string"), 2, "0"),
            ).alias("date"),
            F.lit("first-observed").alias("kind"),
        )
        .distinct()
    )
    rec = photon_pipeline(entries, advisory_map(files), fixdates)
    return rec.select(
        F.col("NamespaceName").alias("ns"),
        F.col("Name").alias("vuln_id"),
        F.col("Severity").alias("severity"),
        F.col("Link").alias("link"),
        F.col("Metadata.Issued").alias("issued"),
        F.posexplode("FixedIn").alias("fi_pos", "fi"),
    ).select(
        "ns", "vuln_id", "severity", "link", "issued",
        F.col("fi_pos").cast("int").alias("fi_pos"),
        F.col("fi.Name").alias("pkg"),
        F.col("fi.Version").alias("version"),
        F.col("fi.VersionFormat").alias("version_format"),
        F.col("fi.VendorAdvisory.AdvisorySummary")[0]["ID"].alias("advisory_id"),
        F.col("fi.VendorAdvisory.AdvisorySummary")[0]["Link"].alias(
            "advisory_url"
        ),
        F.col("fi.Available.Date").alias("avail_date"),
        F.col("fi.Available.Kind").alias("avail_kind"),
    )


@register(
    "fedora1_bodhi_merge_dag",
    """
    WITH sk AS (
      SELECT GREATEST(1, COUNT(*) // 5000) AS k FROM orders
    ), base AS (
      SELECT o_orderkey AS okey, k,
             'FEDORA-2025-' || CAST(o_orderkey AS VARCHAR) AS alias0,
             CAST(40 + o_orderkey % 3 AS VARCHAR) AS relver0,
             CAST(o_orderkey % (600 * k) AS VARCHAR) AS c1,
             CAST(o_orderkey % (600 * k) + 1000 * k AS VARCHAR) AS c2
      FROM orders, sk
    ), upd AS (
      SELECT okey, k,
             CASE WHEN okey % 19 = 0 THEN '' ELSE alias0 END AS alias,
             CASE WHEN okey % 23 = 0 THEN 'rawhide' ELSE relver0 END AS relver,
             CASE CAST(okey % 8 AS INT)
                  WHEN 0 THEN 'urgent' WHEN 1 THEN 'critical'
                  WHEN 2 THEN 'important' WHEN 3 THEN 'high'
                  WHEN 4 THEN 'moderate' WHEN 5 THEN 'low'
                  WHEN 6 THEN '' ELSE 'bogus' END AS rawsev,
             CASE WHEN okey % 2 = 0
                  THEN 'https://x/' || alias0 END AS url,
             '2025-01-' || lpad(CAST(okey % 28 + 1 AS VARCHAR), 2, '0')
               AS date_submitted,
             CASE WHEN okey % 6 = 0 THEN ''
                  ELSE '2025-02-' || lpad(CAST(okey % 28 + 1 AS VARCHAR), 2, '0')
                  END AS date_modified,
             CASE WHEN okey % 4 = 1 THEN ''
                  ELSE '2025-03-' || lpad(CAST(okey % 28 + 1 AS VARCHAR), 2, '0')
                  END AS date_stable,
             c1, c2
      FROM base
    ), live AS (
      SELECT *, 'fedora:' || relver AS ns,
             CASE rawsev
                  WHEN 'urgent' THEN 'Critical' WHEN 'critical' THEN 'Critical'
                  WHEN 'important' THEN 'High' WHEN 'high' THEN 'High'
                  WHEN 'moderate' THEN 'Medium' WHEN 'medium' THEN 'Medium'
                  WHEN 'low' THEN 'Low' ELSE 'Unknown' END AS sev,
             coalesce(url, 'https://bodhi.fedoraproject.org/updates/' || alias)
               AS link
      FROM upd
      WHERE alias <> '' AND regexp_matches(relver, '^\\d+$')
    ), vids AS (
      -- CVE list by synthesis branch; no CVEs -> the alias itself
      SELECT l.*, v.vuln_id, v.lookup_id FROM live l, LATERAL (
        SELECT unnest(CASE WHEN l.okey % 3 = 2 THEN [l.alias]
                           ELSE ['CVE-2025-' || l.c1, 'CVE-2025-' || l.c2]
                      END) AS vuln_id,
               CASE WHEN l.okey % 3 = 2 THEN l.alias
                    ELSE 'CVE-2025-' || l.c1 END AS lookup_id
      ) v
    ), pkgs AS (
      -- kept rpm builds in input order: b1 always, b2 when okey%3=0;
      -- the okey%29 junk-builds branch keeps nothing (update drops)
      SELECT okey, pkg_pos, name, version FROM (
        SELECT okey, 0 AS pkg_pos,
               'pkga' || CAST(okey % (30 * k) AS VARCHAR) AS name,
               '0:1.' || CAST(okey % 7 AS VARCHAR) || '-1.fc41' AS version
        FROM live WHERE okey % 29 <> 0
        UNION ALL
        SELECT okey, 1,
               'pkgb' || CAST(okey % (30 * k) AS VARCHAR),
               '2:2.0-1.fc41'
        FROM live WHERE okey % 29 <> 0 AND okey % 3 = 0
      )
    ), fixdim AS (
      -- the year branches on a pure function of the key's c1 modulus so
      -- the dim stays one row per key AND some first-observed dates
      -- land AFTER date_stable — exercising best()'s accurate-candidate
      -- rule (advisory wins unless first-observed is strictly earlier)
      SELECT DISTINCT
             'CVE-2025-' || c1 AS f_vuln,
             'pkga' || CAST(okey % (30 * k) AS VARCHAR) AS f_pkg,
             '0:1.' || CAST(okey % 7 AS VARCHAR) || '-1.fc41' AS f_ver,
             'fedora:' || relver0 AS f_ns,
             (CASE WHEN (okey % (600 * k)) % 5 = 0 THEN '2026-' ELSE '2024-' END)
               || lpad(CAST((okey % (600 * k)) % 12 + 1 AS VARCHAR), 2, '0')
               || '-' ||
               lpad(CAST((okey % (30 * k)) % 28 + 1 AS VARCHAR), 2, '0') AS f_date,
             'first-observed' AS f_kind
      FROM base WHERE okey % 10 = 0
    ), fi AS (
      SELECT v.ns, v.vuln_id, v.alias, v.sev, v.link,
             v.date_submitted AS issued,
             CASE WHEN v.date_modified <> '' THEN v.date_modified
                  WHEN v.date_stable <> '' THEN v.date_stable
                  ELSE '' END AS updated,
             p.pkg_pos, p.name, p.version,
             -- earliest of (first-observed, date_stable 'advisory'),
             -- advisory winning equal-date ties (finder.py:187 is <=)
             CASE WHEN f.f_date IS NOT NULL AND v.date_stable <> ''
                    THEN CASE WHEN f.f_date < v.date_stable
                              THEN f.f_date ELSE v.date_stable END
                  WHEN f.f_date IS NOT NULL THEN f.f_date
                  WHEN v.date_stable <> '' THEN v.date_stable END AS avail_date,
             CASE WHEN f.f_date IS NOT NULL AND v.date_stable <> ''
                    THEN CASE WHEN f.f_date < v.date_stable
                              THEN f.f_kind ELSE 'advisory' END
                  WHEN f.f_date IS NOT NULL THEN f.f_kind
                  WHEN v.date_stable <> '' THEN 'advisory' END AS avail_kind
      FROM vids v
      JOIN pkgs p ON p.okey = v.okey
      LEFT JOIN fixdim f
        ON f.f_vuln = v.lookup_id AND f.f_pkg = p.name
       AND f.f_ver = p.version AND f.f_ns = v.ns
    ), head AS (
      SELECT ns, vuln_id,
             arg_min(sev, alias) AS severity,
             arg_min(link, alias) AS head_link,
             arg_min(issued, alias) AS head_issued,
             arg_min(updated, alias) AS head_updated
      FROM (SELECT DISTINCT ns, vuln_id, alias, sev, link, issued, updated
            FROM fi)
      GROUP BY ns, vuln_id
    )
    SELECT f.ns, f.vuln_id, h.severity, h.head_link AS link,
           h.head_issued AS issued, h.head_updated AS updated,
           CAST(row_number() OVER (PARTITION BY f.ns, f.vuln_id
                                   ORDER BY f.alias, f.pkg_pos) - 1 AS INT)
             AS fi_pos,
           f.name AS pkg, f.version, 'rpm' AS version_format,
           f.alias AS advisory_id, f.link AS advisory_link,
           f.avail_date, f.avail_kind,
           (f.vuln_id LIKE 'CVE-%') AS cve_self
    FROM fi f
    JOIN head h ON h.ns = f.ns AND h.vuln_id = f.vuln_id
    """,
    doc="Fedora Bodhi end-to-end under the oracle gate (fedora/parser.py:"
        "209-234 CVE extraction precedence, 236-254 NVR parse, 284-370 "
        "record build, 398-413 cross-update merge; pipelines/fedora.py). "
        "Synthesis drives the SPARK side through the real regex/parse "
        "paths — security-bug titles with duplicate CVEs and non-security "
        "decoys, the display_name+title fallback with one shared "
        "seen-set, NVR rsplit with null-epoch defaulting, container and "
        "malformed-NVR skips, the junk-builds whole-update drop, empty "
        "alias and non-numeric release drops, all severity tiers plus "
        "bogus/empty, per-CVE vs per-alias records, cross-update "
        "first-alias-establishes merge, and finder-over-date_stable fix "
        "priority — while the ORACLE derives the same result from the "
        "synthesis variables directly, so regex and relational paths "
        "check each other.  Flattened per FixedIn.  Scale: the finder "
        "dim broadcasts; one shuffle on the (ns, vuln) record key",
    tags=("pipeline", "join", "explode", "aggregate"),
)
def fedora1(spark, sf_dir):
    from vunnel_spark.pipelines.fedora import fedora_pipeline

    o = t(spark, sf_dir, "orders")
    # corpus-proportional id spaces (the debian2 discipline): one
    # driver-side count, mirrored by the oracle's sk CTE
    k = int(max(1, o.count() // 5000))
    okey = F.col("o_orderkey")
    alias0 = F.concat(F.lit("FEDORA-2025-"), okey.cast("string"))
    relver0 = (40 + okey % 3).cast("string")
    c1 = (okey % (600 * k)).cast("string")
    c2 = (okey % (600 * k) + 1000 * k).cast("string")
    cve1 = F.concat(F.lit("CVE-2025-"), c1)
    cve2 = F.concat(F.lit("CVE-2025-"), c2)
    nvr1 = F.concat(
        F.lit("pkga"), (okey % (30 * k)).cast("string"),
        F.lit("-1."), (okey % 7).cast("string"), F.lit("-1.fc41"),
    )
    nvr2 = F.concat(F.lit("pkgb"), (okey % (30 * k)).cast("string"), F.lit("-2.0-1.fc41"))
    bug = lambda sec, title: F.struct(
        F.lit(sec).alias("security"), title.alias("title")
    )
    build = lambda typ, nvr, epoch: F.struct(
        F.lit(typ).alias("type"), nvr.alias("nvr"),
        (F.lit(epoch).cast("int") if epoch is not None else F.lit(None).cast("int")).alias("epoch"),
    )
    bugs = (
        F.when(
            okey % 3 == 0,
            F.array(
                bug(False, F.lit("decoy CVE-1999-0001")),
                bug(True, F.concat(cve1, F.lit(" and "), cve2)),
                bug(True, F.concat(F.lit("dup "), cve1)),
            ),
        )
        .when(
            okey % 3 == 1,
            F.array(bug(False, F.lit("hidden CVE-2025-9999"))),
        )
        .otherwise(
            F.array().cast(
                "array<struct<security:boolean,title:string>>"
            )
        )
    )
    good_builds = F.concat(
        F.array(build("rpm", nvr1, None), build("container", F.lit("img-1-1"), None)),
        F.when(
            okey % 3 == 0, F.array(build("rpm", nvr2, 2))
        ).otherwise(F.array().cast("array<struct<type:string,nvr:string,epoch:int>>")),
    )
    junk_builds = F.array(
        build("container", F.lit("img-1-1"), None),
        build("rpm", F.lit("badnvr"), None),
    )
    lp = lambda e: F.lpad(e.cast("string"), 2, "0")
    updates = o.select(
        F.when(okey % 19 == 0, F.lit("")).otherwise(alias0).alias("alias"),
        F.when(okey % 23 == 0, F.lit("rawhide")).otherwise(relver0).alias(
            "release_version"
        ),
        F.when(okey % 8 == 0, F.lit("urgent"))
        .when(okey % 8 == 1, F.lit("critical"))
        .when(okey % 8 == 2, F.lit("important"))
        .when(okey % 8 == 3, F.lit("high"))
        .when(okey % 8 == 4, F.lit("moderate"))
        .when(okey % 8 == 5, F.lit("low"))
        .when(okey % 8 == 6, F.lit(""))
        .otherwise(F.lit("bogus"))
        .alias("severity"),
        F.when(
            okey % 3 == 1, F.concat(F.lit("fix "), cve1)
        ).otherwise(F.lit("plain bugfix")).alias("display_name"),
        F.when(
            okey % 3 == 1, F.concat(F.lit("also "), cve1, F.lit(" and "), cve2)
        ).otherwise(F.lit("t")).alias("title"),
        F.lit("").alias("notes"),
        F.concat(F.lit("2025-01-"), lp(okey % 28 + 1)).alias("date_submitted"),
        F.when(okey % 6 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("2025-02-"), lp(okey % 28 + 1)))
        .alias("date_modified"),
        F.when(okey % 4 == 1, F.lit(""))
        .otherwise(F.concat(F.lit("2025-03-"), lp(okey % 28 + 1)))
        .alias("date_stable"),
        F.when(okey % 2 == 0, F.concat(F.lit("https://x/"), alias0)).alias("url"),
        bugs.alias("bugs"),
        F.when(okey % 29 == 0, junk_builds).otherwise(good_builds).alias("builds"),
    )
    fixdates = (
        o.filter(okey % 10 == 0)
        .select(
            cve1.alias("vuln_id"),
            F.concat(F.lit("pkga"), (okey % (30 * k)).cast("string")).alias("package"),
            F.concat(
                F.lit("0:1."), (okey % 7).cast("string"), F.lit("-1.fc41")
            ).alias("fix_version"),
            F.concat(F.lit("fedora:"), relver0).alias("ecosystem"),
            F.concat(
                # year branches on the key's c1 modulus (mirrors the
                # oracle's fixdim) so some first-observed dates land
                # AFTER date_stable and the gate exercises best()'s
                # accurate-candidate rule
                F.when(
                    (okey % (600 * k)) % 5 == 0, F.lit("2026-")
                ).otherwise(F.lit("2024-")),
                lp((okey % (600 * k)) % 12 + 1),
                F.lit("-"), lp((okey % (30 * k)) % 28 + 1),
            ).alias("date"),
            F.lit("first-observed").alias("kind"),
        )
        .distinct()
    )
    rec = fedora_pipeline(updates, fixdates)
    return rec.select(
        F.col("NamespaceName").alias("ns"),
        F.col("Name").alias("vuln_id"),
        F.col("Severity").alias("severity"),
        F.col("Link").alias("link"),
        F.col("Issued").alias("issued"),
        F.col("Updated").alias("updated"),
        (F.size("CVE") > 0).alias("cve_self"),
        F.posexplode("FixedIn").alias("fi_pos", "fi"),
    ).select(
        "ns", "vuln_id", "severity", "link", "issued", "updated",
        F.col("fi_pos").cast("int").alias("fi_pos"),
        F.col("fi.Name").alias("pkg"),
        F.col("fi.Version").alias("version"),
        F.col("fi.VersionFormat").alias("version_format"),
        F.col("fi.VendorAdvisory.AdvisorySummary")[0]["ID"].alias("advisory_id"),
        F.col("fi.VendorAdvisory.AdvisorySummary")[0]["Link"].alias(
            "advisory_link"
        ),
        F.col("fi.Available.Date").alias("avail_date"),
        F.col("fi.Available.Kind").alias("avail_kind"),
        "cve_self",
    )


@register(
    "echo1_rolling_merge_dag",
    """
    WITH sk AS (
      SELECT GREATEST(1, COUNT(*) // 5000) AS k FROM orders
    ), base AS (
      SELECT o_orderkey AS okey, k,
             'pkg' || CAST(o_orderkey % (40 * k) AS VARCHAR) AS pkg,
             CASE WHEN o_orderkey % 13 = 0
                    THEN 'TEMP-0-' || CAST(o_orderkey % (90 * k) AS VARCHAR)
                  WHEN o_orderkey % 9 = 0
                    THEN 'GHSA-aaaa-' || CAST(o_orderkey % (50 * k) AS VARCHAR)
                  WHEN o_orderkey % 17 = 0
                    THEN 'OTHER-' || CAST(o_orderkey % (70 * k) AS VARCHAR)
                  ELSE 'CVE-2025-' || CAST(o_orderkey % (700 * k) AS VARCHAR)
                  END AS cve_id,
             CASE CAST(o_orderkey % 5 AS INT)
                  WHEN 1 THEN 'low' WHEN 2 THEN 'medium'
                  WHEN 3 THEN 'high' WHEN 4 THEN 'critical' END AS severity,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  ELSE '1.' || CAST(o_orderkey % 6 AS VARCHAR) || '-1'
                  END AS fixed_version
      FROM orders, sk
    ), live AS (
      SELECT okey AS pos, pkg, cve_id, severity,
             coalesce(fixed_version, '') AS version
      FROM base WHERE cve_id NOT LIKE 'TEMP-%'
    ), fixdim AS (
      SELECT DISTINCT
             'CVE-2025-' || CAST(okey % (700 * k) AS VARCHAR) AS f_vuln,
             'pkg' || CAST(okey % (40 * k) AS VARCHAR) AS f_pkg,
             '1.' || CAST(okey % 6 AS VARCHAR) || '-1' AS f_ver,
             '2023-' || lpad(CAST((okey % (700 * k)) % 12 + 1 AS VARCHAR), 2, '0')
               || '-' ||
               lpad(CAST((okey % (40 * k)) % 28 + 1 AS VARCHAR), 2, '0') AS f_date,
             'first-observed' AS f_kind
      FROM base WHERE okey % 10 = 0
    ), sev AS (
      SELECT cve_id,
             arg_min(coalesce(severity, 'Unknown'), pos) AS head_sev
      FROM live GROUP BY cve_id
    )
    SELECT l.cve_id AS vuln_id,
           'echo:rolling' AS ns,
           CASE WHEN l.cve_id LIKE 'CVE-%'
                  THEN 'https://www.cve.org/CVERecord?id=' || l.cve_id
                WHEN l.cve_id LIKE 'GHSA-%'
                  THEN 'https://github.com/advisories/' || l.cve_id
                ELSE '' END AS link,
           s.head_sev AS severity,
           CAST(row_number() OVER (PARTITION BY l.cve_id ORDER BY l.pos) - 1
                AS INT) AS fi_pos,
           l.pkg, l.version, 'dpkg' AS version_format,
           f.f_date AS avail_date, f.f_kind AS avail_kind
    FROM live l
    JOIN sev s ON s.cve_id = l.cve_id
    LEFT JOIN fixdim f
      ON f.f_vuln = l.cve_id AND f.f_pkg = l.pkg AND f.f_ver = l.version
    """,
    doc="Echo rolling-advisory merge end-to-end under the oracle gate "
        "(echo/parser.py:77-144; pipelines/echo.py): TEMP-* skips, "
        "first-encounter severity (null -> Unknown, later packages never "
        "update it), CVE/GHSA/other reference-link forms, input-ordered "
        "FixedIn with empty-string unfixed versions, and the fixdate "
        "Available overlay keyed (cve, package, version).  Flattened per "
        "FixedIn.  Scale: the finder dim broadcasts; one shuffle on the "
        "cve record key",
    tags=("pipeline", "aggregate"),
)
def echo1(spark, sf_dir):
    from vunnel_spark.pipelines.echo import echo_pipeline

    o = t(spark, sf_dir, "orders")
    # corpus-proportional id spaces (the debian2 discipline): one
    # driver-side count, mirrored by the oracle's sk CTE
    k = int(max(1, o.count() // 5000))
    okey = F.col("o_orderkey")
    advisories = o.select(
        okey.alias("pos"),
        F.concat(F.lit("pkg"), (okey % (40 * k)).cast("string")).alias("package"),
        F.when(
            okey % 13 == 0,
            F.concat(F.lit("TEMP-0-"), (okey % (90 * k)).cast("string")),
        )
        .when(
            okey % 9 == 0,
            F.concat(F.lit("GHSA-aaaa-"), (okey % (50 * k)).cast("string")),
        )
        .when(
            okey % 17 == 0,
            F.concat(F.lit("OTHER-"), (okey % (70 * k)).cast("string")),
        )
        .otherwise(F.concat(F.lit("CVE-2025-"), (okey % (700 * k)).cast("string")))
        .alias("cve_id"),
        F.when(okey % 5 == 1, F.lit("low"))
        .when(okey % 5 == 2, F.lit("medium"))
        .when(okey % 5 == 3, F.lit("high"))
        .when(okey % 5 == 4, F.lit("critical"))
        .alias("severity"),
        F.when(
            okey % 4 == 0, F.lit(None).cast("string")
        ).otherwise(
            F.concat(F.lit("1."), (okey % 6).cast("string"), F.lit("-1"))
        ).alias("fixed_version"),
    )
    lp = lambda e: F.lpad(e.cast("string"), 2, "0")
    fixdates = (
        o.filter(okey % 10 == 0)
        .select(
            F.concat(F.lit("CVE-2025-"), (okey % (700 * k)).cast("string")).alias(
                "vuln_id"
            ),
            F.concat(F.lit("pkg"), (okey % (40 * k)).cast("string")).alias("package"),
            F.concat(F.lit("1."), (okey % 6).cast("string"), F.lit("-1")).alias(
                "fix_version"
            ),
            F.concat(
                F.lit("2023-"), lp((okey % (700 * k)) % 12 + 1),
                F.lit("-"), lp((okey % (40 * k)) % 28 + 1),
            ).alias("date"),
            F.lit("first-observed").alias("kind"),
        )
        .distinct()
    )
    rec = echo_pipeline(advisories, fixdates=fixdates)
    return rec.select(
        F.col("Name").alias("vuln_id"),
        F.col("NamespaceName").alias("ns"),
        F.col("Link").alias("link"),
        F.col("Severity").alias("severity"),
        F.posexplode("FixedIn").alias("fi_pos", "fi"),
    ).select(
        "vuln_id", "ns", "link", "severity",
        F.col("fi_pos").cast("int").alias("fi_pos"),
        F.col("fi.Name").alias("pkg"),
        F.col("fi.Version").alias("version"),
        F.col("fi.VersionFormat").alias("version_format"),
        F.col("fi.Available.Date").alias("avail_date"),
        F.col("fi.Available.Kind").alias("avail_kind"),
    )


@register(
    "secureos1_secdb_range_dag",
    """
    WITH sk AS (
      SELECT GREATEST(1, COUNT(*) // 5000) AS k FROM orders
    ), base AS (
      SELECT o_orderkey AS okey, k,
             'pkg' || CAST(o_orderkey % (50 * k) AS VARCHAR) AS pkg,
             CAST(o_orderkey % 3 AS VARCHAR) || '.' ||
               CAST(o_orderkey % 5 AS VARCHAR) || '-r' ||
               CAST(o_orderkey % 4 AS VARCHAR) AS v1,
             CAST(o_orderkey % 3 + 3 AS VARCHAR) || '.0-r' ||
               CAST(o_orderkey % 2 + 1 AS VARCHAR) AS v2,
             'CVE-2025-' || CAST(o_orderkey % (400 * k) AS VARCHAR) AS cva,
             'CVE-2025-' || CAST(o_orderkey % (400 * k) + 2000 * k AS VARCHAR) AS cvb,
             'XSA-' || CAST(o_orderkey % (20 * k) AS VARCHAR) AS cvx
      FROM orders, sk
    ), fi_rows AS (
      -- v1 (always the smaller real, vrank 0) lists cva+cvb;
      -- v2 (vrank 1, revision 1..2 > 0) relists cva -> carries the
      -- range; the '0' special (okey%6=0, vrank 2+orig idx) lists cvx
      SELECT okey, pkg, vid, version, vrank, vulnerable_range FROM (
        -- each real row carries its POTENTIAL range (revision > 0);
        -- first_real below keeps it only on non-first rows — a v1 row
        -- can be non-first too when another okey shares (vid, pkg)
        SELECT okey, pkg, v1 AS version, 0 AS vrank,
               CASE WHEN okey % 4 > 0
                    THEN '>=' || CAST(okey % 3 AS VARCHAR) || '.' ||
                         CAST(okey % 5 AS VARCHAR) || '-r0, <' || v1
                    END AS vulnerable_range,
               unnest([cva, cvb]) AS vid
        FROM base
        UNION ALL
        SELECT okey, pkg, v2, 1,
               '>=' || CAST(okey % 3 + 3 AS VARCHAR) || '.0-r0, <' || v2,
               cva
        FROM base
        UNION ALL
        SELECT okey, pkg, '0', 4, NULL, cvx
        FROM base WHERE okey % 6 = 0
      )
    ), first_real AS (
      -- the min (pos, vrank) real per (vid, pkg) is range-free; only
      -- non-first reals keep the synthesized range.  (pos, vrank)
      -- encodes as pos*8+vrank — vrank < 8 by construction — because
      -- DuckDB windows can't min a struct
      SELECT okey, pkg, vid, version, vrank,
             CASE WHEN version <> '0'
                   AND okey * 8 + vrank <>
                       min(okey * 8 + vrank) OVER (PARTITION BY vid, pkg)
                  THEN vulnerable_range END AS vulnerable_range
      FROM fi_rows
    ), fixdim AS (
      SELECT DISTINCT
             'CVE-2025-' || CAST(okey % (400 * k) AS VARCHAR) AS f_vuln,
             'pkg' || CAST(okey % (50 * k) AS VARCHAR) AS f_pkg,
             CAST(okey % 3 AS VARCHAR) || '.' ||
               CAST(okey % 5 AS VARCHAR) || '-r' ||
               CAST(okey % 4 AS VARCHAR) AS f_ver,
             '2024-' || lpad(CAST((okey % (400 * k)) % 12 + 1 AS VARCHAR), 2, '0')
               || '-' ||
               lpad(CAST((okey % (50 * k)) % 28 + 1 AS VARCHAR), 2, '0') AS f_date,
             'first-observed' AS f_kind
      FROM base WHERE okey % 10 = 0
    )
    SELECT r.vid AS vuln_id, 'secureos:rolling' AS ns,
           'Unknown' AS severity,
           CASE WHEN r.vid LIKE 'CVE-%'
                  THEN 'https://security.secureos.io/' || r.vid
                WHEN r.vid LIKE 'GHSA-%'
                  THEN 'https://github.com/advisories/' || r.vid
                ELSE '' END AS link,
           CAST(row_number() OVER (PARTITION BY r.vid
                                   ORDER BY r.okey, r.vrank) - 1 AS INT)
             AS fi_pos,
           r.pkg, r.version, 'apk' AS version_format,
           r.vulnerable_range,
           f.f_date AS avail_date, f.f_kind AS avail_kind
    FROM first_real r
    LEFT JOIN fixdim f
      ON f.f_vuln = r.vid AND f.f_pkg = r.pkg AND f.f_ver = r.version
    """,
    doc="SecureOS secdb end-to-end under the oracle gate (secureos/"
        "parser.py:162-327; pipelines/secureos.py): the SPARK side sorts "
        "each package's deliberately-unsorted version map with the "
        "provider's own cmp_to_key comparator (pandas UDF), walks "
        "whitespace-split vid lists, suppresses the range on the first "
        "real version per (vid, pkg) and emits the -r0 VulnerableRange "
        "on later revisions, while the ORACLE derives the same rows from "
        "the synthesis variables (versions constructed so the simplified "
        "comparator equals numeric order; the min-(pos, rank) window "
        "restates the seen-set).  Flattened per FixedIn.  Scale: one "
        "window shuffle on (vid, pkg), one groupBy on the record key; "
        "the finder dim broadcasts (plan-pinned in "
        "tests/test_secureos_pipeline.py)",
    tags=("pipeline", "window", "aggregate"),
)
def secureos1(spark, sf_dir):
    from vunnel_spark.pipelines.secureos import secureos_pipeline

    o = t(spark, sf_dir, "orders")
    # corpus-proportional id spaces (the debian2 discipline): one
    # driver-side count, mirrored by the oracle's sk CTE
    k = int(max(1, o.count() // 5000))
    okey = F.col("o_orderkey")
    v1 = F.concat(
        (okey % 3).cast("string"), F.lit("."), (okey % 5).cast("string"),
        F.lit("-r"), (okey % 4).cast("string"),
    )
    v2 = F.concat(
        (okey % 3 + 3).cast("string"), F.lit(".0-r"),
        (okey % 2 + 1).cast("string"),
    )
    cva = F.concat(F.lit("CVE-2025-"), (okey % (400 * k)).cast("string"))
    cvb = F.concat(F.lit("CVE-2025-"), (okey % (400 * k) + 2000 * k).cast("string"))
    cvx = F.concat(F.lit("XSA-"), (okey % (20 * k)).cast("string"))
    sf_entry = lambda ver, vids: F.struct(
        ver.alias("version"), vids.alias("vids")
    )
    # deliberately unsorted: the larger v2 listed first
    secfixes = F.concat(
        F.array(
            sf_entry(v2, F.array(cva)),
            # one whitespace-joined raw entry -> the split branch
            sf_entry(v1, F.array(F.concat(cva, F.lit(" "), cvb))),
        ),
        F.when(
            okey % 6 == 0, F.array(sf_entry(F.lit("0"), F.array(cvx)))
        ).otherwise(
            F.array().cast(
                "array<struct<version:string,vids:array<string>>>"
            )
        ),
    )
    pkgs = o.select(
        okey.alias("pos"),
        F.concat(F.lit("pkg"), (okey % (50 * k)).cast("string")).alias("pkg"),
        secfixes.alias("secfixes"),
    )
    lp = lambda e: F.lpad(e.cast("string"), 2, "0")
    fixdates = (
        o.filter(okey % 10 == 0)
        .select(
            F.concat(F.lit("CVE-2025-"), (okey % (400 * k)).cast("string")).alias(
                "vuln_id"
            ),
            F.concat(F.lit("pkg"), (okey % (50 * k)).cast("string")).alias("package"),
            v1.alias("fix_version"),
            F.lit("secureos:rolling").alias("ecosystem"),
            F.concat(
                F.lit("2024-"), lp((okey % (400 * k)) % 12 + 1),
                F.lit("-"), lp((okey % (50 * k)) % 28 + 1),
            ).alias("date"),
            F.lit("first-observed").alias("kind"),
        )
        .distinct()
    )
    rec = secureos_pipeline(pkgs, fixdates=fixdates)
    return rec.select(
        F.col("Name").alias("vuln_id"),
        F.col("NamespaceName").alias("ns"),
        F.col("Severity").alias("severity"),
        F.col("Link").alias("link"),
        F.posexplode("FixedIn").alias("fi_pos", "fi"),
    ).select(
        "vuln_id", "ns", "severity", "link",
        F.col("fi_pos").cast("int").alias("fi_pos"),
        F.col("fi.Name").alias("pkg"),
        F.col("fi.Version").alias("version"),
        F.col("fi.VersionFormat").alias("version_format"),
        F.col("fi.VulnerableRange").alias("vulnerable_range"),
        F.col("fi.Available.Date").alias("avail_date"),
        F.col("fi.Available.Kind").alias("avail_kind"),
    )


#: the eight pinned alma library gaps, restated for the alma1 oracle
_ALMA1_GAP_SQL = """
      SELECT * FROM (VALUES
        (0, 'ALSA-2019:3706', 'lua', 'lua-libs'),
        (1, 'ALSA-2020:5487', 'pacemaker', 'pacemaker-libs'),
        (2, 'ALSA-2021:4386', 'gcc', 'libgcc'),
        (3, 'ALSA-2021:4393', 'cups', 'cups-libs'),
        (4, 'ALSA-2021:4489', 'rpm-build', 'rpm-build-libs'),
        (5, 'ALSA-2021:4587', 'gcc', 'libgcc'),
        (6, 'ALSA-2022:0368', 'rpm-build', 'rpm-build-libs'),
        (7, 'ALSA-2022:7928', 'device-mapper-multipath',
            'device-mapper-multipath-libs')
      ) g(gi, gid, gbase, glib)
"""


@register(
    "alma1_osv_normalize_dag",
    f"""
    WITH gaps AS ({_ALMA1_GAP_SQL}
    ), base AS (
      SELECT o_orderkey AS okey,
             CASE CAST(o_orderkey % 3 AS INT)
                  WHEN 0 THEN '8' WHEN 1 THEN '9' ELSE '10' END AS ver,
             (o_orderkey % 97 = 0) AS is_gap,
             CAST(o_orderkey % 8 AS INT) AS gsel
      FROM orders
    ), rec AS (
      SELECT b.okey, b.ver, b.is_gap, g.gid, g.gbase, g.glib,
             CASE WHEN b.is_gap THEN g.gid
                  ELSE 'ALSA-2025:' || CAST(b.okey AS VARCHAR) END AS id,
             CASE WHEN b.okey % 5 = 0 THEN '1.7.0'
                  ELSE '1.6.' || CAST(b.okey % 4 AS VARCHAR) END
               AS schema_version,
             CASE WHEN b.okey % 4 = 0
                  THEN 'mod' || CAST(b.okey % 6 AS VARCHAR) || ':10.' ||
                       CAST(b.okey % 3 AS VARCHAR) END AS modularity
      FROM base b LEFT JOIN gaps g ON g.gi = b.gsel AND b.is_gap
    ), aff AS (
      -- base entry at position 0; gap rows add either the base package
      -- (clone appended) or both names already (no clone)
      SELECT okey, 0 AS a_pos,
             CASE WHEN is_gap THEN gbase
                  ELSE 'alma-pkg' || CAST(okey % 30 AS VARCHAR) END AS pkg
      FROM rec
      UNION ALL
      SELECT okey, 1,
             glib
      FROM rec WHERE is_gap
      -- okey%2=1 pre-lists the lib (clone suppressed); okey%2=0 gets
      -- the clone appended — either way the lib lands at position 1
    )
    SELECT 'almalinux' || r.ver || '/' || r.id AS key,
           r.id AS vuln_id,
           r.schema_version,
           'advisory' AS record_type,
           CAST(a.a_pos AS INT) AS a_pos,
           a.pkg,
           'AlmaLinux:' || r.ver AS ecosystem,
           r.modularity AS rpm_modularity
    FROM rec r JOIN aff a ON a.okey = r.okey
    """,
    doc="AlmaLinux OSV normalize end-to-end under the oracle gate "
        "(alma/parser.py:68-166; pipelines/alma.py): the SPARK side runs "
        "the real modularity grammar over synthesized summaries (token "
        "between the first two spaces, interior colon required — hit via "
        "happy/no-second-space/edge-colon/null branches) and the "
        "F.aggregate gap-clone fold over the eight pinned ALSA ids "
        "(clone-appended vs already-listed sub-branches), while the "
        "ORACLE derives the expected affected lists and modularity from "
        "the synthesis variables and a VALUES restatement of the gap "
        "map.  Flattened per affected entry.  Scale: zero shuffles — "
        "the whole normalize is row-local array algebra",
    tags=("pipeline", "scalar"),
)
def alma1(spark, sf_dir):
    from vunnel_spark.pipelines.alma import KNOWN_LIBRARY_GAPS, alma_pipeline

    o = t(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    ver = (
        F.when(okey % 3 == 0, "8").when(okey % 3 == 1, "9").otherwise("10")
    )
    gap_ids = list(KNOWN_LIBRARY_GAPS)
    gid = None
    gbase = None
    glib = None
    for i, g in enumerate(gap_ids):
        b, l = next(iter(KNOWN_LIBRARY_GAPS[g].items()))
        cond = okey % 8 == i
        gid = F.when(cond, g) if gid is None else gid.when(cond, g)
        gbase = F.when(cond, b) if gbase is None else gbase.when(cond, b)
        glib = F.when(cond, l) if glib is None else glib.when(cond, l)
    is_gap = okey % 97 == 0
    summary = (
        F.when(
            okey % 4 == 0,
            F.concat(
                F.lit("Moderate: mod"), (okey % 6).cast("string"),
                F.lit(":10."), (okey % 3).cast("string"),
                F.lit(" security update"),
            ),
        )
        .when(okey % 4 == 1, F.lit("Critical: plainword"))
        .when(okey % 4 == 2, F.lit("Low: :edge security update"))
        .otherwise(F.lit(None).cast("string"))
    )
    entry = lambda name: F.struct(
        F.struct(
            name.alias("name"),
            F.concat(F.lit("AlmaLinux:"), ver).alias("ecosystem"),
        ).alias("package"),
        F.lit(None)
        .cast("struct<rpm_modularity:string>")
        .alias("ecosystem_specific"),
    )
    affected = (
        F.when(
            is_gap & (okey % 2 == 1), F.array(entry(gbase), entry(glib))
        )
        .when(is_gap, F.array(entry(gbase)))
        .otherwise(
            F.array(
                entry(F.concat(F.lit("alma-pkg"), (okey % 30).cast("string")))
            )
        )
    )
    advisories = o.select(
        ver.alias("version"),
        F.when(is_gap, gid)
        .otherwise(F.concat(F.lit("ALSA-2025:"), okey.cast("string")))
        .alias("id"),
        F.when(okey % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("1.6."), (okey % 4).cast("string")))
        .alias("schema_version"),
        summary.alias("summary"),
        affected.alias("affected"),
    )
    rec = alma_pipeline(advisories)
    return rec.select(
        "key",
        F.col("id").alias("vuln_id"),
        "schema_version",
        "record_type",
        F.posexplode("affected").alias("a_pos", "a"),
    ).select(
        "key", "vuln_id", "schema_version", "record_type",
        F.col("a_pos").cast("int").alias("a_pos"),
        F.col("a.package.name").alias("pkg"),
        F.col("a.package.ecosystem").alias("ecosystem"),
        F.col("a.ecosystem_specific.rpm_modularity").alias("rpm_modularity"),
    )


@register(
    "openvex1_libraries_dag",
    """
    WITH base AS (
      SELECT o_orderkey AS okey,
             CASE WHEN o_orderkey % 2 = 0 THEN 'python' ELSE 'java' END AS eco,
             o_orderkey AS doc_pos,
             'CVE-2025-' || CAST(o_orderkey % 500 AS VARCHAR) AS vname,
             '2025-' || lpad(CAST(o_orderkey % 12 + 1 AS VARCHAR), 2, '0') ||
               '-' || lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
               AS d0
      FROM orders
    ), stmts AS (
      -- statement 1 (s_pos 0) in every doc; every 6th doc adds a
      -- LATER statement (s_pos 1) for the SAME vuln which must win
      SELECT okey, eco, doc_pos, vname, 0 AS s_pos,
             CASE WHEN okey % 7 = 0 THEN 'under_investigation'
                  WHEN okey % 11 = 0 THEN NULL
                  WHEN okey % 2 = 0 THEN 'fixed' ELSE 'Fixed' END AS status,
             CASE WHEN okey % 13 = 0 THEN NULL
                  ELSE d0 || 'T00:00:00Z' END AS ts,
             d0 AS adv_date
      FROM base
      UNION ALL
      SELECT okey, eco, doc_pos, vname, 1,
             'fixed',
             '2025-12-' || lpad(CAST(okey % 28 + 1 AS VARCHAR), 2, '0') ||
               'T00:00:00Z',
             '2025-12-' || lpad(CAST(okey % 28 + 1 AS VARCHAR), 2, '0')
      FROM base WHERE okey % 6 = 0
    ), valid AS (
      SELECT *,
             row_number() OVER (PARTITION BY eco, doc_pos, vname
                                ORDER BY s_pos DESC) AS rn
      FROM stmts
      WHERE status IS NULL OR lower(status) = 'fixed'
    ), winner AS (
      SELECT * FROM valid WHERE rn = 1
    ), prods AS (
      -- kept products in order: pypi '+cgr.' at 0; maven '.cgr.' via
      -- @id fallback at 1 when okey%3=0 (the npm/no-version/no-purl
      -- decoys the Spark side filters never reach the fixes)
      SELECT w.*, p.p_pos, p.product, p.pname, p.pver, p.ptype FROM winner w,
      LATERAL (
        SELECT 0 AS p_pos,
               'pkg:pypi/lib' || CAST(w.okey % 25 AS VARCHAR) || '@1.' ||
                 CAST(w.okey % 9 AS VARCHAR) || '+cgr.1' AS product,
               'lib' || CAST(w.okey % 25 AS VARCHAR) AS pname,
               '1.' || CAST(w.okey % 9 AS VARCHAR) || '+cgr.1' AS pver,
               'pypi' AS ptype
        UNION ALL
        SELECT 1,
               'pkg:maven/org.g/art' || CAST(w.okey % 25 AS VARCHAR) ||
                 '@2.0.cgr.' || CAST(w.okey % 5 AS VARCHAR),
               'art' || CAST(w.okey % 25 AS VARCHAR),
               '2.0.cgr.' || CAST(w.okey % 5 AS VARCHAR),
               'maven'
        WHERE w.okey % 3 = 0
      ) p
    ), cand AS (
      SELECT eco, doc_pos, vname, p_pos, product,
             adv_date AS date, 'advisory' AS kind
      FROM prods WHERE ts IS NOT NULL
      UNION ALL
      SELECT p.eco, p.doc_pos, p.vname, p.p_pos, p.product,
             f.f_date, f.f_kind
      FROM prods p JOIN (
        SELECT DISTINCT
               'CVE-2025-' || CAST(okey % 500 AS VARCHAR) AS f_vuln,
               'lib' || CAST(okey % 25 AS VARCHAR) AS f_pkg,
               '1.' || CAST(okey % 9 AS VARCHAR) || '+cgr.1' AS f_ver,
               'pypi' AS f_type,
               '2024-' || lpad(CAST((okey % 500) % 12 + 1 AS VARCHAR), 2, '0')
                 || '-' ||
                 lpad(CAST((okey % 25) % 28 + 1 AS VARCHAR), 2, '0') AS f_date,
               'first-observed' AS f_kind
        FROM base WHERE okey % 10 = 0
      ) f ON f.f_vuln = p.vname AND f.f_pkg = p.pname
         AND f.f_ver = p.pver AND f.f_type = p.ptype
    ), best AS (
      SELECT *, row_number() OVER (
               PARTITION BY eco, doc_pos, vname, p_pos
               ORDER BY date, kind) AS brn
      FROM cand
    ), fixes AS (
      SELECT eco, doc_pos, vname, p_pos, product, date, kind,
             CAST(row_number() OVER (PARTITION BY eco, doc_pos, vname
                                     ORDER BY p_pos) - 1 AS INT) AS fx_pos
      FROM best WHERE brn = 1
    )
    SELECT w.eco AS ecosystem, w.vname AS vuln_id,
           'https://images.chainguard.dev/security/' || w.vname AS link,
           w.status, w.ts AS timestamp,
           CAST(CASE WHEN w.okey % 3 = 0 THEN 2 ELSE 1 END AS INT)
             AS n_products,
           f.fx_pos, f.product, f.date AS avail_date, f.kind AS avail_kind
    FROM winner w
    LEFT JOIN fixes f
      ON f.eco = w.eco AND f.doc_pos = w.doc_pos AND f.vname = w.vname
    """,
    doc="Chainguard Libraries OpenVEX end-to-end under the oracle gate "
        "(chainguard_libraries/openvex_parser.py:140-270; pipelines/"
        "chainguard_libraries.py): the SPARK side runs the real purl "
        "regex filter over product lists salted with npm/no-version/"
        "no-purl decoys, the @id fallback, the last-statement-wins pick, "
        "the non-'fixed'-status drop, and the accurate-candidate race "
        "between the statement timestamp and the first-observed store; "
        "the ORACLE derives kept products and candidate winners from the "
        "synthesis variables.  Records with no candidates keep an empty "
        "fixes list (left-join row with null product).  Scale: the store "
        "dim broadcasts; picks are windows on the record key",
    tags=("pipeline", "window", "join"),
)
def openvex1(spark, sf_dir):
    from vunnel_spark.pipelines.chainguard_libraries import openvex_pipeline

    o = t(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    eco = F.when(okey % 2 == 0, "python").otherwise(F.lit("java"))
    vname = F.concat(F.lit("CVE-2025-"), (okey % 500).cast("string"))
    lp = lambda e: F.lpad(e.cast("string"), 2, "0")
    d0 = F.concat(
        F.lit("2025-"), lp(okey % 12 + 1), F.lit("-"), lp(okey % 28 + 1)
    )
    purl_pypi = F.concat(
        F.lit("pkg:pypi/lib"), (okey % 25).cast("string"),
        F.lit("@1."), (okey % 9).cast("string"), F.lit("+cgr.1"),
    )
    purl_maven = F.concat(
        F.lit("pkg:maven/org.g/art"), (okey % 25).cast("string"),
        F.lit("@2.0.cgr."), (okey % 5).cast("string"),
    )
    prod = lambda purl, at_id: F.struct(
        at_id.alias("id"),
        F.struct(purl.alias("purl")).alias("identifiers"),
    )
    nulls = F.lit(None).cast("string")
    products = F.concat(
        F.array(
            prod(purl_pypi, nulls),
            # decoys the filter must drop
            prod(F.lit("pkg:npm/leftpad@1.0+cgr.1"), nulls),
            prod(F.lit("pkg:pypi/noversion"), nulls),
            prod(nulls, nulls),
        ),
        F.when(
            okey % 3 == 0,
            # the maven product arrives via the @id fallback
            F.array(prod(F.lit(""), purl_maven)),
        ).otherwise(
            F.array().cast(
                "array<struct<id:string,identifiers:struct<purl:string>>>"
            )
        ),
    )
    stmt = lambda status, ts, prods: F.struct(
        F.struct(vname.alias("name")).alias("vulnerability"),
        status.alias("status"),
        ts.alias("timestamp"),
        prods.alias("products"),
    )
    status0 = (
        F.when(okey % 7 == 0, F.lit("under_investigation"))
        .when(okey % 11 == 0, nulls)
        .when(okey % 2 == 0, F.lit("fixed"))
        .otherwise(F.lit("Fixed"))
    )
    ts0 = F.when(okey % 13 == 0, nulls).otherwise(
        F.concat(d0, F.lit("T00:00:00Z"))
    )
    ts1 = F.concat(F.lit("2025-12-"), lp(okey % 28 + 1), F.lit("T00:00:00Z"))
    statements = F.concat(
        F.array(stmt(status0, ts0, products)),
        F.when(
            okey % 6 == 0, F.array(stmt(F.lit("fixed"), ts1, products))
        ).otherwise(
            F.array().cast(
                "array<struct<vulnerability:struct<name:string>,"
                "status:string,timestamp:string,"
                "products:array<struct<id:string,"
                "identifiers:struct<purl:string>>>>>"
            )
        ),
    )
    docs = o.select(
        eco.alias("ecosystem"),
        okey.alias("doc_pos"),
        statements.alias("statements"),
    )
    fixdates = (
        o.filter(okey % 10 == 0)
        .select(
            vname.alias("vuln_id"),
            F.concat(F.lit("lib"), (okey % 25).cast("string")).alias("package"),
            F.concat(
                F.lit("1."), (okey % 9).cast("string"), F.lit("+cgr.1")
            ).alias("fix_version"),
            F.lit("pypi").alias("ecosystem"),
            F.to_date(
                F.concat(
                    F.lit("2024-"), lp((okey % 500) % 12 + 1),
                    F.lit("-"), lp((okey % 25) % 28 + 1),
                )
            ).alias("date"),
            F.lit("first-observed").alias("kind"),
            F.lit(True).alias("accurate"),
        )
        .distinct()
    )
    rec = openvex_pipeline(docs, fixdates)
    return rec.select(
        "ecosystem",
        "vuln_id",
        "link",
        F.col("document.status").alias("status"),
        F.col("document.timestamp").alias("timestamp"),
        F.size("document.products").cast("int").alias("n_products"),
        F.posexplode_outer("fixes").alias("fx_pos", "fx"),
    ).select(
        "ecosystem", "vuln_id", "link", "status", "timestamp", "n_products",
        F.col("fx_pos").cast("int").alias("fx_pos"),
        F.col("fx.product").alias("product"),
        F.col("fx.available.date").alias("avail_date"),
        F.col("fx.available.kind").alias("avail_kind"),
    )
