"""Additional provider-pipeline DAG queries (tail module — keeps the
pinned gate window stable; the first eight provider DAGs live in
pipelines_q inside the window)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


@register(
    "secdb1_end_to_end_dag",
    """
    WITH fixes AS (
      SELECT 'alp' || CAST(o_custkey % 2 AS VARCHAR) AS distro,
             'pkg' || CAST(o_orderkey % 40 AS VARCHAR) AS name,
             '1.' || CAST(o_orderkey % 5 AS VARCHAR) AS version,
             'CVE-2024-' || CAST(o_orderkey % 300 AS VARCHAR) AS vid,
             o_orderkey % 26 = 0 AS rej
      FROM orders
    ), rejected_pairs AS (
      SELECT DISTINCT name, vid FROM fixes WHERE rej
    )
    SELECT DISTINCT f.distro, f.vid, f.name, f.version
    FROM fixes f
    WHERE NOT EXISTS (SELECT 1 FROM rejected_pairs r
                      WHERE r.name = f.name AND r.vid = f.vid)
    """,
    doc="Alpine/wolfi secdb provider DAG end-to-end "
        "(pipelines/secdb.py; reference wolfi/parser.py:153-255, "
        "alpine/parser.py:193-313): nested secdb docs synthesized from "
        "orders -> multi-level explode with multi-id split -> CVE-pattern "
        "filter (a non-CVE noise id is planted per row and must vanish) "
        "-> rejection anti-join (J5) -> sorted FixedIn assembly, exploded "
        "back flat so the oracle states the exact expected artifact table",
    tags=("pipeline", "explode", "filter"),
)
def secdb1(spark, sf_dir):
    from vunnel_spark.pipelines.secdb import (
        apply_rejections,
        assemble_records,
        cve_filter,
        explode_fixes,
    )

    o = t(spark, sf_dir, "orders")
    vid = F.concat(F.lit("CVE-2024-"), (F.col("o_orderkey") % 300).cast("string"))
    noise = F.concat(F.lit("XRB-"), (F.col("o_orderkey") % 7).cast("string"))
    db = o.select(
        F.concat(F.lit("alp"), (F.col("o_custkey") % 2).cast("string")).alias(
            "distro"
        ),
        F.array(
            F.struct(
                F.struct(
                    F.concat(
                        F.lit("pkg"), (F.col("o_orderkey") % 40).cast("string")
                    ).alias("name"),
                    F.array(
                        F.struct(
                            F.concat(
                                F.lit("1."),
                                (F.col("o_orderkey") % 5).cast("string"),
                            ).alias("version"),
                            # one string carrying BOTH ids: exercises the
                            # whitespace split + the CVE-pattern filter
                            F.array(F.concat_ws(" ", vid, noise)).alias("ids"),
                        )
                    ).alias("secfixes"),
                ).alias("pkg")
            )
        ).alias("packages"),
    )
    fixes = cve_filter(explode_fixes(db))
    rejections = (
        o.filter(F.col("o_orderkey") % 26 == 0)
        .select(
            F.concat(F.lit("pkg"), (F.col("o_orderkey") % 40).cast("string")).alias(
                "pkg"
            ),
            vid.alias("vid"),
        )
        .distinct()
    )
    records = assemble_records(apply_rejections(fixes, rejections))
    return records.select(
        "distro", "vid", F.explode("FixedIn").alias("f")
    ).select(
        "distro", "vid", F.col("f.Name").alias("name"), F.col("f.Version").alias("version")
    ).distinct()


@register(
    "alas1_end_to_end_dag",
    """
    WITH pkgs AS (
      -- name:version AFTER get_package_name_version's split (arch
      -- stripped, epoch dropped)
      SELECT p_partkey % 100 AS page_id,
             'pkg' || CAST(p_partkey AS VARCHAR) || ':'
                   || CAST(p_size AS VARCHAR) || '.1-1.amzn2' AS pkg
      FROM part WHERE p_partkey % 3 <> 1
    ), rss AS (
      SELECT DISTINCT p_partkey % 100 AS page_id,
             CASE p_partkey % 100 % 4 WHEN 0 THEN 'critical' WHEN 1 THEN 'important'
                  WHEN 2 THEN 'medium' ELSE 'low' END AS rss_sev
      FROM part
    )
    SELECT 'ALAS-2026-' || CAST(k.page_id AS VARCHAR) AS alas_id,
           CASE r.rss_sev WHEN 'critical' THEN 'Critical' WHEN 'important' THEN 'High'
                WHEN 'medium' THEN 'Medium' ELSE 'Low' END AS severity,
           'Overview for page ' || CAST(k.page_id AS VARCHAR) AS description,
           string_agg(DISTINCT k.pkg, '|' ORDER BY k.pkg) AS fixed_csv
    FROM pkgs k JOIN rss r ON k.page_id = r.page_id
    GROUP BY k.page_id, r.rss_sev
    """,
    doc="Amazon ALAS provider DAG end-to-end (reference providers/amazon/"
        "parser.py:80-331): RSS inventory (severity per ALAS, synthesized) "
        "joined to the HTML fixed-package extraction (F7's real stateful "
        "parser over synthesized pages), severity normalized "
        "(rss->Critical/High/Medium/Low per amazon/parser.py severity map), "
        "deterministically sorted FixedIn folded per advisory — the full "
        "scan->parse->join->normalize->assemble provider shape with an "
        "exact SQL oracle",
    tags=("pipeline", "parse", "join"),
)
def alas1(spark, sf_dir):
    from vunnel_spark.functions.html import (
        alas_name_version,
        extract_alas_packages,
    )
    from vunnel_spark.queries.html_q import _alas_pages

    ex = extract_alas_packages(_alas_pages(spark, sf_dir))
    # the reference's fixed_in is a SET of (name, version) AFTER the
    # split (parser.py:203-206 + get_package_name_version), so arch
    # variants of the same build dedup and the epoch never surfaces
    nv = alas_name_version(F.col("pkg"))
    ex = ex.withColumn("fix", F.concat_ws(":", nv["name"], nv["version"]))
    part = t(spark, sf_dir, "part")
    rss = part.select(
        (F.col("p_partkey") % 100).alias("page_id"),
        F.element_at(
            F.array(F.lit("critical"), F.lit("important"), F.lit("medium"), F.lit("low")),
            ((F.col("p_partkey") % 100 % 4) + 1).cast("int"),
        ).alias("rss_sev"),
    ).distinct()
    sev_norm = (
        F.when(F.col("rss_sev") == "critical", "Critical")
        .when(F.col("rss_sev") == "important", "High")
        .when(F.col("rss_sev") == "medium", "Medium")
        .otherwise("Low")
    )
    return (
        ex.join(F.broadcast(rss), "page_id")
        .groupBy("page_id", "rss_sev")
        .agg(
            F.first("overview").alias("description"),
            F.array_join(F.array_sort(F.collect_set("fix")), "|").alias("fixed_csv"),
        )
        .select(
            F.concat(F.lit("ALAS-2026-"), F.col("page_id").cast("string")).alias(
                "alas_id"
            ),
            sev_norm.alias("severity"),
            "description",
            "fixed_csv",
        )
    )


@register(
    "kev1_end_to_end_dag",
    """
    WITH entries AS (
      SELECT 'CVE-2021-' || CAST(o_orderkey % 500 AS VARCHAR) AS cve_id,
             'vendor' || CAST(o_custkey % 30 AS VARCHAR) AS vendor_project,
             'prod' || CAST(o_orderkey % 60 AS VARCHAR) AS product,
             CAST(o_orderdate AS VARCHAR) AS date_added,
             o_orderkey % 7 = 0 AS known_ransomware,
             o_orderkey AS seq
      FROM orders
    )
    SELECT cve_id AS identifier, vendor_project, product, date_added,
           known_ransomware
    FROM (SELECT *, row_number() OVER (PARTITION BY cve_id ORDER BY seq DESC) AS rn
          FROM entries)
    WHERE rn = 1
    """,
    doc="KEV provider DAG end-to-end (reference providers/kev/"
        "manager.py:26-41): the catalog document's vulnerabilities[] array "
        "(synthesized from orders, one catalog page per 20 orders) is "
        "exploded to one envelope per entry keyed lower-case cveID, with "
        "the A12 last-wins dedup a re-published catalog entry gets on "
        "write (INSERT OR REPLACE, result.py:95-99) expressed as a "
        "row_number window over the entry sequence",
    tags=("pipeline", "explode"),
)
def kev1(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    # catalog shape: one doc per 20-order page, vulnerabilities[] inside —
    # the explode mirrors kev/manager._parse over catalog["vulnerabilities"]
    catalog = o.groupBy((F.col("o_orderkey") % 20).alias("page")).agg(
        F.collect_list(
            F.struct(
                F.concat(F.lit("CVE-2021-"), (F.col("o_orderkey") % 500).cast("string")).alias("cveID"),
                F.concat(F.lit("vendor"), (F.col("o_custkey") % 30).cast("string")).alias("vendorProject"),
                F.concat(F.lit("prod"), (F.col("o_orderkey") % 60).cast("string")).alias("product"),
                F.col("o_orderdate").cast("string").alias("dateAdded"),
                (F.col("o_orderkey") % 7 == 0).alias("knownRansomwareCampaignUse"),
                F.col("o_orderkey").alias("seq"),
            )
        ).alias("vulnerabilities")
    )
    entries = catalog.select(F.explode("vulnerabilities").alias("v")).select(
        F.col("v.cveID").alias("identifier"),
        F.col("v.vendorProject").alias("vendor_project"),
        F.col("v.product").alias("product"),
        F.col("v.dateAdded").alias("date_added"),
        F.col("v.knownRansomwareCampaignUse").alias("known_ransomware"),
        F.col("v.seq").alias("seq"),
    )
    w = Window.partitionBy("identifier").orderBy(F.col("seq").desc())
    return (
        entries.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )


@register(
    "epss1_end_to_end_dag",
    """
    WITH scores AS (
      SELECT 'CVE-2022-' || CAST(o_orderkey % 1000 AS VARCHAR) AS cve,
             max(round((o_orderkey % 997) / 997.0, 4)) AS epss
      FROM orders GROUP BY o_orderkey % 1000
    )
    SELECT cve, epss,
           round(percent_rank() OVER (ORDER BY epss), 6) AS percentile,
           '2026-08-14' AS score_date
    FROM scores
    """,
    doc="EPSS provider DAG end-to-end (reference providers/epss/"
        "manager.py:64-134): the S5 CSV-with-comment-header scan shape — "
        "float score casts, the '#…score_date' comment lifted into a "
        "literal column, one record per CVE with its percentile; "
        "percent_rank is rank-based so ties stay deterministic.  "
        "percentile-of-corpus is inherently global, but the plan is NOT a "
        "single-partition window (the last one in the registry, retired "
        "r12): epss lives in [0, 1], so floor(epss*1024) gives order-"
        "aligned VALUE-DOMAIN buckets — tie values can't straddle a "
        "bucket — and the global rank decomposes into a per-bucket rank() "
        "window plus a tiny exclusive-prefix offset frame (one row per "
        "bucket, the documented bounded-carry window class); N comes from "
        "the same tiny frame, so no second pass over the scores",
    tags=("pipeline", "scalar"),
)
def epss1(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    scores = (
        o.select(
            F.concat(F.lit("CVE-2022-"), (F.col("o_orderkey") % 1000).cast("string")).alias("cve"),
            F.round((F.col("o_orderkey") % 997) / 997.0, 4).alias("epss0"),
        )
        .groupBy("cve")
        .agg(F.max("epss0").alias("epss"))
        .withColumn("bucket", F.floor(F.col("epss") * 1024))
    )
    local = scores.withColumn(
        "local_rank",
        F.rank().over(Window.partitionBy("bucket").orderBy("epss")),
    )
    # tiny frame: one row per value-domain bucket (<= 1025 rows at ANY
    # corpus size)
    w_bucket = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        scores.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("before", F.coalesce(F.sum("n").over(w_bucket), F.lit(0)))
        .withColumn(
            "total",
            F.sum("n").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select("bucket", "before", "total")
    )
    return local.join(F.broadcast(offsets), "bucket").select(
        "cve",
        "epss",
        F.when(F.col("total") == 1, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("before") + F.col("local_rank") - 1)
                / (F.col("total") - 1),
                6,
            )
        )
        .alias("percentile"),
        F.lit("2026-08-14").alias("score_date"),
    )


@register(
    "eol1_end_to_end_dag",
    """
    WITH cycles AS (
      SELECT 'product' || CAST(p_partkey % 80 AS VARCHAR) AS product,
             CAST(p_partkey AS VARCHAR) || '.' || CAST(g.c AS VARCHAR) AS cycle,
             CASE WHEN (p_partkey + g.c) % 3 = 0
                  THEN CAST(DATE '2024-01-01' + CAST((p_partkey + g.c * 37) % 900 AS INT) AS VARCHAR)
                  ELSE NULL END AS eol_date,
             (p_partkey + g.c) % 3 <> 0 AS supported
      FROM part, LATERAL (SELECT unnest(generate_series(1, p_size % 4 + 1)) AS c) g
    )
    SELECT product, cycle, eol_date, supported,
           product || '/' || cycle AS identifier
    FROM cycles
    """,
    doc="EOL provider DAG end-to-end (reference providers/eol/"
        "manager.py:31-56): endoflife.date products JSON (synthesized "
        "nested from part) exploded to one record per (product, release) "
        "with the product name stamped into each cycle record, and the "
        "eol field's date-or-boolean union normalized to "
        "(eol_date, supported)",
    tags=("pipeline", "explode"),
)
def eol1(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    # nested product docs: releases[] built per part row, then exploded —
    # mirrors the manager's per-product, per-release yield
    docs = p.select(
        F.concat(F.lit("product"), (F.col("p_partkey") % 80).cast("string")).alias("name"),
        F.transform(
            F.sequence(F.lit(1), F.col("p_size") % 4 + 1),
            lambda c: F.struct(
                F.concat(F.col("p_partkey").cast("string"), F.lit("."), c.cast("string")).alias("name"),
                F.when(
                    (F.col("p_partkey") + c) % 3 == 0,
                    (
                        F.date_add(F.lit("2024-01-01").cast("date"),
                                   ((F.col("p_partkey") + c * 37) % 900).cast("int"))
                    ).cast("string"),
                ).alias("eol"),
            ),
        ).alias("releases"),
    )
    cycles = docs.select(
        F.col("name").alias("product"), F.explode("releases").alias("r")
    )
    return cycles.select(
        "product",
        F.col("r.name").alias("cycle"),
        F.col("r.eol").alias("eol_date"),
        F.col("r.eol").isNull().alias("supported"),
        F.concat_ws("/", "product", F.col("r.name")).alias("identifier"),
    )


@register(
    "j11_rhsa_fallback_pkg_guess",
    """
    WITH ar AS (
      SELECT DISTINCT
             'CVE-2023-' || CAST(o_orderkey % 60 AS VARCHAR) AS cve,
             'plat' || CAST(o_custkey % 3 AS VARCHAR) AS platform,
             'cpe:/a:redhat:p' || CAST(o_custkey % 3 AS VARCHAR) AS cpe_prefix,
             'RHSA-2023:' || CAST(o_orderkey % 12 AS VARCHAR) AS rhsa_id,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE 'pkg' || CAST(o_custkey % 50 AS VARCHAR) END AS name,
             '1.' || CAST(o_orderkey % 5 AS VARCHAR) AS version
      FROM orders
    ),
    named AS (
      SELECT DISTINCT cve, platform, name, version FROM ar WHERE name IS NOT NULL
    ),
    fpi AS (
      SELECT DISTINCT rhsa_id, name,
             cpe_prefix || ':ga' AS platform_cpe,
             '2.' || substr(version, 3, 1) AS fix_version
      FROM ar WHERE name IS NOT NULL
    ),
    platnames AS (SELECT DISTINCT cve, platform, name FROM ar WHERE name IS NOT NULL),
    candidates AS (
      SELECT DISTINCT a.cve, a.platform, b.name AS cand_name
      FROM (SELECT DISTINCT cve, platform FROM ar) a
      JOIN platnames b ON a.cve = b.cve AND a.platform <> b.platform
      WHERE NOT EXISTS (SELECT 1 FROM platnames own
                        WHERE own.cve = a.cve AND own.platform = a.platform
                          AND own.name = b.name)
    ),
    nameless AS (
      SELECT DISTINCT cve, platform, cpe_prefix, rhsa_id
      FROM ar WHERE name IS NULL AND rhsa_id IS NOT NULL
    ),
    probes AS (
      SELECT n.cve, n.platform, c.cand_name AS name, f.fix_version AS version,
             row_number() OVER (
               PARTITION BY n.cve, n.platform, n.rhsa_id
               ORDER BY c.cand_name, f.fix_version) AS rn
      FROM nameless n
      JOIN candidates c ON c.cve = n.cve AND c.platform = n.platform
      JOIN fpi f ON f.rhsa_id = n.rhsa_id AND f.name = c.cand_name
                AND starts_with(f.platform_cpe, n.cpe_prefix)
    )
    SELECT cve, platform, name, version, FALSE AS guessed FROM named
    UNION
    SELECT cve, platform, name, version, TRUE AS guessed
    FROM probes WHERE rn = 1
    """,
    doc="J11 RHSA-id fallback package guess (reference rhel/parser.py:"
        "514-549: an affected release with no package name probes the "
        "OTHER platforms' package names — U2 set union minus own platform "
        "— against the RHSA's product lookup under the J1 startswith-CPE "
        "condition; first hit adopts that name+version, no hit drops the "
        "row).  The reference iterates a Python set, so 'first' is "
        "nondeterministic there; this form pins the deterministic "
        "refinement (lowest candidate name, then version) via a window. "
        "Registered in this tail module so the pinned round-5 gate window "
        "(which fronts the joins module) does not shift",
    tags=("pipeline", "join", "setop"),
)
def j11(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    ar = o.select(
        F.concat(F.lit("CVE-2023-"), (F.col("o_orderkey") % 60).cast("string")).alias("cve"),
        F.concat(F.lit("plat"), (F.col("o_custkey") % 3).cast("string")).alias("platform"),
        F.concat(F.lit("cpe:/a:redhat:p"), (F.col("o_custkey") % 3).cast("string")).alias("cpe_prefix"),
        F.concat(F.lit("RHSA-2023:"), (F.col("o_orderkey") % 12).cast("string")).alias("rhsa_id"),
        F.when(
            F.col("o_orderkey") % 11 != 0,
            # name keyed on CUSTKEY, space 50: decoupled from cve (which is
            # orderkey-derived) so other-platform candidates are not always
            # already present on the nameless row's own platform
            F.concat(F.lit("pkg"), (F.col("o_custkey") % 50).cast("string")),
        ).alias("name"),
        F.concat(F.lit("1."), (F.col("o_orderkey") % 5).cast("string")).alias("version"),
    ).distinct()
    named = ar.filter(F.col("name").isNotNull()).select(
        "cve", "platform", "name", "version"
    ).distinct()
    fpi = ar.filter(F.col("name").isNotNull()).select(
        "rhsa_id",
        "name",
        F.concat(F.col("cpe_prefix"), F.lit(":ga")).alias("platform_cpe"),
        F.concat(F.lit("2."), F.substring(F.col("version"), 3, 1)).alias("fix_version"),
    ).distinct()
    platnames = ar.filter(F.col("name").isNotNull()).select(
        "cve", "platform", "name"
    ).distinct()
    # U2: names on OTHER platforms of the same CVE, minus this platform's own
    candidates = (
        ar.select("cve", "platform").distinct().alias("a")
        .join(
            platnames.alias("b"),
            (F.col("a.cve") == F.col("b.cve"))
            & (F.col("a.platform") != F.col("b.platform")),
        )
        .select(
            F.col("a.cve").alias("cve"),
            F.col("a.platform").alias("platform"),
            F.col("b.name").alias("cand_name"),
        )
        .distinct()
        .join(
            platnames.withColumnRenamed("name", "cand_name"),
            ["cve", "platform", "cand_name"],
            "left_anti",
        )
    )
    nameless = (
        ar.filter(F.col("name").isNull() & F.col("rhsa_id").isNotNull())
        .select("cve", "platform", "cpe_prefix", "rhsa_id")
        .distinct()
    )
    probes = (
        nameless.join(candidates, ["cve", "platform"])
        .join(
            fpi.withColumnRenamed("name", "cand_name"),
            ["rhsa_id", "cand_name"],
        )
        .filter(F.col("platform_cpe").startswith(F.col("cpe_prefix")))
    )
    w = Window.partitionBy("cve", "platform", "rhsa_id").orderBy(
        "cand_name", "fix_version"
    )
    guessed = (
        probes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cve",
            "platform",
            F.col("cand_name").alias("name"),
            F.col("fix_version").alias("version"),
        )
    )
    return (
        named.withColumn("guessed", F.lit(False))
        .unionByName(guessed.withColumn("guessed", F.lit(True)))
        .distinct()
    )
