"""OSV passthrough pipeline — SURVEY §7.2 phase 5: patch first-observed
fix dates into nested OSV advisories, leaving everything else untouched.

Reference flow (/root/reference/src/vunnel/utils/osv.py:9-108, used by the
alma/bitnami/rocky/ubuntu OSV providers): for every ``affected[].ranges[]
.events[]`` carrying a ``fixed`` version, gather candidate fix dates — the
first-observed store (accurate) plus the advisory ``published`` date
(inaccurate fallback) — pick the best accurate-first, and write
``database_specific.anchore.fixes = [{version, date, kind}]`` on the range.

The reference mutates each advisory dict in place while iterating.  The
Spark realization is the idiomatic explode -> join -> reassemble: the
nested document is flattened to fixed-version grain, enriched with ONE
shuffle-joined candidate pick (priority_pick, same operator as J9), and
the arrays are rebuilt in their original order from collected position
structs.  No UDFs, no per-document Python — the whole patch is Catalyst
expressions, so it scales to an arbitrary advisory corpus.

Sourcing: the advisory corpus (git checkouts for alma/bitnami, reference
providers/alma/git.py:20-50) and the first-observed fix-date table (an
OCI artifact, reference tool/fixdate/grype_db_first_observed.py:67-114)
are fetched outside this engine; Spark reads the landed files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vunnel_spark.operators.windows import priority_pick


def rocky_normalize_ecosystem(eco):
    """Rocky's fix-date lookup ecosystem (providers/rocky/parser.py:
    69-74): 'Rocky Linux:<v>' (case-insensitive, exactly one colon)
    -> 'rocky:<v>', anything else lowercased whole."""
    parts = F.split(eco, ":", -1)
    return F.when(
        (F.size(parts) == 2) & (F.lower(parts[0]) == "rocky linux"),
        F.concat(F.lit("rocky:"), parts[1]),
    ).otherwise(F.lower(eco))


def osv_patch_fix_dates(
    advisories: DataFrame,
    fixdates: DataFrame,
    ecosystem_processor=None,
    validate_store_dim: bool = False,
) -> DataFrame:
    """Return ``advisories`` with per-range fix dates patched in.

    ``advisories``: (id, published timestamp, affected array<struct<
        package struct<name, ecosystem>,
        ranges array<struct<type, events array<struct<introduced, fixed>>>>>>)
    ``fixdates``:   (vuln_id, package, ecosystem, fix_version,
                     date date, kind, accurate boolean) — with
                     NORMALIZED package/ecosystem keys: the reference
                     store writes through normalize_package_name and
                     the finder-normalized ecosystem, and the probe
                     below normalizes identically (functions/fixdate.py,
                     r13).

    CONTRACT: ``fixdates`` must carry AT MOST ONE row per
    (vuln_id, package, ecosystem, fix_version).  The reference's store
    guarantees this structurally — each per-provider first-observed
    store returns early with a single result per key
    (tool/fixdate/vunnel_first_observed.py:35-63), and finder.best
    takes the FIRST accurate first-observed result (finder.py:180-194).
    The cap below uses ``min`` over accurate store dates, which equals
    first-result only under one-row-per-key; a multi-row dim would
    silently pick the earliest instead of an undefined "first"
    (VERDICT r12 What's-wrong #4).  Pass ``validate_store_dim=True`` to
    enforce the contract at execution time (a count-over-key window +
    assert_true on the dim — one extra small-dim shuffle, so opt-in;
    the registered gates pin uniqueness by construction instead).

    ``ecosystem_processor`` (Column -> Column) rewrites the LOOKUP
    ecosystem only — the record's package.ecosystem passes through
    unchanged, exactly like the reference's hook (utils/osv.py:47-48;
    rocky passes ``normalize_ecosystem`` -> rocky_normalize_ecosystem
    here, bitnami/alma pass nothing).

    Output schema matches the input with ``database_specific
    .anchore.fixes`` added to each range that has any fixed event
    (osv.py:104-108: only set when fixes were found).  Empty ``affected``
    / ``ranges`` arrays pass through as empty arrays.  Affected entries
    with a falsy package name or ecosystem get NO fixes at all — not
    even the published-date fallback (osv.py:39-46 ``continue``s before
    the range loop).

    Determinism requirement: the nested arrays in ``advisories`` must be
    DETERMINISTIC per row (e.g. array_sort'ed if built via collect_list).
    The patch addresses ranges positionally and the input subtree is
    evaluated more than once in the DAG; a partition-order-dependent
    array would let the two evaluations disagree on positions.
    """
    # -- flatten to fixed-version grain (outer explodes keep empty docs)
    ex = advisories.select(
        "id", "published", F.posexplode_outer("affected").alias("a_pos", "aff")
    )
    rg = ex.select(
        "id",
        "published",
        "a_pos",
        F.col("aff.package").alias("package"),
        F.posexplode_outer("aff.ranges").alias("r_pos", "rng"),
    )
    # rg feeds TWO consumers (the event-grain candidate build below and
    # the positional rebuild join at the end) whose pruned subtrees
    # differ, so without a persist the corpus scan + double explode
    # evaluates twice (r15; the openvex1/minhash multi-branch
    # discipline, guide §5).  In-query intermediate only — harnesses
    # clearCache() between runs, nothing survives a query.
    rg = rg.persist()
    from vunnel_spark.functions.fixdate import (
        normalize_fixdate_ecosystem,
        normalize_fixdate_package,
    )

    raw_eco = F.col("package.ecosystem")
    # the store PROBE keys are normalized (r13 fidelity find): the
    # provider hook runs first (utils/osv.py:47-48), then finder.best's
    # _normalize_ecosystem (finder.py:147), then the store's
    # normalize_package_name with that ecosystem
    # (vunnel_first_observed.py:128).  pkg/eco here exist only as probe
    # keys — the patched records never carry them — so normalizing the
    # columns is exactly normalizing the probe.
    hook_eco = ecosystem_processor(raw_eco) if ecosystem_processor else raw_eco
    probe_eco = normalize_fixdate_ecosystem(hook_eco)
    ev = (
        # falsy name/ecosystem skip the whole patch, fallback included
        # (osv.py:39-46); the guard tests the RAW values, pre-processor
        rg.filter(
            (F.coalesce(F.col("package.name"), F.lit("")) != "")
            & (F.coalesce(raw_eco, F.lit("")) != "")
        )
        .select(
            "id",
            "published",
            "a_pos",
            "r_pos",
            normalize_fixdate_package(F.col("package.name"), probe_eco).alias("pkg"),
            probe_eco.alias("eco"),
            F.explode("rng.events").alias("ev"),
        )
        .filter(F.col("ev.fixed").isNotNull())
        .select(
            "id", "published", "a_pos", "r_pos", "pkg", "eco",
            F.col("ev.fixed").alias("fixed"),
        )
        # ev feeds both candidate branches (store hits + published
        # fallback); column pruning keeps the two subtrees unequal so
        # ReuseExchange cannot dedup them — persist the THIN event
        # frame once instead of exploding/normalizing twice (r15).
        .persist()
    )

    # -- candidates: store rows + the advisory published fallback
    if validate_store_dim:
        from pyspark.sql import Window as _W

        _cnt = F.count(F.lit(1)).over(
            _W.partitionBy("vuln_id", "package", "ecosystem", "fix_version")
        )
        _ok = F.assert_true(
            _cnt == 1,
            F.concat(
                F.lit("fixdate store dim has duplicate key: "),
                F.concat_ws("/", "vuln_id", "package", "ecosystem", "fix_version"),
            ),
        )
        # thread the assertion through a column the plan actually uses
        # (assert_true yields NULL on success) — a dropped helper column
        # would be pruned by Catalyst and never evaluate
        fixdates = fixdates.withColumn(
            "date", F.when(_ok.isNull(), F.col("date"))
        )
    dim = fixdates.select(
        F.col("vuln_id").alias("id"),
        F.col("package").alias("pkg"),
        F.col("ecosystem").alias("eco"),
        F.col("fix_version").alias("fixed"),
        "date",
        "kind",
        "accurate",
    )
    hits = ev.join(dim, ["id", "pkg", "eco", "fixed"]).withColumn(
        "is_store", F.lit(True)
    )
    fallback = (
        ev.filter(F.col("published").isNotNull())
        .select(
            "id", "published", "a_pos", "r_pos", "pkg", "eco", "fixed",
            F.col("published").cast("date").alias("date"),
            F.lit("advisory").alias("kind"),
            F.lit(False).alias("accurate"),
        )
        .withColumn("is_store", F.lit(False))
    )
    cand = hits.select(*fallback.columns).unionByName(fallback)

    # -- best candidate per fixed event, emulating finder.best EXACTLY
    # (tool/fixdate/finder.py:137-203).  The store's accurate
    # first-observed date is NOT a competitor ranked by accuracy — it is
    # a CAP and a last resort: any candidate dated <= it wins (in
    # accuracy-tier order), candidates after it are discarded, and the
    # store itself only surfaces when no candidate survives the cap.
    # With an inaccurate-only store there is no cap and candidates win
    # outright, the inaccurate store trailing last (results order:
    # accurate candidates, strategies, inaccurate candidates, then
    # first-observed appended).  The pre-r12 pick here ranked
    # [~accurate, date] flat, which handed a store hit the win whenever
    # the published date was <= it — the exact opposite of the <= test
    # on finder.py:187, and the common case, since advisories publish
    # before scanners first observe the fix.  The cap window shares the
    # pick's partitioning, so Catalyst plans ONE exchange for both.
    from pyspark.sql import Window

    cap = F.min(
        F.when(F.col("is_store") & F.col("accurate"), F.col("date"))
    ).over(Window.partitionBy("id", "a_pos", "r_pos", "fixed"))
    tier = (
        F.when(
            ~F.col("is_store") & (cap.isNull() | (F.col("date") <= cap)),
            F.lit(0),
        )
        .when(F.col("is_store") & F.col("accurate"), F.lit(1))
        .when(F.col("is_store"), F.lit(2))
        .otherwise(F.lit(3))
    )
    best = priority_pick(
        cand.withColumn("_tier", tier),
        ["id", "a_pos", "r_pos", "fixed"],
        [F.col("_tier"), ~F.col("accurate"), F.col("date"), F.col("kind")],
    ).drop("_tier")

    # -- fixes array per range, deterministic version order (O2)
    fixes = best.groupBy("id", "a_pos", "r_pos").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("fixed").alias("version"),
                    F.col("date").cast("string").alias("date"),
                    F.col("kind").alias("kind"),
                )
            )
        ).alias("fixes")
    )

    # -- rebuild ranges with database_specific patched in
    patched = rg.join(fixes, ["id", "a_pos", "r_pos"], "left").select(
        "id",
        "published",
        "a_pos",
        "package",
        F.when(
            F.col("rng").isNotNull(),
            F.struct(
                F.col("r_pos"),
                F.struct(
                    F.col("rng.type").alias("type"),
                    F.col("rng.events").alias("events"),
                    F.when(
                        F.col("fixes").isNotNull(),
                        F.struct(F.struct(F.col("fixes").alias("fixes")).alias("anchore")),
                    ).alias("database_specific"),
                ).alias("rng"),
            ),
        ).alias("pos_rng"),
    )

    # -- reassemble: ranges ordered by r_pos, affected ordered by a_pos
    aff = (
        patched.groupBy("id", "a_pos")
        .agg(
            F.first("published").alias("published"),
            F.first("package").alias("package"),
            F.transform(
                F.array_sort(F.collect_list("pos_rng")), lambda s: s.getField("rng")
            ).alias("ranges"),
        )
        .select(
            "id",
            "published",
            F.when(
                F.col("a_pos").isNotNull(),
                F.struct(
                    F.col("a_pos"),
                    F.struct(
                        F.col("package").alias("package"), F.col("ranges").alias("ranges")
                    ).alias("aff"),
                ),
            ).alias("pos_aff"),
        )
    )
    return (
        aff.groupBy("id")
        .agg(
            F.first("published").alias("published"),
            F.transform(
                F.array_sort(F.collect_list("pos_aff")), lambda s: s.getField("aff")
            ).alias("affected"),
        )
    )
