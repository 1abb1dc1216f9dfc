"""Aggregation operators (SURVEY §2.5 A1-A14 + generalized rollups).

Record assembly (collect_list of structs), max-by-custom-order reductions
(the consumer of the version sort-key encoders), dedup modes, and the
generalized cube/rollup surface the reference lacks but a Spark engine
gets for free.

Scale notes: every groupBy here is a partial (map-side) + final aggregate —
verified via .explain() showing HashAggregate pairs; collect_list queries
group on the table's natural key so the shuffle moves each row once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


@register(
    "a1_record_assembly",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_partkey || '@' || CAST(l_quantity AS INT))), '|')
             AS fixed_in,
           count(*) AS n_pkgs
    FROM lineitem
    GROUP BY l_orderkey
    """,
    doc="A1 FixedIn[] record assembly per vuln id (wolfi/parser.py:198-255): "
        "groupBy(id).agg(sorted collect_list) — deterministic O2 ordering. "
        "Serialized to a '|'-joined string: the gate's canonicalizer requires "
        "hashable scalars, and the sorted-array semantics survive the join",
    tags=("agg",),
)
def a1(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    entry = F.concat_ws("@", F.col("l_partkey"), F.col("l_quantity").cast("int"))
    return li.groupBy("l_orderkey").agg(
        F.concat_ws("|", F.array_sort(F.collect_list(entry))).alias("fixed_in"),
        F.count(F.lit(1)).alias("n_pkgs"),
    )


@register(
    "a2_severity_max_merge",
    """
    SELECT o_custkey,
           arg_max(o_orderpriority,
                   CASE o_orderpriority WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
                        WHEN '3-MEDIUM' THEN 3 WHEN '5-LOW' THEN 2 ELSE 1 END) AS top_severity
    FROM orders
    GROUP BY o_custkey
    """,
    doc="A2 severity max-merge via rank (utils/vulnerability.py:10-17): "
        "max_by(severity, rank)",
    tags=("agg",),
)
def a2(spark, sf_dir):
    rank = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 5)
        .when(F.col("o_orderpriority") == "2-HIGH", 4)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "5-LOW", 2)
        .otherwise(1)
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max_by("o_orderpriority", rank).alias("top_severity"))
    )


@register(
    "a3_maxby_rpm_version",
    """
    SELECT l_suppkey, ver AS newest FROM (
      SELECT l_suppkey, ver,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY qty DESC, line DESC,
                                         (rc = 0) DESC, rc DESC) AS rn
      FROM (
        SELECT l_suppkey, l_linenumber AS line, CAST(l_quantity AS INT) AS qty,
               CAST(l_orderkey % 4 AS INT) AS rc,
               CAST(l_quantity AS INT) || '.' || l_linenumber ||
                 CASE WHEN l_orderkey % 4 = 0 THEN ''
                      ELSE '~rc' || CAST(l_orderkey % 4 AS VARCHAR) END AS ver
        FROM lineitem))
    WHERE rn = 1
    """,
    doc="A3 max-by-rpm-version reduction (rhel/parser.py:580-614): versions "
        "synthesized as qty.line[~rcN]; Spark side sorts by the rpm sort-key "
        "encoding (functions/versions.py F1), oracle by the equivalent "
        "numeric tuple — hash-match proves the encoder is order-preserving",
    tags=("agg", "udf"),
)
def a3(spark, sf_dir):
    from vunnel_spark.functions.versions import rpm_sort_key

    li = t(spark, sf_dir, "lineitem")
    ver = F.concat(
        F.col("l_quantity").cast("int").cast("string"),
        F.lit("."),
        F.col("l_linenumber").cast("string"),
        F.when(F.col("l_orderkey") % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("~rc"), (F.col("l_orderkey") % 4).cast("string"))
        ),
    )
    return (
        li.withColumn("ver", ver)
        .withColumn("_vkey", rpm_sort_key(F.col("ver")))
        .groupBy("l_suppkey")
        .agg(F.max_by("ver", F.col("_vkey")).alias("newest"))
    )


@register(
    "a6_vulnerable_range_construction",
    """
    WITH vers AS (
      -- rpm-equal duplicates collapse exactly like parser.py:569-571
      -- (equal strings here <=> rpm compare 0, versions canonical by
      -- construction)
      SELECT DISTINCT l_suppkey AS bucket,
             CAST(l_quantity AS INT) AS q, l_linenumber AS ln,
             l_partkey % 9 AS r
      FROM lineitem WHERE l_returnflag = 'A'
    ), perbase AS (
      -- per upstream base ('0:q.ln'), the highest fix wins: release r
      -- is the only within-base differentiator
      SELECT bucket, q, ln, max(r) AS r FROM vers GROUP BY bucket, q, ln
    ), ordered AS (
      SELECT bucket, q, ln, r,
             '0:' || q || '.' || ln || '-' || r || '.el9' AS v,
             '0:' || q || '.' || ln AS b,
             row_number() OVER (PARTITION BY bucket ORDER BY q, ln, r) AS rn,
             count(*) OVER (PARTITION BY bucket) AS n
      FROM perbase
    )
    SELECT bucket,
           max(CASE WHEN rn = n THEN v END) AS canonical,
           CASE WHEN max(n) >= 2 THEN
             string_agg(CASE WHEN rn = 1 THEN '< ' || v
                             ELSE '>= ' || b || ', < ' || v END,
                        ' || ' ORDER BY rn)
           END AS vulnerable_range
    FROM ordered GROUP BY bucket
    """,
    doc="A6 stream-aware VulnerableRange + canonical fix, exact to "
        "_parse_affected_release's bucket reduction (rhel/parser.py:"
        "565-599 rpm-equal dedup + per-base keep-highest + newest-stream "
        "canonical; :1120-1155 _build_vulnerable_range's "
        "'< v0 || >= base1, < v1' OR-constraint, NULL for single-base "
        "buckets; :1090-1105 _get_version_base release strip) — the "
        "reduce_fix_streams operator in pipelines/rhel.py, run over "
        "synthesized epoch:q.ln-r.el9 versions whose rpm order equals "
        "the oracle's numeric (q, ln, r) order.  One Arrow rpm sort key "
        "per row, one shuffle on the bucket",
    tags=("agg", "udf"),
)
def a6(spark, sf_dir):
    from vunnel_spark.pipelines.rhel import reduce_fix_streams

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    rows = li.select(
        F.col("l_suppkey").alias("bucket"),
        F.concat(
            F.lit("0:"), F.col("l_quantity").cast("int").cast("string"),
            F.lit("."), F.col("l_linenumber").cast("string"),
            F.lit("-"), (F.col("l_partkey") % 9).cast("string"),
            F.lit(".el9"),
        ).alias("version"),
    )
    return reduce_fix_streams(rows, ["bucket"], "version")


@register(
    "a11_duplicate_id_detection",
    """
    SELECT l_orderkey || '/' || l_partkey AS dup_key, count(*) AS n
    FROM lineitem
    GROUP BY dup_key HAVING count(*) > 1
    """,
    doc="A11 duplicate-id detection (rhel/parser.py:289-299): "
        "groupBy(id).count().filter(>1)",
    tags=("agg",),
)
def a11(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.concat_ws("/", "l_orderkey", "l_partkey").alias("dup_key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "a12_dedup_on_write",
    """
    SELECT l_orderkey, l_partkey, l_linenumber AS kept_line FROM (
      SELECT l_orderkey, l_partkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                ORDER BY l_linenumber) AS rn
      FROM lineitem)
    WHERE rn = 1
    """,
    doc="A12 dedup-on-write, first-wins mode (result.py:227-238 INSERT OR "
        "IGNORE): deterministic survivor via dedup_keep_first helper",
    tags=("agg", "window"),
)
def a12(spark, sf_dir):
    from vunnel_spark.operators.windows import dedup_keep_first

    li = t(spark, sf_dir, "lineitem")
    kept = dedup_keep_first(li, ["l_orderkey", "l_partkey"], [F.col("l_linenumber")])
    return kept.select("l_orderkey", "l_partkey", F.col("l_linenumber").alias("kept_line"))


@register(
    "a13_lexicographic_max",
    """
    SELECT p_brand, arg_max(p_name, p_name) AS max_name
    FROM part GROUP BY p_brand
    """,
    doc="A13 duplicate-definition keep-higher-version (oracle/oval_parser.py:"
        "186-206): max_by on a lexicographic version column",
    tags=("agg",),
)
def a13(spark, sf_dir):
    return (
        t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.max_by("p_name", F.col("p_name")).alias("max_name"))
    )


@register(
    "a14_metrics_rollup",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="A14 advisory metrics rollup (debian/parser.py:404-444) generalized "
        "to a real ROLLUP — multi-level aggregates in one shuffle pass",
    tags=("agg",),
)
def a14(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "total_price",
        )
    )


@register(
    "a15_cube_counts",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="Generalized CUBE aggregate (SURVEY §2.5 note: free in Spark, part "
        "of the generalized analytics surface mandate)",
    tags=("agg",),
)
def a15(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
        )
    )


@register(
    "a16_approx_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS n,
           1 AS within_tolerance
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Generalized approx_count_distinct (HLL++) per group — the 100 TB "
        "path for cardinality estimation. Oracle-checkable via the tolerance "
        "trick: Spark emits |approx-exact| <= 5%*exact as within_tolerance, "
        "the oracle emits exact counts + literal 1 — the hash-match asserts "
        "the HLL++ bound actually holds (rsd=0.02 << 5%)",
    tags=("agg",),
)
def a16(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02) - F.countDistinct("l_partkey")
            )
            <= 0.05 * F.countDistinct("l_partkey")
        )
        .cast("int")
        .alias("within_tolerance"),
    )


@register(
    "a4_distinct_version_dedup",
    """
    SELECT l_suppkey, count(DISTINCT CAST(l_quantity AS INT) || '.' || l_linenumber)
             AS n_distinct_versions,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="A4 distinct-version dedup within group (rhel/parser.py:566-571): "
        "rows whose normalized version already exists in the bucket are "
        "skipped — countDistinct on the normalized key",
    tags=("agg",),
)
def a4(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    ver = F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber"))
    return li.groupBy("l_suppkey").agg(
        F.countDistinct(ver).alias("n_distinct_versions"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "a5_per_base_canonical",
    """
    SELECT l_suppkey, base, ver AS canonical FROM (
      SELECT l_suppkey, base, ver,
             row_number() OVER (PARTITION BY l_suppkey, base
                                ORDER BY qty DESC, line DESC, okey DESC) AS rn
      FROM (
        SELECT l_suppkey, CAST(l_partkey % 10 AS INT) AS base,
               CAST(l_quantity AS INT) AS qty, l_linenumber AS line, l_orderkey AS okey,
               CAST(l_quantity AS INT) || '.' || l_linenumber AS ver
        FROM lineitem))
    WHERE rn = 1
    """,
    doc="A5 per-upstream-base reduction + canonical pick "
        "(rhel/parser.py:587-599): newest per (bucket, base) via one window "
        "over the rpm-ordered key",
    tags=("agg", "window"),
)
def a5(spark, sf_dir):
    from vunnel_spark.functions.versions import rpm_sort_key
    from vunnel_spark.operators.windows import priority_pick

    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_partkey") % 10).cast("int").alias("base"),
        F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber")).alias("ver"),
        "l_orderkey",
    )
    keyed = li.withColumn("_vkey", rpm_sort_key(F.col("ver")))
    best = priority_pick(
        keyed, ["l_suppkey", "base"], [F.col("_vkey").desc(), F.col("l_orderkey").desc()]
    )
    return best.select("l_suppkey", "base", F.col("ver").alias("canonical"))


@register(
    "a7_advisory_fold",
    """
    SELECT o_custkey, primary_advisory, n_additional FROM (
      SELECT o_custkey, o_orderkey AS primary_advisory,
             count(DISTINCT o_orderkey) OVER (PARTITION BY o_custkey) - 1 AS n_additional,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderstatus = 'F')
    WHERE rn = 1
    """,
    doc="A7 advisory fold: newest-first dedup, split primary/additional "
        "(rhel/parser.py:643-662) — max_by on the (date, id) ordering",
    tags=("agg",),
)
def a7(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    order_key = F.struct(
        F.col("o_orderdate").alias("d"), F.col("o_orderkey").alias("k")
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", order_key).alias("primary_advisory"),
        (F.countDistinct("o_orderkey") - 1).alias("n_additional"),
    )


@register(
    "a8_multi_stream_table",
    """
    SELECT l_partkey, array_to_string(streams, '|') AS streams FROM (
      SELECT l_partkey,
             list_sort(list(DISTINCT CAST(l_quantity AS INT) || '.' || l_linenumber)) AS streams
      FROM lineitem GROUP BY l_partkey)
    WHERE len(streams) >= 2
    """,
    doc="A8 stream-advisory table, emitted only when >=2 streams "
        "(rhel/parser.py:608-637, 961-980): grouped distinct collect + "
        "size gate. Streams serialized '|'-joined for the gate canonicalizer",
    tags=("agg",),
)
def a8(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    ver = F.concat_ws(".", F.col("l_quantity").cast("int"), F.col("l_linenumber"))
    return (
        li.groupBy("l_partkey")
        .agg(F.array_sort(F.collect_set(ver)).alias("_streams"))
        .filter(F.size("_streams") >= 2)
        .select("l_partkey", F.concat_ws("|", "_streams").alias("streams"))
    )


@register(
    "a9_channel_set_union",
    """
    SELECT p_brand,
           array_to_string(list_sort(list(DISTINCT w.word)), '|') AS channels
    FROM part, LATERAL unnest(string_split(p_name, ' ')) AS w(word)
    GROUP BY p_brand
    """,
    doc="A9 channel set union across FPIs (rhel/csaf_parser.py:209-245): "
        "array_sort(array_distinct(flatten(collect_list(...)))), serialized "
        "'|'-joined for the gate canonicalizer",
    tags=("agg", "setop"),
)
def a9(spark, sf_dir):
    return (
        t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(F.split("p_name", " "))))
                ),
            ).alias("channels")
        )
    )


@register(
    "a10_result_counts",
    """
    SELECT 'orders' AS tbl, count(*) AS n FROM orders
    UNION ALL
    SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
    """,
    doc="A10 result counting (result.py:343-354, workspace.py:95-115): "
        "per-store record counts",
    tags=("agg",),
)
def a10(spark, sf_dir):
    a = t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("orders").alias("tbl"), "n"
    )
    b = t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("lineitem").alias("tbl"), "n"
    )
    return a.unionByName(b)


@register(
    "a17_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(CAST(l_suppkey AS VARCHAR), 'ALL') AS supp,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey), ())
    """,
    doc="Generalized GROUPING SETS (SURVEY §2.5 note): three groupings in "
        "one shuffle pass — by flag, by supplier, and the grand total",
    tags=("agg",),
)
def a17(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [[F.col("l_returnflag")], [F.col("l_suppkey")], []],
            F.col("l_returnflag"),
            F.col("l_suppkey"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_suppkey").cast("string"), F.lit("ALL")).alias("supp"),
            "n",
        )
    )


@register(
    "a18_percentile_surface",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact percentiles per group (generalized analytics surface): "
        "Spark percentile() == DuckDB quantile_cont (linear interpolation); "
        "the approx path at 100 TB is approx_percentile (see a16 pattern)",
    tags=("agg",),
)
def a18(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )
