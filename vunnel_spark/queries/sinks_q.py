"""Sink/state operators as registered queries: each writes to a unique
temp location, reads back, and returns a verifiable frame — proving the
write path under the driver's correctness gate, not just in pytest.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vunnel_spark.queries._util import scratch_dir, t
from vunnel_spark.registry import register


@register(
    "s12_sink_roundtrip",
    """
    SELECT o_orderkey AS ident, o_orderstatus AS status,
           round(o_totalprice, 2) AS price
    FROM orders
    """,
    doc="S12/S13 envelope sink round-trip (result.py:86-302): dedup-on-write"
        " -> partitioned parquet (atomic swap) -> re-read; the oracle checks"
        " the round-tripped CONTENT equals the source — a lossy or "
        "double-writing sink hash-mismatches",
    tags=("sink",),
)
def s12(spark, sf_dir):
    from vunnel_spark.sinks import EnvelopeWriter

    out = os.path.join(scratch_dir("s12_"), "results")
    orders = t(spark, sf_dir, "orders")
    writer = EnvelopeWriter(out, key="ident", dedup="last_wins", order_col="ident")
    writer.write(
        orders.select(
            F.col("o_orderkey").alias("ident"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        )
    )
    return writer.read(spark)


@register(
    "i4_first_observed_merge",
    """
    SELECT DISTINCT l_orderkey AS vuln, l_partkey AS pkg,
           DATE '2026-08-13' AS first_observed
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="I4 first-observed merge-on-miss state (tool/fixdate/"
        "first_observed.py:35-63): two merges run back-to-back with "
        "different 'today' values — the oracle date only matches if the "
        "second merge did NOT move existing keys (idempotence under the "
        "correctness gate)",
    tags=("sink", "incremental"),
)
def i4(spark, sf_dir):
    from vunnel_spark.sinks import first_observed_merge

    state = os.path.join(scratch_dir("i4_"), "state")
    keys = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("vuln"), F.col("l_partkey").alias("pkg"))
        .distinct()
    )
    first_observed_merge(spark, state, keys, ["vuln", "pkg"], today="2026-08-13")
    # second run with a later date: must be a no-op for existing keys
    merged = first_observed_merge(spark, state, keys, ["vuln", "pkg"], today="2027-01-01")
    return merged.select("vuln", "pkg", "first_observed")


@register(
    "s17_snapshot_import_skip_compute",
    """
    SELECT o_orderkey AS ident, o_orderstatus AS status FROM orders
    """,
    doc="S17 archive import / skip-compute (provider.py:215-269, 357-378): "
        "a hosted snapshot installs atomically iff newer than the installed "
        "manifest and checksum-valid.  The query imports a current snapshot, "
        "then offers an OLDER one with poisoned content ('X' statuses) — the "
        "oracle only matches if the newer-archive check skipped the stale "
        "import and the first snapshot's content survived",
    tags=("sink", "source"),
)
def s17(spark, sf_dir):
    from vunnel_spark.sinks.writers import import_snapshot, publish_snapshot

    root = scratch_dir("s17_")
    snap_new = os.path.join(root, "snap_new")
    snap_old = os.path.join(root, "snap_old")
    dest = os.path.join(root, "installed")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ident"), F.col("o_orderstatus").alias("status")
    )
    orders.write.parquet(snap_new)
    publish_snapshot(snap_new, built="2026-02-01T00:00:00")
    orders.withColumn("status", F.lit("X")).write.parquet(snap_old)
    publish_snapshot(snap_old, built="2025-01-01T00:00:00")
    assert import_snapshot(snap_new, dest) == "imported"
    assert import_snapshot(snap_old, dest) == "skipped"
    return spark.read.parquet(dest).select("ident", "status")


@register(
    "i6_frozen_partitions",
    """
    SELECT o_orderkey AS ident,
           CASE WHEN o_custkey % 4 < 2 THEN 'U' ELSE o_orderstatus END AS status,
           'r' || CAST(o_custkey % 4 AS VARCHAR) AS release
    FROM orders
    """,
    doc="I6 frozen-fragment partition layering (ubuntu/parser.py:307-373): "
        "today's run rewrites ONLY the release partitions present in "
        "today's data (dynamic partition overwrite); EOL'd releases stay "
        "frozen on disk.  The query writes all 4 release partitions, then "
        "overwrites r0/r1 with updated rows, and returns the read-back "
        "store — the oracle's CASE only matches if r2/r3 kept their "
        "original content AND r0/r1 took the update",
    tags=("sink", "incremental"),
)
def i6(spark, sf_dir):
    from vunnel_spark.sinks.writers import overwrite_partitions

    path = os.path.join(scratch_dir("i6_"), "fragments")
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ident"),
        F.col("o_orderstatus").alias("status"),
        F.concat(F.lit("r"), (F.col("o_custkey") % 4).cast("string")).alias("release"),
    )
    overwrite_partitions(base, path, "release")
    today = base.filter(F.col("release").isin("r0", "r1")).withColumn(
        "status", F.lit("U")
    )
    overwrite_partitions(today, path, "release")
    return spark.read.parquet(path).select("ident", "status", "release")


@register(
    "s15_kv_cache_changed_keys",
    """
    SELECT CAST(doc_id AS VARCHAR) AS key FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT CAST(doc_id + 9000000 AS VARCHAR) FROM documents WHERE doc_id % 11 = 0
    """,
    doc="S15 file-based KV input cache (utils/fdb.py:15-123 re-expressed "
        "as a keyed parquet landing store, sources/kv_cache.py): put the "
        "corpus, then offer a second batch with every 7th payload mutated "
        "and every 11th key new — changed_keys (digest anti-join) must "
        "return exactly that set; unchanged payloads are skipped without "
        "any byte comparison",
    tags=("sink", "incremental"),
)
def s15(spark, sf_dir):
    from vunnel_spark.sources.kv_cache import KVCache

    cache = KVCache(os.path.join(scratch_dir("s15_"), "kv"))
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"),
        F.encode("text", "utf-8").alias("payload"),
    )
    cache.put(docs)
    base = t(spark, sf_dir, "documents")
    incoming = base.select(
        F.col("doc_id").cast("string").alias("key"),
        F.encode(
            F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" CHANGED")))
            .otherwise(F.col("text")),
            "utf-8",
        ).alias("payload"),
    ).unionByName(
        base.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 9000000).cast("string").alias("key"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    return cache.changed_keys(incoming)
