"""Z-order (Morton) interleaving for multi-dimensional data clustering.

Linear sort order can make file/row-group min-max statistics tight in ONE
dimension only; interleaving the bits of two filter dimensions makes
every file's bounding box tight-ish in BOTH, so 2-D range predicates
prune files that a time-only sort must read (the public technique behind
Delta/Iceberg OPTIMIZE ZORDER and the classic UB-tree literature).  The
z-value is a pure Catalyst expression — bit tests and adds, constant-
folded shifts — used ONLY at write time to cluster rows; readers filter
on the original columns and get the benefit through ordinary parquet
min/max pruning, with zero reader-side changes.

Bit widths are 11 and 5 (user ids, days of month): values beyond 2^bits
wrap via the mask, which only loosens clustering for the wrapped keys,
never correctness — membership still comes from the real columns at
read time.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# serializes the session-global outputTimestampType toggle in
# write_clustered (concurrent clustered writes would race on the conf)
_TS_CONF_LOCK = threading.Lock()

#: low bits of each z_value column that the interleave keeps
_BITS_A, _BITS_B = 11, 5


def z_value(col_a: str | Column, col_b: str | Column) -> Column:
    """Morton-interleave the low 11 bits of one non-negative integer
    column and the low 5 of another into one sortable long."""
    a = (F.col(col_a) if isinstance(col_a, str) else col_a).cast("long")
    b = (F.col(col_b) if isinstance(col_b, str) else col_b).cast("long")
    a = a.bitwiseAND(F.lit((1 << _BITS_A) - 1))
    b = b.bitwiseAND(F.lit((1 << _BITS_B) - 1))
    terms = []
    pos = 0
    for i in range(_BITS_A):
        terms.append(F.shiftright(a, i).bitwiseAND(F.lit(1)) * F.lit(1 << pos))
        pos += 1
        if i < _BITS_B:
            terms.append(F.shiftright(b, i).bitwiseAND(F.lit(1)) * F.lit(1 << pos))
            pos += 1
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def write_clustered(
    df: DataFrame,
    path: str,
    order_expr: Column,
    n_files: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned and
    sorted by ``order_expr`` (a z-value for 2-D clustering, or a plain
    column for linear sort).  The ordering column is dropped before the
    write — pruning works off the REAL columns' min/max stats, which the
    clustering makes tight.  At scale this is the compaction job's sort
    spec: one range shuffle at write time buys every future 2-D range
    scan its file pruning.

    Timestamps are written as TIMESTAMP_MICROS, not Spark's default
    INT96: INT96 carries NO parquet min/max statistics, which silently
    disables stats-based pruning on the time dimension for every reader
    — the opposite of what a clustered layout exists for.

    The timestamp-type toggle mutates SESSION-global conf for the
    duration of the write, so concurrent writes in one session are
    serialized through a module lock; an unrelated parquet write racing
    on another thread of the same session can still observe the
    temporary TIMESTAMP_MICROS setting (harmless for data correctness —
    micros is the safer format — but set the conf once at session build
    if that matters)."""
    spark = df.sparkSession
    with _TS_CONF_LOCK:
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            (
                df.withColumn("_cluster_key", order_expr)
                .repartitionByRange(n_files, "_cluster_key")
                .sortWithinPartitions("_cluster_key")
                .drop("_cluster_key")
                .write.mode("overwrite")
                .parquet(path)
            )
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
            else:
                # get(key, None) returns None when the conf was never set;
                # leaving micros behind would silently change the format of
                # every LATER parquet write in the session
                spark.conf.unset("spark.sql.parquet.outputTimestampType")


def read_clustered(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def file_prune_stats(
    path: str, col_a: str, col_b: str
) -> list[tuple[str, tuple, tuple]]:
    """Per-file (min, max) bounding boxes for two columns, straight from
    the parquet footers (public metadata — what any engine's pruning
    reads).  Test/diagnostic helper: lets a layout assert how many files
    a 2-D range predicate would touch."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        lo_a = lo_b = hi_a = hi_b = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                col = c.path_in_schema
                st = c.statistics
                if st is None or not st.has_min_max:
                    # all-null or stats-truncated row group: no bounds
                    # (files_touched already counts a boundless file as
                    # touched, the engine-conservative answer)
                    continue
                if col == col_a:
                    lo_a = st.min if lo_a is None else min(lo_a, st.min)
                    hi_a = st.max if hi_a is None else max(hi_a, st.max)
                elif col == col_b:
                    lo_b = st.min if lo_b is None else min(lo_b, st.min)
                    hi_b = st.max if hi_b is None else max(hi_b, st.max)
        out.append((name, (lo_a, hi_a), (lo_b, hi_b)))
    return out


def files_touched(
    stats: list[tuple[str, tuple, tuple]],
    range_a: tuple,
    range_b: tuple,
) -> int:
    """How many files' bounding boxes intersect the 2-D query box."""
    n = 0
    for _, (lo_a, hi_a), (lo_b, hi_b) in stats:
        if lo_a is None or lo_b is None:
            n += 1  # no stats: engine must read it
            continue
        if hi_a < range_a[0] or lo_a > range_a[1]:
            continue
        if hi_b < range_b[0] or lo_b > range_b[1]:
            continue
        n += 1
    return n
