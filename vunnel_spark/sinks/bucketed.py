"""Bucketed table layout — amortize the join/agg shuffle across runs.

At 100 TB the dominant cost of the relational core (the provider join
DAGs, the dedup verify joins, repeated fact⋈fact joins like
lineitem⋈orders) is the shuffle that hash-partitions both sides on the
join key.  Bucketing moves that shuffle to WRITE TIME, once: a table
written with ``bucketBy(n, key)`` is stored pre-hash-partitioned, so
every later sort-merge join or groupBy on the key reads the layout
instead of exchanging 100 TB over the network — the same reason the
reference keeps its per-provider results keyed on (vuln, pkg) in its
store (result.py writes keyed envelopes; the SQLite index there plays
the role the bucket spec plays here).

Spark specifics this helper encodes:

* ``repartition(n, key)`` before the write — Spark's bucket id and
  ``HashPartitioning`` use the same Murmur3 hash, so each write task
  holds exactly one bucket's rows and emits ONE file per bucket.
  Without it every task writes a sliver of every bucket (task_count ×
  n files) and the read side loses the per-bucket sort metadata.
* ``sortBy(key)`` — with one file per bucket the scan reports itself
  sorted, so a sort-merge join needs neither Exchange NOR Sort.
* Both sides of a co-located join must use the SAME bucket count;
  mismatched counts fall back to shuffling the smaller-bucketed side.

Scale guidance: pick ``num_buckets`` so one bucket of the LARGEST
co-located table fits an executor's shuffle memory (e.g. 100 TB /
16384 buckets ≈ 6 GB per bucket).  Bucket counts are a layout contract
— changing them rewrites the table — so they are an explicit argument
here, never inferred from the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as a bucketed+sorted parquet table and return the
    catalog-backed frame reading it.

    ``name`` is dropped from the session catalog first, so the call is
    idempotent per session; ``path`` must be a fresh location (the
    caller owns lifecycle — a stale path with old bucket files would
    corrupt the layout contract).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.repartition(num_buckets, bucket_col)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(*(sort_cols or [bucket_col]))
        .saveAsTable(name)
    )
    return spark.table(name)
