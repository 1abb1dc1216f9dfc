"""vunnel_spark — a PySpark-native batch ETL / analytics engine.

A ground-up re-architecture of the capabilities of anchore/vunnel
(a single-process Python ETL engine for vulnerability data) as an
idiomatic Apache Spark engine: declarative DataFrame pipelines,
Catalyst-optimized relational operators, partitioned Parquet sinks,
and incremental state via watermark + merge-on-key writes.

Layout:
    session     SparkSession factory tuned for local[N] and cluster use
    functions   scalar/column function library (versions, dates, text, vectors)
    operators   relational operator library (dedup, windows, joins, aggregates)
    sources     explicit-schema readers + envelope model
    pipelines   provider-style ETL pipelines (secdb, fixdate, ...)
    queries     the declared query inventory (Spark fn + DuckDB oracle SQL)
    streaming   Structured Streaming stream-stream interval join
"""

__version__ = "0.1.0"
