"""The landing zone's keyed input cache (SURVEY S15).

Fetching (HTTP retry, git clone, OCI pull, archive extract, cursors —
S7-S11) is driver-side plain Python outside this engine: Spark reads the
files a fetch lands, with explicit schemas, in the pipeline that owns them.
"""

from vunnel_spark.sources.kv_cache import KVCache  # noqa: F401
