"""File-based KV input cache for the landing zone (SURVEY S15).

The reference keeps a writable-directory database of raw fetched payloads
plus a JSON metadata sidecar (utils/fdb.py:15-123) so a provider can skip
re-fetching/re-parsing unchanged inputs.  The Spark re-expression keeps
the two halves in their right places:

- payload storage is a keyed PARQUET table (not one file per key — at
  100 TB a directory of billions of small files kills every list
  operation; parquet gives splittable scans, column pruning, and
  predicate pushdown on the key), published through the result sink's
  ``EnvelopeWriter``: the same atomic stage+swap, crash recovery and
  recorded schema, so a read-back runs no schema-inference job;
- the tiny mutable metadata sidecar stays a driver-side JSON file,
  exactly like the reference — it is scheduler state, not data.

Change detection rides on an xxhash64 digest column computed at put()
time, so the "did anything change since the last run" question is one
anti-join on (key, digest) — the same skip-compute shape as I2.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vunnel_spark.sinks.writers import EnvelopeWriter


class KVCache:
    """Keyed landing-zone cache: put/get/get_all/changed_keys + metadata."""

    META_NAME = ".__meta__.json"

    def __init__(self, path: str, key_col: str = "key", payload_col: str = "payload"):
        self.path = path
        self.key_col = key_col
        self.payload_col = payload_col
        os.makedirs(path, exist_ok=True)
        # put() does its own per-key dedup and merge
        self._store = EnvelopeWriter(os.path.join(path, "data"), key="key", dedup=None)

    # ------------------------------------------------------------ payloads

    def exists(self) -> bool:
        return self._store.exists()

    def put(self, df: DataFrame) -> None:
        """Upsert payload rows; last-wins per key on re-put.

        Duplicate keys WITHIN one incoming batch are also collapsed to a
        single row (greatest digest wins — a distributed batch has no
        arrival order, so the tie-break must be a value, not a position),
        keeping the one-row-per-key invariant that get()/changed_keys()
        rely on.  Publishes the merged table through the envelope
        writer's stage+swap — readers never observe a half-written cache
        (the reference's tmp+swap discipline, result.py:259-302, applied
        to the input side).
        """
        from pyspark.sql import Window

        incoming = df.select(
            F.col(self.key_col).cast("string").alias("key"),
            F.col(self.payload_col).alias("payload"),
        ).withColumn("digest", F.xxhash64("payload"))
        w = Window.partitionBy("key").orderBy(F.col("digest").desc())
        incoming = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        spark = df.sparkSession
        if self.exists():
            current = self.get_all(spark)
            merged = current.join(
                incoming.select("key"), "key", "left_anti"
            ).unionByName(incoming)
        else:
            merged = incoming
        self._store.write(merged)

    def get_all(self, spark: SparkSession) -> DataFrame:
        """Full keyed scan: (key, payload, digest)."""
        return self._store.read(spark)

    def get(self, spark: SparkSession, keys: list[str]) -> DataFrame:
        """Keyed read — the key filter pushes down to the parquet scan."""
        return self.get_all(spark).where(F.col("key").isin([str(k) for k in keys]))

    def changed_keys(self, incoming: DataFrame) -> DataFrame:
        """Keys in ``incoming`` that are new or whose payload digest
        differs from the cached copy — the skip-compute gate.

        One broadcast-or-shuffle anti-join on (key, digest); payload bytes
        are never compared directly.
        """
        inc = incoming.select(
            F.col(self.key_col).cast("string").alias("key"),
            F.xxhash64(self.payload_col).alias("digest"),
        )
        if not self.exists():
            return inc.select("key")
        cached = self.get_all(incoming.sparkSession).select("key", "digest")
        return inc.join(cached, ["key", "digest"], "left_anti").select("key")

    # ------------------------------------------------------------ metadata

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, self.META_NAME)

    def get_metadata(self) -> dict:
        """Load (or initialize) the JSON metadata sidecar — mirrors the
        reference's lazily-created ``.__meta__.json`` (fdb.py:66-84)."""
        if not os.path.exists(self._meta_path):
            self.set_metadata({})
        with open(self._meta_path) as f:
            return json.load(f)

    def set_metadata(self, meta: dict) -> None:
        tmp = self._meta_path + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)
