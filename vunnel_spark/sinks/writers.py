"""Envelope sink + incremental merge + checksum listing.

Reference parity targets:
- S12 flat-file sink (result.py:86-110) / S13 SQLite batch-upsert sink
  (result.py:119-302)  ->  ``EnvelopeWriter``: dedup modes + partitioned
  Parquet + atomic staged-dir publish
- A12 dedup-on-write modes (result.py:227-238): ``skip_duplicates`` ->
  first-wins (INSERT OR IGNORE), default -> last-wins (INSERT OR REPLACE)
- I4 first-observed state store (tool/fixdate/first_observed.py:35-63):
  ``first_observed_merge`` — MERGE WHEN NOT MATCHED INSERT (key, today)
- S16 checksum listing (workspace.py:234-284): ``write_checksum_listing``

Scale notes: dedup is one window shuffle on the identifier; the write
itself is partition-parallel.  The atomic publish (stage dir -> rename)
keeps readers consistent without a table format; on a real deployment the
same code path targets Delta/Iceberg where commit atomicity is native.

Schema record: every publish writes the data schema it wrote into the
stage dir as ``_schema.json``, so the record swaps in with the data and
cannot describe other files.  ``_store_reader`` hands it to the reader:
``spark.read.parquet`` on a bare path runs one Spark job to infer the
schema from the footers, and a merge reads its store back while its plan
is built, so each inference was an eager job on the load path.
Partition columns stay out of the record; their types are inferred from
the directory names as before.  Spark's reader and the checksum listing
both skip ``_``-prefixed files.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameReader, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the data schema a publish wrote, inside the published dir
_SCHEMA_RECORD = "_schema.json"


def _store_reader(spark: SparkSession, path: str) -> DataFrameReader:
    """A reader with the schema the store's publish recorded (no
    inference job), or one that infers when the store carries no record."""
    reader = spark.read
    record = os.path.join(path, _SCHEMA_RECORD)
    if os.path.exists(record):
        with open(record) as f:
            reader = reader.schema(StructType.fromJson(json.load(f)))
    return reader


def envelope(df: DataFrame, schema_url: str, identifier_col: str, item_cols: Sequence[str]) -> DataFrame:
    """Wrap rows in the reference's envelope shape
    (result.py:33-37 Envelope{schema, identifier, item})."""
    return df.select(
        F.lit(schema_url).alias("schema"),
        F.col(identifier_col).cast("string").alias("identifier"),
        F.struct(*[F.col(c) for c in item_cols]).alias("item"),
    )


class EnvelopeWriter:
    """Partitioned Parquet result store with dedup-on-write.

    ``write`` replaces the whole store: stage + atomic swap (the
    reference's tmp-db + rename, result.py:259-302).  Every file of a
    store therefore comes from one publish, together with its schema
    record.  Incremental callers read the store, union their delta and
    write the result back (``exists`` first, so a crashed swap is
    recovered before the store is judged empty).

    dedup:
      - ``last_wins``  (INSERT OR REPLACE, result.py:95-99): highest
        ``order_col`` survives
      - ``first_wins`` (INSERT OR IGNORE, result.py:227-238): lowest wins
      - ``None``: no dedup
    Without an ``order_col`` the winner is picked by a deterministic
    content hash (stable across partitioning/reruns, but not "arrival
    order" — a distributed batch has none); pass ``order_col`` whenever
    a specific duplicate must survive.

    ``hash_buckets`` adds a derived ``_bucket = pmod(xxhash64(key), n)``
    PARTITION column — metastore-free hash bucketing that survives the
    atomic-swap publish (Spark's native ``bucketBy`` needs a catalog
    table, which the stage+rename protocol can't carry).  ``read_keys``
    then rebuilds each key's bucket as a CONSTANT-FOLDABLE expression
    (``pmod(xxhash64(lit(key)), n)``), so Catalyst folds the predicate
    to ``_bucket IN (literals)`` and prunes unmatched partition dirs at
    file-listing time — the keyed serving read over a 100 TB store
    touches ~|keys|/n of the files, not all of them.
    """

    BUCKET_COL = "_bucket"

    def __init__(
        self,
        path: str,
        key: str = "identifier",
        dedup: str | None = "last_wins",
        order_col: str | None = None,
        partition_by: Sequence[str] = (),
        hash_buckets: int | None = None,
    ):
        self.path = path
        self.key = key
        self.dedup = dedup
        self.order_col = order_col
        self.partition_by = list(partition_by)
        self.hash_buckets = hash_buckets

    def _apply_dedup(self, df: DataFrame) -> DataFrame:
        if not self.dedup:
            return df
        if self.order_col:
            order = F.col(self.order_col)
        else:
            # A distributed batch has no arrival order, so "last"/"first"
            # must not depend on partition layout (the earlier
            # monotonically_increasing_id fallback did, making the
            # surviving row nondeterministic across runs).  Fall back to a
            # content hash of the whole row: the winner is then a pure
            # function of the data — stable under repartitioning — and
            # callers that care WHICH duplicate survives pass order_col.
            # to_json first: xxhash64 rejects map-typed item fields.
            order = F.xxhash64(F.to_json(F.struct(*df.columns)))
        if self.dedup == "last_wins":
            order = order.desc()
        w = Window.partitionBy(self.key).orderBy(order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _bucket_of(self, key_expr) -> F.Column:
        """Bucket id for a key expression — used identically at write
        time (on the key column) and read time (on literals, where it
        constant-folds, enabling partition pruning)."""
        return F.pmod(F.xxhash64(key_expr.cast("string")), F.lit(self.hash_buckets))

    def _partition_cols(self) -> list[str]:
        return ([self.BUCKET_COL] if self.hash_buckets else []) + self.partition_by

    def exists(self) -> bool:
        """Whether the store holds data.  Restores a backup that a crash
        in the swap window left parked first: without that, a merge would
        treat the store as empty and its write would overwrite the
        restored data with the delta alone."""
        _recover_backup(self.path)
        return os.path.exists(self.path)

    def write(self, df: DataFrame) -> None:
        out = self._apply_dedup(df)
        if self.hash_buckets:
            out = out.withColumn(self.BUCKET_COL, self._bucket_of(F.col(self.key)))
        parts = self._partition_cols()
        # atomic publish: write to a stage dir, then swap into place.
        # Single-writer protocol (like the reference's tmp-db + rename):
        # stale stage/backup dirs from a crashed run are cleared up front,
        # the backup is only discarded after the new data is installed, and
        # a failed install rolls the backup back — the prior results are
        # never the casualty of a failed publish.
        _recover_backup(self.path)
        backup = f"{self.path}.__old__"
        for stale in glob.glob(f"{self.path}.__stage__*") + [backup]:
            if os.path.exists(stale):
                shutil.rmtree(stale)
        stage = f"{self.path}.__stage__{uuid.uuid4().hex[:8]}"
        w = out.write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(stage)
        with open(os.path.join(stage, _SCHEMA_RECORD), "w") as f:
            f.write(out.drop(*parts).schema.json())
        _atomic_install(stage, self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        """S14 keyed read-back: the table itself (filter for point lookups)."""
        df = _store_reader(spark, self.path).parquet(self.path)
        if self.hash_buckets:
            df = df.drop(self.BUCKET_COL)
        return df

    def read_keys(self, spark: SparkSession, keys: Sequence) -> DataFrame:
        """S14 keyed point read.  With ``hash_buckets`` the bucket of
        each requested key is recomputed over a LITERAL, so Catalyst
        constant-folds it and the scan's PartitionFilters prune every
        unmatched bucket dir — a |keys|-bounded read, never a full scan
        (pinned by tests/test_sinks.py)."""
        from functools import reduce

        df = _store_reader(spark, self.path).parquet(self.path)
        key_filter = F.col(self.key).isin(list(keys))
        if not self.hash_buckets:
            return df.filter(key_filter)
        # the write hashed key.cast(string); literals must hash the same
        # text, so keys are stringified through the same cast
        buckets = [self._bucket_of(F.lit(k)) for k in keys]
        bucket_filter = reduce(
            lambda a, b: a | b, [F.col(self.BUCKET_COL) == b for b in buckets]
        )
        return df.filter(bucket_filter & key_filter).drop(self.BUCKET_COL)


def _recover_backup(path: str, backup: str | None = None) -> None:
    """Crash recovery for the swap window: a hard kill between
    _atomic_install's two renames leaves the prior data parked in
    the backup dir and nothing at ``path``.  Restore it — treating the
    store as empty there would silently discard all prior state."""
    backup = backup or f"{path}.__old__"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)


def _atomic_install(stage: str, path: str, backup: str | None = None) -> None:
    """Swap a fully-written stage dir into place (single-writer protocol):
    the prior dir is parked as a backup, restored on a failed install, and
    discarded only after the new data is live.

    ``backup`` overrides where the prior dir is parked.  Callers swapping
    a PARTITION dir inside a live partitioned store must park the backup
    OUTSIDE the store: the default sibling name would contain ``=``,
    which Spark partition discovery does not treat as hidden, so a
    concurrent reader of the store could list the backup as a duplicate
    (string-valued) partition during the swap window.
    """
    _recover_backup(path, backup)
    backup = backup or f"{path}.__old__"
    if os.path.exists(backup):
        shutil.rmtree(backup)
    had_prior = os.path.exists(path)
    if had_prior:
        parent = os.path.dirname(backup)
        if parent:
            os.makedirs(parent, exist_ok=True)
        os.rename(path, backup)
    try:
        os.rename(stage, path)
    except BaseException:
        if had_prior:
            os.rename(backup, path)
        raise
    if had_prior:
        shutil.rmtree(backup)


_MANIFEST = "__manifest__.json"
_LISTING = "__listing__.json"


def publish_snapshot(path: str, built: str) -> dict:
    """Stamp a results dir as a distributable snapshot: checksum listing
    (S16) + manifest carrying the build timestamp the skip-compute check
    compares (the reference's listing-entry ``built`` field)."""
    doc = write_checksum_listing(path, os.path.join(path, _LISTING))
    manifest = {"built": built, "digest": doc["digest"]}
    with open(os.path.join(path, _MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def import_snapshot(
    snapshot_path: str, dest_path: str, skip_newer_check: bool = False
) -> str:
    """S17 archive import / skip-compute (provider.py:215-269, 357-378):
    install an already-computed hosted snapshot instead of recomputing.

    Gates, in order:
      1. newer-archive check — if the installed manifest's ``built`` is
         >= the snapshot's, nothing happens (returns ``'skipped'``, the
         whole recompute is elided);
      2. checksum validation — a tampered or truncated snapshot raises
         before anything is touched;
      3. atomic install — same backup/rollback swap the envelope writer
         uses, so readers never see a half-imported tree.

    Driver-side by design (SURVEY maps S17 to snapshot import): the data
    plane only ever reads the installed tree.  Returns 'imported' or
    'skipped'.
    """
    with open(os.path.join(snapshot_path, _MANIFEST)) as f:
        snap = json.load(f)
    dest_manifest = os.path.join(dest_path, _MANIFEST)
    if not skip_newer_check and os.path.exists(dest_manifest):
        with open(dest_manifest) as f:
            installed = json.load(f)
        if installed.get("built", "") >= snap["built"]:
            return "skipped"
    if not validate_checksum_listing(
        snapshot_path, os.path.join(snapshot_path, _LISTING)
    ):
        raise ValueError(f"snapshot checksum mismatch: {snapshot_path}")
    stage = f"{dest_path}.__stage__{uuid.uuid4().hex[:8]}"
    shutil.copytree(snapshot_path, stage)
    _atomic_install(stage, dest_path)
    return "imported"


def first_observed_merge(
    spark: SparkSession,
    path: str,
    observations: DataFrame,
    key_cols: Sequence[str],
    date_col: str = "first_observed",
    today: str | None = None,
    table_format: str = "auto",
) -> DataFrame:
    """I4 first-observed state store as a merge-on-miss table.

    Semantics (tool/fixdate/first_observed.py:35-63): look up each key; on
    miss, insert today's date; always return the (key, first_observed) map
    covering every input key.  Idempotent per run: re-merging the same keys
    never changes existing dates.

    ``table_format``: 'auto' routes through a real Delta MERGE INTO when
    delta-spark is on the classpath (multi-writer safe) and otherwise
    uses the single-writer parquet swap; 'delta'/'parquet' force a path
    ('delta' raising if unavailable).
    """
    from vunnel_spark.sinks.table_format import (
        merge_first_observed_delta,
        should_use_delta,
    )

    if should_use_delta(spark, path, table_format):
        return merge_first_observed_delta(
            spark, path, observations.select(*key_cols), key_cols,
            date_col=date_col, today=today,
        )
    new_keys = observations.select(*key_cols).distinct()
    today_col = F.lit(today).cast("date") if today else F.current_date()
    writer = EnvelopeWriter(path, key=key_cols[0], dedup=None)
    if writer.exists():
        existing = writer.read(spark)
        misses = new_keys.join(existing.select(*key_cols), list(key_cols), "left_anti")
        inserts = misses.withColumn(date_col, today_col)
        merged = existing.unionByName(inserts)
    else:
        merged = new_keys.withColumn(date_col, today_col)
    writer.write(merged)
    return writer.read(spark)


def write_checksum_listing(path: str, listing_path: str) -> dict:
    """S16 checksum listing: sha256 per data file + digest-of-digests.

    Mirrors workspace.py:234-284 (xxh64 file listing + tamper detection);
    sorted filenames give a stable listing digest (O3).
    """
    entries = []
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            fp = os.path.join(root, name)
            h = hashlib.sha256()
            with open(fp, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            entries.append({"file": os.path.relpath(fp, path), "sha256": h.hexdigest()})
    entries.sort(key=lambda e: e["file"])
    overall = hashlib.sha256()
    for e in entries:
        overall.update(e["sha256"].encode())
    doc = {"files": entries, "digest": overall.hexdigest()}
    with open(listing_path, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
    return doc


def validate_checksum_listing(path: str, listing_path: str) -> bool:
    """Re-hash and compare — True iff nothing was tampered."""
    with open(listing_path) as f:
        recorded = json.load(f)
    tmp = listing_path + ".check"
    try:
        current = write_checksum_listing(path, tmp)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return current["digest"] == recorded["digest"]


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_col: str,
    partitions: Sequence[str] | None = None,
    table_format: str = "auto",
) -> None:
    """I6 frozen-fragment layering (ubuntu/parser.py:307-373): rewrite ONLY
    the partitions present in today's data (or an explicit list); absent
    (EOL'd) partitions stay frozen on disk.

    Dynamic partition overwrite — Spark's ``partitionOverwriteMode=dynamic``
    replaces exactly the partitions the frame contains, atomically per
    partition directory.  ``table_format='auto'`` upgrades to Delta's
    transactional ``replaceWhere`` (whole-set-atomic) when delta-spark is
    on the classpath; 'delta'/'parquet' force a path.
    """
    from vunnel_spark.sinks.table_format import (
        overwrite_partitions_delta,
        should_use_delta,
    )

    if should_use_delta(df.sparkSession, path, table_format):
        overwrite_partitions_delta(df, path, partition_col, partitions)
        return
    out = df
    if partitions is not None:
        out = df.filter(F.col(partition_col).isin(list(partitions)))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def _recover_parked_partitions(path: str) -> None:
    """Recover EVERY partition dir parked under ``{path}.__old__/`` by a
    crashed compaction/swap — not just dirs a current operation touches:
    an untouched parked dir would otherwise stay lost until some later
    run happens to rewrite it."""
    root = f"{path}.__old__"
    if not os.path.isdir(root):
        return
    for dirpath, dirnames, filenames in os.walk(root, topdown=False):
        rel = os.path.relpath(dirpath, root)
        dest = path if rel == "." else os.path.join(path, rel)
        if filenames and not os.path.exists(dest):
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(dirpath, dest)
    if os.path.isdir(root):
        shutil.rmtree(root, ignore_errors=True)


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 4,
) -> dict:
    """Small-file compaction for an append-heavy partitioned store.

    Every append batch lands shuffle-partition-many files per
    partition dir; untreated, a 100 TB store degrades to millions of
    KB-sized files whose open/footer costs dominate every scan (the
    standard lakehouse OPTIMIZE problem).  This rewrites ONLY partition
    dirs whose parquet file count exceeds ``min_files``, coalescing each
    to ``ceil(bytes / target_file_bytes)`` files, under the same
    stage+swap single-writer protocol as EnvelopeWriter — stage and
    backup dirs live OUTSIDE the store root (``{path}.__compact__/`` /
    ``{path}.__old__/``) so Spark partition discovery can never list a
    half-swapped dir, and a crashed run's parked dirs are recovered up
    front.  Rows are bit-identical before and after (pure re-layout; no
    dedup, no reorder semantics — compaction must be a no-op to readers).

    The dir listing is driver-side (bounded by file count — a metastore/
    manifest would replace it at extreme scale); each rewrite is a
    distributed coalesce.  Returns ``{relative_dir: (files_before,
    files_after)}`` for the dirs rewritten.
    """
    import math

    _recover_parked_partitions(path)
    stage_root = f"{path}.__compact__"
    if os.path.exists(stage_root):
        shutil.rmtree(stage_root)
    targets = []
    for dirpath, dirnames, filenames in os.walk(path):
        parts = [f for f in filenames if f.endswith(".parquet")]
        if len(parts) <= min_files:
            continue
        nbytes = sum(os.path.getsize(os.path.join(dirpath, f)) for f in parts)
        k = max(1, math.ceil(nbytes / target_file_bytes))
        if k >= len(parts):
            continue
        targets.append((dirpath, len(parts), k))
    # a publish's record holds the data columns, which is exactly what
    # the files of every partition leaf hold, so no dir needs inference
    reader = _store_reader(spark, path)
    report: dict = {}
    for dirpath, n_before, k in targets:
        rel = os.path.relpath(dirpath, path)
        stage = os.path.join(stage_root, rel) if rel != "." else stage_root
        os.makedirs(os.path.dirname(stage) if rel != "." else stage_root, exist_ok=True)
        reader.parquet(dirpath).coalesce(k).write.mode("overwrite").parquet(stage)
        # an unpartitioned store's root carries its publish's schema
        # record; a re-layout leaves the schema as it was, so it goes over
        record = os.path.join(dirpath, _SCHEMA_RECORD)
        if os.path.exists(record):
            shutil.copyfile(record, os.path.join(stage, _SCHEMA_RECORD))
        backup = (
            os.path.join(f"{path}.__old__", rel) if rel != "." else None
        )  # root compaction: the default sibling backup has no '=' issue
        _atomic_install(stage, dirpath, backup=backup)
        # report the ACTUAL post-install count, not the coalesce target:
        # coalesce only merges read partitions, so a target below
        # spark.sql.files.maxPartitionBytes lands at the scan's packing
        n_after = sum(
            1 for f in os.listdir(dirpath) if f.endswith(".parquet")
        )
        report[rel] = (n_before, n_after)
    if os.path.exists(stage_root):
        shutil.rmtree(stage_root, ignore_errors=True)
    # _atomic_install discards each parked leaf after its install; drop
    # the (now-empty) parking root too so nothing '__old__' lingers
    backup_root = f"{path}.__old__"
    if os.path.isdir(backup_root) and not any(
        files for _, _, files in os.walk(backup_root)
    ):
        shutil.rmtree(backup_root, ignore_errors=True)
    return report
