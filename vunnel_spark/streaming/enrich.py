"""Stream-side enrichment and incremental sink wiring.

Two pieces that complete the streaming story around the windows/stateful
modules:

``stream_static_enrich``
    Stream-static join: every micro-batch joins against a (broadcast)
    static dimension.  This is how the reference's overlay/allow-list
    joins (J4/P3) run when the fact side is a stream — the dim is read
    once per micro-batch, so a dim refresh is picked up without
    restarting the query.

``foreach_batch_upsert``
    ``foreachBatch`` bridge from a stream to the batch EnvelopeWriter:
    each micro-batch is merged into the keyed results table under the
    writer's dedup mode (first-wins ``skip`` == the reference's INSERT OR
    IGNORE, last-wins ``replace`` == INSERT OR REPLACE; result.py:227-238).
    This is the streaming realization of the reference's incremental
    watermark sync (I1, provider.py:188-201): the stream carries only the
    delta, the writer owns the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Join a (streaming or batch) fact frame against a small static dim.

    The broadcast hint keeps every micro-batch's join shuffle-free: state
    stores are untouched (stream-static joins are stateless in Structured
    Streaming), and the fact side never repartitions.
    """
    return stream.join(F.broadcast(dim), keys, how)


def foreach_batch_upsert(stream: DataFrame, writer, checkpoint: str):
    """Start a stream that merges each micro-batch into ``writer``.

    ``writer`` is a sinks.writers.EnvelopeWriter; each micro-batch is
    unioned with the current table and re-deduped under the writer's
    dedup mode (read-union-dedup-atomic-swap — the same merge idiom as
    first_observed_merge), so a key re-arriving in a later batch follows
    first-wins/last-wins A12 semantics incrementally.  The writer should
    carry an explicit ``order_col`` — with the monotonic-id fallback the
    cross-batch winner would depend on merge order, not data.

    Returns the StreamingQuery (caller stops it).  On a real cluster the
    same bridge targets a transactional table format's MERGE; the atomic
    stage+swap here is the single-writer parquet equivalent.
    """
    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if writer.exists():
            merged = writer.read(batch_df.sparkSession).unionByName(batch_df)
        else:
            merged = batch_df
        writer.write(merged)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_rollup(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    hist_cols: tuple[tuple, ...] = (),
    hash_buckets: int | None = None,
):
    """Streaming materialized-rollup maintenance — the streaming face of
    i7/i9 (operators/incremental.py): each micro-batch aggregates to
    per-key partials, merges with the persisted state table by the
    aggregates' own algebra (sum of counts/sums, min/max of min/maxs,
    element-wise addition of ``hist_cols`` quantile bins), and publishes
    the new state under the EnvelopeWriter's stage+atomic-swap protocol
    (a reader never sees a half-written state, a crashed publish rolls
    back).  Per batch this costs one |keys|-row merge shuffle and zero
    history rescans — the rollup over an unbounded stream stays O(state),
    not O(everything ever seen).

    ``hash_buckets`` partitions the state by ``_bucket =
    pmod(xxhash64(keys), n)`` (the envelope store's metastore-free
    bucketing, s14) and each batch rewrites ONLY the buckets its delta
    touches — the i6 frozen-fragment idiom applied to streaming state.
    At a large key cardinality this turns the per-batch publish from
    O(|state|) to O(|state| x touched/n): a skewed or keyed stream that
    touches few buckets leaves the rest of the store byte-identical.
    Unset (None) keeps the single-directory whole-swap layout.

    Replay safety: ``foreachBatch`` is at-least-once — a crash after the
    state publishes but before the checkpoint commits re-delivers the
    same micro-batch, and re-merging a count/sum delta would double it.
    The published state therefore carries the last applied ``batch_id``
    (in ``_rollup_meta.json``, swapped atomically WITH the data — one per
    bucket when bucketed, so a crash mid-publish replays exactly the
    buckets that missed), and an already-applied delta is skipped.
    Consequence: the state dir and the checkpoint are one unit — drop
    both together, never just one.

    Returns the StreamingQuery (caller stops it).
    """
    import glob
    import json
    import os
    import shutil
    import uuid

    from vunnel_spark.operators.incremental import aggregate_state, merge_agg_state
    from vunnel_spark.sinks.writers import _atomic_install, _recover_backup

    kw = dict(
        keys=keys, count_col=count_col,
        sum_cols=sum_cols, min_cols=min_cols, max_cols=max_cols,
        hist_cols=hist_cols,
    )
    meta_name = "_rollup_meta.json"  # leading _ : invisible to parquet readers

    def _last_applied(path: str) -> int:
        m = os.path.join(path, meta_name)
        if os.path.exists(m):
            with open(m) as f:
                return json.load(f).get("batch_id", -1)
        return -1

    def _clear_stage_dirs() -> None:
        for stale in glob.glob(f"{state_path}.__stage__*"):
            if os.path.exists(stale):
                shutil.rmtree(stale)

    def _publish(df: DataFrame, dest: str, batch_id: int) -> None:
        stage = f"{state_path}.__stage__{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(stage)
        with open(os.path.join(stage, meta_name), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        _atomic_install(stage, dest)

    def _bucket_expr():
        return F.pmod(
            F.xxhash64(*[F.col(k).cast("string") for k in keys]),
            F.lit(hash_buckets),
        )

    def _roll_whole(spark, delta: DataFrame, batch_id: int) -> None:
        _recover_backup(state_path)
        if os.path.exists(state_path) and batch_id <= _last_applied(state_path):
            return  # replayed delivery: this delta is already in the state
        if os.path.exists(state_path):
            new = merge_agg_state([spark.read.parquet(state_path), delta], **kw)
        else:
            new = delta
        _clear_stage_dirs()
        _publish(new, state_path, batch_id)

    # Per-bucket backups are parked OUTSIDE the state dir: an in-place
    # sibling name would contain '=', which Spark partition discovery
    # does NOT treat as hidden, so a concurrent spark.read.parquet of
    # the state would see duplicated bucket rows (or a string-typed
    # _bucket) during the swap window.  Parked here, a reader of
    # state_path can never list a backup.
    bucket_bak_root = f"{state_path}.__bucketbak__"

    def _bucket_backup(b) -> str:
        return os.path.join(bucket_bak_root, f"_bucket={b}")

    def _recover_all_bucket_backups() -> None:
        """Recover EVERY parked bucket backup, not just the buckets this
        delta touches: a crash between the two renames leaves a backup
        parked, and if no later batch touches that bucket (e.g. the
        checkpoint was replaced so the batch never replays) its state
        would otherwise stay missing indefinitely."""
        for bak in glob.glob(os.path.join(bucket_bak_root, "_bucket=*")):
            dest = os.path.join(state_path, os.path.basename(bak))
            _recover_backup(dest, bak)
        if os.path.isdir(bucket_bak_root) and not os.listdir(bucket_bak_root):
            os.rmdir(bucket_bak_root)

    def _roll_bucketed(spark, delta: DataFrame, batch_id: int) -> None:
        _recover_all_bucket_backups()
        delta = delta.withColumn("_bucket", _bucket_expr())
        touched = sorted(
            r["_bucket"] for r in delta.select("_bucket").distinct().collect()
        )
        pending = []
        for b in touched:
            bpath = os.path.join(state_path, f"_bucket={b}")
            if not (os.path.exists(bpath) and batch_id <= _last_applied(bpath)):
                pending.append(b)
        if not pending:
            return  # full replay: every touched bucket already has this batch
        delta = delta.filter(F.col("_bucket").isin(pending)).drop("_bucket")
        existing = [
            b for b in pending
            if os.path.exists(os.path.join(state_path, f"_bucket={b}"))
        ]
        if existing:
            prior = spark.read.parquet(
                *[os.path.join(state_path, f"_bucket={b}") for b in existing]
            )
            new = merge_agg_state([prior, delta], **kw)
        else:
            new = delta
        _clear_stage_dirs()
        # one job writes every pending bucket; each bucket dir then swaps
        # independently (per-bucket meta ⇒ a crash replays only the rest)
        stage = f"{state_path}.__stage__{uuid.uuid4().hex[:8]}"
        (
            new.withColumn("_bucket", _bucket_expr())
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(stage)
        )
        os.makedirs(state_path, exist_ok=True)
        for b in pending:
            bstage = os.path.join(stage, f"_bucket={b}")
            if not os.path.exists(bstage):  # delta had rows, merge emptied none
                os.makedirs(bstage)
            with open(os.path.join(bstage, meta_name), "w") as f:
                json.dump({"batch_id": batch_id}, f)
            _atomic_install(
                bstage,
                os.path.join(state_path, f"_bucket={b}"),
                backup=_bucket_backup(b),
            )
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(bucket_bak_root, ignore_errors=True)

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = aggregate_state(batch_df, **kw)
        if hash_buckets:
            _roll_bucketed(spark, delta, batch_id)
        else:
            _roll_whole(spark, delta, batch_id)

    return (
        stream.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_cms_rollup(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    value_col: str,
    depth: int = 4,
):
    """Streaming HEAVY-HITTER maintenance — the streaming face of i10
    (operators/incremental.py cms_state/merge_cms_state): each
    micro-batch builds its count-min delta and adds it counter-by-
    counter into the persisted sketch under the same stage+swap +
    batch-id replay guard as foreach_batch_rollup.  Readers see either
    the old sketch or the new one, never a half-merge, and re-delivered
    micro-batches are dropped by the published batch-id watermark (CMS
    counters are linear, so a replayed add would double-count exactly
    like i7's sums — the idempotent alternative is i8's HLL register
    max, which cannot answer point-frequency queries).

    There is deliberately no bucketed variant: the whole sketch is
    <= |keys| * depth * 256 rows REGARDLESS of stream cardinality —
    that bound is the point of the sketch — so the whole-swap publish
    already is the O(state) path at any scale.

    Returns the StreamingQuery (caller stops it).
    """
    import glob
    import json
    import os
    import shutil
    import uuid

    from vunnel_spark.operators.incremental import cms_state, merge_cms_state
    from vunnel_spark.sinks.writers import _atomic_install, _recover_backup

    meta_name = "_rollup_meta.json"

    def _last_applied() -> int:
        m = os.path.join(state_path, meta_name)
        if os.path.exists(m):
            with open(m) as f:
                return json.load(f).get("batch_id", -1)
        return -1

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _recover_backup(state_path)
        if os.path.exists(state_path) and batch_id <= _last_applied():
            return  # replayed delivery: this delta is already in the state
        delta = cms_state(batch_df, keys, value_col, depth)
        if os.path.exists(state_path):
            new = merge_cms_state([spark.read.parquet(state_path), delta], keys)
        else:
            new = delta
        for stale in glob.glob(f"{state_path}.__stage__*"):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        stage = f"{state_path}.__stage__{uuid.uuid4().hex[:8]}"
        new.write.mode("overwrite").parquet(stage)
        with open(os.path.join(stage, meta_name), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        _atomic_install(stage, state_path)

    return (
        stream.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_hll_rollup(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    value_col: str,
):
    """Streaming DISTINCT-count maintenance — the streaming face of i11
    (operators/incremental.py hll_state/merge_hll_state): each
    micro-batch builds its explicit-HLL register delta and max-merges it
    into the persisted register state under the same stage+swap publish
    as foreach_batch_cms_rollup.

    The algebra difference from the CMS path matters operationally:
    register max is IDEMPOTENT, so a re-delivered micro-batch cannot
    corrupt the state even without the batch-id guard — the guard here
    only skips wasted merge work.  This is the sketch to reach for when
    the delivery layer is at-least-once and only cardinality (not point
    frequency) is needed.

    No bucketed variant for the same reason as CMS: the state is
    <= |keys| * 256 rows regardless of stream cardinality.

    Returns the StreamingQuery (caller stops it).
    """
    import glob
    import json
    import os
    import shutil
    import uuid

    from vunnel_spark.operators.incremental import hll_state, merge_hll_state
    from vunnel_spark.sinks.writers import _atomic_install, _recover_backup

    meta_name = "_rollup_meta.json"

    def _last_applied() -> int:
        m = os.path.join(state_path, meta_name)
        if os.path.exists(m):
            with open(m) as f:
                return json.load(f).get("batch_id", -1)
        return -1

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _recover_backup(state_path)
        if os.path.exists(state_path) and batch_id <= _last_applied():
            return  # replay: harmless by idempotency, skipped for cost
        delta = hll_state(batch_df, keys, value_col)
        if os.path.exists(state_path):
            new = merge_hll_state([spark.read.parquet(state_path), delta], keys)
        else:
            new = delta
        for stale in glob.glob(f"{state_path}.__stage__*"):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        stage = f"{state_path}.__stage__{uuid.uuid4().hex[:8]}"
        new.write.mode("overwrite").parquet(stage)
        with open(os.path.join(stage, meta_name), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        _atomic_install(stage, state_path)

    return (
        stream.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_bloom_rollup(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    value_col: str,
):
    """Streaming set-membership maintenance — the streaming face of i12
    (operators/incremental.py bloom_state/merge_bloom_state): each
    micro-batch builds its 8-lane Bloom delta and OR-merges it into the
    persisted filter under the same stage+swap publish as the CMS/HLL
    rollups.

    Like the HLL path, lane OR is IDEMPOTENT — a re-delivered
    micro-batch cannot corrupt state; the batch-id guard only skips
    wasted merges.  This is the sketch for at-least-once streams that
    need "have we ever seen this key?" (ingestion dedup pre-filters,
    join pruning) rather than a count.

    No bucketed variant: state is <= |keys| * 8 rows regardless of
    stream cardinality.

    Returns the StreamingQuery (caller stops it).
    """
    import glob
    import json
    import os
    import shutil
    import uuid

    from vunnel_spark.operators.incremental import (
        bloom_state,
        merge_bloom_state,
    )
    from vunnel_spark.sinks.writers import _atomic_install, _recover_backup

    meta_name = "_rollup_meta.json"

    def _last_applied() -> int:
        m = os.path.join(state_path, meta_name)
        if os.path.exists(m):
            with open(m) as f:
                return json.load(f).get("batch_id", -1)
        return -1

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _recover_backup(state_path)
        if os.path.exists(state_path) and batch_id <= _last_applied():
            return  # replay: harmless by idempotency, skipped for cost
        delta = bloom_state(batch_df, keys, value_col)
        if os.path.exists(state_path):
            new = merge_bloom_state(
                [spark.read.parquet(state_path), delta], keys
            )
        else:
            new = delta
        for stale in glob.glob(f"{state_path}.__stage__*"):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        stage = f"{state_path}.__stage__{uuid.uuid4().hex[:8]}"
        new.write.mode("overwrite").parquet(stage)
        with open(os.path.join(stage, meta_name), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        _atomic_install(stage, state_path)

    return (
        stream.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint)
        .start()
    )
