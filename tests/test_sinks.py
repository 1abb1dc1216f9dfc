"""Sink round-trip tests: write -> re-read -> content identical; dedup
modes; first-observed merge idempotence; checksum listing tamper detection.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from vunnel_spark.session import load_table
from vunnel_spark.sinks import EnvelopeWriter, first_observed_merge, write_checksum_listing
from vunnel_spark.sinks.writers import envelope, validate_checksum_listing


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path)


def test_envelope_roundtrip(spark, sf_dir, outdir):
    orders = load_table(spark, sf_dir, "orders")
    env = envelope(orders, "schema/os/v1", "o_orderkey", ["o_orderstatus", "o_totalprice"])
    path = os.path.join(outdir, "results")
    EnvelopeWriter(path, dedup=None).write(env)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    assert set(back.columns) == {"schema", "identifier", "item"}
    # value round-trip on a sample key
    row = back.filter(F.col("identifier") == "1").collect()[0]
    src = orders.filter(F.col("o_orderkey") == 1).collect()[0]
    assert row.item.o_totalprice == src.o_totalprice


def test_dedup_modes(spark, outdir):
    df = spark.createDataFrame(
        [("a", 1, "first"), ("a", 2, "second"), ("b", 1, "only")],
        "identifier string, seq int, payload string",
    )
    p_last = os.path.join(outdir, "last")
    EnvelopeWriter(p_last, dedup="last_wins", order_col="seq").write(df)
    last = {r.identifier: r.payload for r in spark.read.parquet(p_last).collect()}
    assert last == {"a": "second", "b": "only"}

    p_first = os.path.join(outdir, "first")
    EnvelopeWriter(p_first, dedup="first_wins", order_col="seq").write(df)
    first = {r.identifier: r.payload for r in spark.read.parquet(p_first).collect()}
    assert first == {"a": "first", "b": "only"}


def test_overwrite_swaps_atomically(spark, outdir):
    path = os.path.join(outdir, "swap")
    w = EnvelopeWriter(path, dedup=None)
    w.write(spark.createDataFrame([("a",)], "identifier string"))
    w.write(spark.createDataFrame([("b",), ("c",)], "identifier string"))
    vals = {r.identifier for r in spark.read.parquet(path).collect()}
    assert vals == {"b", "c"}
    assert not os.path.exists(path + ".__old__")


def test_first_observed_merge_idempotent(spark, outdir):
    path = os.path.join(outdir, "fixdates")
    keys1 = spark.createDataFrame([("v1", "p1"), ("v2", "p1")], "vuln string, pkg string")
    out1 = first_observed_merge(spark, path, keys1, ["vuln", "pkg"], today="2026-01-01")
    assert out1.count() == 2

    # re-merge same keys with a later 'today': dates must NOT change
    out2 = first_observed_merge(spark, path, keys1, ["vuln", "pkg"], today="2026-02-02")
    dates = {(r.vuln, r.pkg): str(r.first_observed) for r in out2.collect()}
    assert set(dates.values()) == {"2026-01-01"}

    # new key gets the new date; old keys keep theirs
    keys2 = spark.createDataFrame([("v1", "p1"), ("v3", "p9")], "vuln string, pkg string")
    out3 = first_observed_merge(spark, path, keys2, ["vuln", "pkg"], today="2026-03-03")
    dates = {(r.vuln, r.pkg): str(r.first_observed) for r in out3.collect()}
    assert dates[("v1", "p1")] == "2026-01-01"
    assert dates[("v3", "p9")] == "2026-03-03"
    assert len(dates) == 3


def test_checksum_listing_detects_tamper(spark, outdir):
    path = os.path.join(outdir, "data")
    EnvelopeWriter(path, dedup=None).write(
        spark.createDataFrame([("x", 1)], "identifier string, v int")
    )
    listing = os.path.join(outdir, "listing.json")
    doc = write_checksum_listing(path, listing)
    assert doc["files"] and validate_checksum_listing(path, listing)
    # tamper with one data file -> validation must fail
    victim = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    with open(os.path.join(path, victim), "ab") as f:
        f.write(b"tamper")
    assert not validate_checksum_listing(path, listing)


def test_overwrite_partitions_freezes_absent(spark, outdir):
    from vunnel_spark.sinks.writers import overwrite_partitions

    path = os.path.join(outdir, "frag")
    day1 = spark.createDataFrame(
        [("pypi", "a", 1), ("npm", "b", 1), ("rpm", "c", 1)], "eco string, id string, run int"
    )
    overwrite_partitions(day1, path, "eco")
    # day 2: only pypi and npm present; rpm must stay frozen at run=1
    day2 = spark.createDataFrame(
        [("pypi", "a2", 2), ("npm", "b2", 2)], "eco string, id string, run int"
    )
    overwrite_partitions(day2, path, "eco")
    rows = {(r.eco, r.id, r.run) for r in spark.read.parquet(path).collect()}
    assert rows == {("pypi", "a2", 2), ("npm", "b2", 2), ("rpm", "c", 1)}


def test_snapshot_import_gates(spark, outdir):
    from vunnel_spark.sinks.writers import import_snapshot, publish_snapshot

    snap = os.path.join(outdir, "snapA")
    dest = os.path.join(outdir, "installed")
    df = spark.createDataFrame([("v1", 1)], "id string, n int")
    df.write.parquet(snap)
    publish_snapshot(snap, built="2026-01-01T00:00:00")

    # fresh install
    assert import_snapshot(snap, dest) == "imported"
    assert {r.id for r in spark.read.parquet(dest).collect()} == {"v1"}

    # same-age snapshot: skip-compute path (nothing rewritten)
    assert import_snapshot(snap, dest) == "skipped"

    # newer snapshot replaces
    snap2 = os.path.join(outdir, "snapB")
    spark.createDataFrame([("v2", 2)], "id string, n int").write.parquet(snap2)
    publish_snapshot(snap2, built="2026-06-01T00:00:00")
    assert import_snapshot(snap2, dest) == "imported"
    assert {r.id for r in spark.read.parquet(dest).collect()} == {"v2"}


def test_snapshot_import_rejects_tampered(spark, outdir):
    import glob as _glob

    import pytest as _pytest

    from vunnel_spark.sinks.writers import import_snapshot, publish_snapshot

    snap = os.path.join(outdir, "snapT")
    dest = os.path.join(outdir, "installedT")
    spark.createDataFrame([("v1", 1)], "id string, n int").write.parquet(snap)
    publish_snapshot(snap, built="2026-01-01T00:00:00")
    part = _glob.glob(os.path.join(snap, "part-*.parquet"))[0]
    with open(part, "ab") as f:
        f.write(b"corrupt")
    with _pytest.raises(ValueError, match="checksum"):
        import_snapshot(snap, dest)
    assert not os.path.exists(dest), "tampered snapshot must not install"


def test_snapshot_validation_writes_nothing_into_snapshot(spark, outdir, monkeypatch):
    """Checking a snapshot must leave it untouched, so a read-only
    snapshot validates: no file under it is opened for writing."""
    import builtins

    from vunnel_spark.sinks.writers import _LISTING, publish_snapshot

    snap = os.path.join(outdir, "snapR")
    spark.createDataFrame([("v1", 1)], "id string, n int").write.parquet(snap)
    publish_snapshot(snap, built="2026-01-01T00:00:00")
    before = sorted(os.listdir(snap))

    writes, real_open = [], builtins.open

    def recording_open(file, mode="r", *args, **kwargs):
        if any(c in mode for c in "wax+") and str(file).startswith(snap):
            writes.append(str(file))
        return real_open(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", recording_open)
    assert validate_checksum_listing(snap, os.path.join(snap, _LISTING))
    monkeypatch.undo()
    assert writes == []
    assert sorted(os.listdir(snap)) == before


def test_dedup_without_order_col_stable_across_partitioning(spark, outdir):
    """A12 semantics must not depend on partition layout: with no
    order_col the surviving duplicate is picked by a content hash, so the
    same data written under different partitionings yields byte-identical
    results (the old monotonically_increasing_id fallback did not)."""
    rows = [("a", i, f"payload-{i}") for i in range(6)] + [("b", 0, "only")]
    df = spark.createDataFrame(rows, "identifier string, seq int, payload string")

    outs = []
    for i, shaped in enumerate([df.repartition(1), df.repartition(8, "seq"), df.coalesce(2)]):
        p = os.path.join(outdir, f"stable{i}")
        EnvelopeWriter(p, dedup="last_wins").write(shaped)
        outs.append(sorted(
            (r.identifier, r.seq, r.payload)
            for r in spark.read.parquet(p).collect()
        ))
    assert outs[0] == outs[1] == outs[2]
    assert [r[0] for r in outs[0]] == ["a", "b"]


def test_hash_bucket_keyed_read_prunes_and_matches(spark, sf_dir, outdir):
    # metastore-free hash bucketing: read_keys must (a) return exactly
    # the filter-on-full-read rows, (b) fold each key's bucket to a
    # literal so PartitionFilters prune unmatched bucket dirs, (c) hide
    # the layout column from both read paths
    import re

    path = os.path.join(outdir, "bucketed_store")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ident"), F.col("o_totalprice").alias("price")
    )
    w = EnvelopeWriter(path, key="ident", order_col="ident", hash_buckets=8)
    w.write(orders)

    keys = [11, 23, 35]
    got = {r.ident for r in w.read_keys(spark, keys).collect()}
    want = {r.ident for r in w.read(spark).filter(F.col("ident").isin(keys)).collect()}
    assert got == want and got == set(keys)

    df = w.read_keys(spark, keys)
    p = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)", p)
    assert m and "_bucket" in m.group(1), p
    # folded literals, strictly fewer buckets than written
    n_buckets = len(re.findall(r"_bucket#\d+ = \d+", m.group(1)))
    assert 0 < n_buckets < 8, m.group(1)
    assert "_bucket" not in df.columns
    assert "_bucket" not in w.read(spark).columns
    # the layout really is hive-partitioned on disk
    assert any(d.startswith("_bucket=") for d in os.listdir(path)), os.listdir(path)


def test_recover_backup_restores_crashed_swap(spark, tmp_path):
    """A hard kill between _atomic_install's two renames leaves the prior
    store parked as __old__ with nothing at the path; the next write must
    restore it, not treat the store as empty."""
    import os

    from vunnel_spark.sinks.writers import _recover_backup

    path = str(tmp_path / "store")
    spark.range(5).write.parquet(path)
    os.rename(path, f"{path}.__old__")  # simulate the crash window
    _recover_backup(path)
    assert spark.read.parquet(path).count() == 5
    assert not os.path.exists(f"{path}.__old__")


def test_first_observed_merge_recovers_crashed_swap(spark, outdir):
    """A kill between _atomic_install's two renames parks the state store
    as __old__.  The next merge must restore it before deciding whether
    the store exists, or it republishes the delta alone and every stored
    key loses its first-observed date."""
    path = os.path.join(outdir, "fixdates")
    keys1 = spark.createDataFrame([("v1",), ("v2",)], "vuln string")
    first_observed_merge(spark, path, keys1, ["vuln"], today="2026-01-01")
    os.rename(path, f"{path}.__old__")  # simulate the crash window

    keys2 = spark.createDataFrame([("v3",)], "vuln string")
    out = first_observed_merge(spark, path, keys2, ["vuln"], today="2026-02-02")
    dates = {r.vuln: str(r.first_observed) for r in out.collect()}
    assert dates == {"v1": "2026-01-01", "v2": "2026-01-01", "v3": "2026-02-02"}
    assert not os.path.exists(f"{path}.__old__")


# ------------------------------------------------------------ schema record

def _newest_job(spark) -> int:
    """Id of the newest Spark job, once every posted event is recorded."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    return it.next().jobId() if it.hasNext() else -1


_LAYOUTS = {
    "plain": {},
    "partition_by": {"partition_by": ["rel"]},
    "hash_buckets": {"hash_buckets": 4},
}


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_schema_record_reads_as_inferred_without_a_job(spark, outdir, layout):
    """The publish records its data schema in the store; reads built from
    it run no Spark job and see exactly the schema inference would give,
    including partition columns whose values look numeric."""
    rows = spark.range(6).select(
        F.col("id").alias("k"), F.when(F.col("id") % 2 == 0, "x").alias("v")
    )
    # envelope's item struct carries the non-nullable id field
    env = envelope(rows, "schema/os/v1", "k", ["k", "v"]).withColumn(
        "rel", (F.col("item.k") % 2 + 22).cast("string")
    )
    assert not env.schema["item"].dataType["k"].nullable
    path = os.path.join(outdir, layout)
    w = EnvelopeWriter(path, dedup=None, **_LAYOUTS[layout])
    w.write(env)
    assert os.path.isfile(os.path.join(path, "_schema.json"))

    before = _newest_job(spark)
    got = w.read(spark)
    keyed = w.read_keys(spark, ["1", "4"])
    assert _newest_job(spark) == before, "building the read ran a Spark job"

    inferred = spark.read.parquet(path)
    if w.hash_buckets:
        inferred = inferred.drop(EnvelopeWriter.BUCKET_COL)
    assert got.schema == inferred.schema
    if layout == "partition_by":
        assert got.schema["rel"].dataType.typeName() == "integer"
    assert sorted(got.collect(), key=str) == sorted(inferred.collect(), key=str)
    assert {r.identifier for r in keyed.collect()} == {"1", "4"}


def test_store_without_schema_record_reads_by_inference(spark, outdir):
    path = os.path.join(outdir, "legacy")
    spark.createDataFrame([("a", 1)], "identifier string, n int").write.parquet(path)
    got = EnvelopeWriter(path, dedup=None).read(spark)
    assert got.schema == spark.read.parquet(path).schema
    assert [tuple(r) for r in got.collect()] == [("a", 1)]


def test_snapshot_digest_ignores_schema_record(spark, outdir):
    from vunnel_spark.sinks.writers import publish_snapshot

    path = os.path.join(outdir, "snap")
    EnvelopeWriter(path, dedup=None).write(
        spark.createDataFrame([("a", 1), ("b", 2)], "identifier string, n int")
    )
    record = os.path.join(path, "_schema.json")
    with_record = publish_snapshot(path, built="2026-01-01T00:00:00")["digest"]
    os.remove(record)
    without = publish_snapshot(path, built="2026-01-01T00:00:00")["digest"]
    assert with_record == without


def test_compaction_keeps_schema_record(spark, outdir):
    """Compacting an unpartitioned store swaps a new root into place;
    the publish's schema record goes with it, so read-backs stay
    job-free."""
    from vunnel_spark.sinks.writers import compact_partitions

    path = os.path.join(outdir, "compacted")
    w = EnvelopeWriter(path, dedup=None)
    w.write(
        spark.range(40)
        .select(F.col("id").cast("string").alias("identifier"), (F.col("id") * 3).alias("n"))
        .repartition(8)
    )
    rows = sorted(map(tuple, w.read(spark).collect()))
    assert list(compact_partitions(spark, path, min_files=4)) == ["."]
    assert os.path.isfile(os.path.join(path, "_schema.json"))

    before = _newest_job(spark)
    got = w.read(spark)
    assert _newest_job(spark) == before, "building the read ran a Spark job"
    assert sorted(map(tuple, got.collect())) == rows


@pytest.mark.parametrize("layout", ["plain", "partition_by"])
def test_compaction_reads_with_schema_record(spark, outdir, layout):
    """Compaction reads each rewritten dir with the store's schema record:
    one Spark job (the rewrite) per dir, none to infer its schema."""
    from vunnel_spark.sinks.writers import compact_partitions

    path = os.path.join(outdir, layout)
    w = EnvelopeWriter(path, dedup=None, **_LAYOUTS[layout])
    w.write(
        spark.range(40)
        .select(
            F.col("id").cast("string").alias("identifier"),
            (F.col("id") * 3).alias("n"),
            (F.col("id") % 2 + 22).cast("string").alias("rel"),
        )
        .repartition(8)
    )
    rows = sorted(map(tuple, w.read(spark).collect()))
    before = _newest_job(spark)
    report = compact_partitions(spark, path, min_files=4)
    assert len(report) == (2 if layout == "partition_by" else 1)
    assert _newest_job(spark) - before == len(report)
    assert sorted(map(tuple, w.read(spark).collect())) == rows


# ----------------------------------------------------- one table format

def test_sinks_write_parquet_when_delta_imports(spark, tmp_path, monkeypatch):
    """The sinks have one format, single-writer parquet: an importable
    ``delta`` package (a stub here) must not send a new store down another
    path.  Both idioms write stores that ``spark.read.parquet`` reads."""
    import sys
    import types

    from vunnel_spark.sinks.writers import first_observed_merge, overwrite_partitions

    delta, tables = types.ModuleType("delta"), types.ModuleType("delta.tables")
    tables.DeltaTable = type("DeltaTable", (), {})
    delta.tables = tables
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)

    fo = str(tmp_path / "fo")
    obs = spark.createDataFrame([("a",), ("b",)], "k string")
    got = first_observed_merge(spark, fo, obs, ["k"], today="2026-01-01")
    assert {r.k: str(r.first_observed) for r in got.collect()} == {
        "a": "2026-01-01", "b": "2026-01-01",
    }
    assert {r.k for r in spark.read.parquet(fo).collect()} == {"a", "b"}

    ow = str(tmp_path / "ow")
    day1 = spark.createDataFrame([("p1", 1), ("p2", 2)], "p string, v int")
    overwrite_partitions(day1, ow, "p")
    day2 = spark.createDataFrame([("p2", 20)], "p string, v int")
    overwrite_partitions(day2, ow, "p")
    rows = {(r.p, r.v) for r in spark.read.parquet(ow).collect()}
    assert rows == {("p1", 1), ("p2", 20)}  # p1 frozen, p2 replaced
    for store in (fo, ow):
        assert not os.path.exists(os.path.join(store, "_delta_log"))


# ------------------------------------------------------------- compaction

def _parquet_files(d):
    import glob as g
    import os

    return sorted(
        p for p in g.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )


def test_compact_partitions_rewrites_only_fragmented_dirs(spark, tmp_path):
    import os

    from vunnel_spark.sinks.writers import compact_partitions

    store = str(tmp_path / "store")
    # partition p=a: 3 fragmented appends x 4 files; p=b: one small append
    for i in range(3):
        (
            spark.range(i * 100, (i + 1) * 100)
            .selectExpr("'a' AS p", "id AS v")
            .repartition(4)
            .write.mode("append").partitionBy("p").parquet(store)
        )
    spark.createDataFrame([("b", -1)], "p string, v long").write.mode(
        "append"
    ).partitionBy("p").parquet(store)

    before_a = _parquet_files(os.path.join(store, "p=a"))
    before_b = _parquet_files(os.path.join(store, "p=b"))
    assert len(before_a) == 12
    rows_before = {(r.p, r.v) for r in spark.read.parquet(store).collect()}

    report = compact_partitions(spark, store, min_files=4)
    assert list(report) == ["p=a"] and report["p=a"][0] == 12
    after_a = _parquet_files(os.path.join(store, "p=a"))
    assert len(after_a) == report["p=a"][1] < 12
    # p=b untouched: identical file list
    assert _parquet_files(os.path.join(store, "p=b")) == before_b
    # pure re-layout: reader-visible rows identical
    assert {(r.p, r.v) for r in spark.read.parquet(store).collect()} == rows_before
    # no stage/backup residue, and nothing '='-named the discovery could list
    assert not os.path.exists(store + ".__compact__")
    assert not os.path.exists(store + ".__old__")
    # idempotent: a second pass finds nothing to do
    assert compact_partitions(spark, store, min_files=4) == {}


def test_compact_partitions_recovers_parked_backup(spark, tmp_path):
    import os

    from vunnel_spark.sinks.writers import compact_partitions

    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v long"
    ).write.partitionBy("p").parquet(store)
    # simulate a crash between _atomic_install's renames: p=a parked
    # outside the store, nothing at its destination
    os.makedirs(store + ".__old__", exist_ok=True)
    os.rename(os.path.join(store, "p=a"), os.path.join(store + ".__old__", "p=a"))
    assert {r.p for r in spark.read.parquet(store).collect()} == {"b"}
    compact_partitions(spark, store)  # recovery runs up front
    assert {(r.p, r.v) for r in spark.read.parquet(store).collect()} == {
        ("a", 1), ("b", 2)
    }
    assert not os.path.exists(store + ".__old__")


_SCRATCH_SCRIPT = """
import os, sys
from vunnel_spark.queries._util import scratch_dir

store = scratch_dir("s12_")
open(os.path.join(store, "part-0"), "w").write("rows")
root = os.path.dirname(store)
if os.fork() == 0:
    sys.exit(0)  # a forked child exits normally and runs its atexit hooks
os.wait()
print(root, os.path.isfile(os.path.join(store, "part-0")))
"""


def test_scratch_dirs_go_when_their_process_exits(tmp_path):
    """Query-build stores live under one per-process root in the temp
    dir: a forked child's exit leaves it, the owning process's exit
    removes it.  Subprocess only, no Spark session."""
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_SCRIPT], capture_output=True, text=True,
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(repo)},
        cwd=repo, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    root, store_after_child = out.stdout.split()
    assert Path(root).parent == tmp_path
    assert store_after_child == "True"
    assert not Path(root).exists()


_KILLED_SCRIPT = """
import os, signal
from vunnel_spark.queries._util import scratch_dir

print(os.path.dirname(scratch_dir("s12_")), flush=True)
os.kill(os.getpid(), signal.SIGKILL)
"""


def test_scratch_roots_of_killed_processes_are_swept(tmp_path):
    """A process killed by SIGKILL runs no atexit hook and leaves its
    root behind; the next process's first scratch_dir removes it, and
    leaves the root of a process that still runs (this one).
    Subprocesses only, no Spark session."""
    repo = Path(__file__).resolve().parents[1]

    def run(script):
        return subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(repo)},
            cwd=repo, timeout=120,
        )

    killed = run(_KILLED_SCRIPT)
    assert killed.returncode == -signal.SIGKILL, killed.stderr
    root = Path(killed.stdout.strip())
    assert root.parent == tmp_path and root.is_dir()
    live = tmp_path / f"vunnel_spark_{os.getpid()}_live"
    live.mkdir()
    nxt = run("from vunnel_spark.queries._util import scratch_dir; scratch_dir('s12_')")
    assert nxt.returncode == 0, nxt.stderr
    assert not root.exists()
    assert live.is_dir()
