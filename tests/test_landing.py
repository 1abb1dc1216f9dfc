"""Landing-tier tests: the S15 KV input cache."""

from __future__ import annotations

import os

from vunnel_spark.sources import KVCache


# ------------------------------------------------------------------- S15

def test_kv_cache_put_get_last_wins(spark, tmp_path):
    cache = KVCache(str(tmp_path / "kv"))
    df1 = spark.createDataFrame(
        [("a", bytearray(b"one")), ("b", bytearray(b"two"))],
        "key string, payload binary",
    )
    cache.put(df1)
    got = {r.key: bytes(r.payload) for r in cache.get_all(spark).collect()}
    assert got == {"a": b"one", "b": b"two"}

    # re-put: a updated (last wins), c new, b untouched
    df2 = spark.createDataFrame(
        [("a", bytearray(b"ONE")), ("c", bytearray(b"three"))],
        "key string, payload binary",
    )
    cache.put(df2)
    got = {r.key: bytes(r.payload) for r in cache.get_all(spark).collect()}
    assert got == {"a": b"ONE", "b": b"two", "c": b"three"}

    keyed = {r.key for r in cache.get(spark, ["a", "c"]).collect()}
    assert keyed == {"a", "c"}


def test_kv_cache_changed_keys_skip_compute(spark, tmp_path):
    cache = KVCache(str(tmp_path / "kv"))
    incoming = spark.createDataFrame(
        [("a", bytearray(b"one")), ("b", bytearray(b"two"))],
        "key string, payload binary",
    )
    # empty cache: everything is "changed"
    assert {r.key for r in cache.changed_keys(incoming).collect()} == {"a", "b"}
    cache.put(incoming)
    # identical payloads: nothing to recompute
    assert cache.changed_keys(incoming).count() == 0
    # one mutated payload + one new key
    nxt = spark.createDataFrame(
        [("a", bytearray(b"one")), ("b", bytearray(b"TWO!")), ("d", bytearray(b"x"))],
        "key string, payload binary",
    )
    assert {r.key for r in cache.changed_keys(nxt).collect()} == {"b", "d"}


def test_kv_cache_put_recovers_crashed_swap(spark, tmp_path):
    """A kill between the publish's two renames parks the payload table
    as a backup; the next put must restore it and merge into it, not
    treat the cache as empty and drop every cached key."""
    cache = KVCache(str(tmp_path / "kv"))
    cache.put(spark.createDataFrame(
        [("a", bytearray(b"one")), ("b", bytearray(b"two"))],
        "key string, payload binary",
    ))
    data = os.path.join(cache.path, "data")
    os.rename(data, f"{data}.__old__")  # simulate the crash window

    cache.put(spark.createDataFrame([("c", bytearray(b"three"))], "key string, payload binary"))
    got = {r.key: bytes(r.payload) for r in cache.get_all(spark).collect()}
    assert got == {"a": b"one", "b": b"two", "c": b"three"}
    assert os.listdir(cache.path) == ["data"]


def test_kv_cache_metadata_sidecar(tmp_path):
    cache = KVCache(str(tmp_path / "kv"))
    assert cache.get_metadata() == {}  # lazily initialized
    cache.set_metadata({"last_run": "2026-08-13", "cursor": "abc"})
    assert cache.get_metadata()["cursor"] == "abc"


def test_kv_cache_put_collapses_batch_duplicates(spark, tmp_path):
    """put() keeps one row per key even when the INCOMING batch itself
    carries duplicates — get()/changed_keys() rely on that invariant."""
    cache = KVCache(str(tmp_path / "kv"))
    df = spark.createDataFrame(
        [("a", bytearray(b"one")), ("a", bytearray(b"uno")),
         ("a", bytearray(b"one")), ("b", bytearray(b"two"))],
        "key string, payload binary",
    )
    cache.put(df)
    rows = cache.get_all(spark).collect()
    assert len(rows) == 2
    by_key = {r.key: bytes(r.payload) for r in rows}
    assert by_key["b"] == b"two" and by_key["a"] in (b"one", b"uno")

    # deterministic: re-putting the same batch (repartitioned) is a no-op
    winner = by_key["a"]
    cache.put(df.repartition(7))
    again = {r.key: bytes(r.payload) for r in cache.get_all(spark).collect()}
    assert again["a"] == winner
