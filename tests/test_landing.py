"""Landing-tier tests: S15 KV input cache, S8 safe archive extraction +
distributed member scan, I3 resumable cursor pagination."""

from __future__ import annotations

import io
import os
import tarfile

import pytest

from vunnel_spark.sources import (
    CursorCheckpoint,
    KVCache,
    paginate,
    read_tar_members,
    safe_extract,
)


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


# -------------------------------------------------------------------- S8

def _make_tar(path, members: dict, links: dict | None = None):
    with tarfile.open(path, "w:gz") as tar:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
        for name, target in (links or {}).items():
            info = tarfile.TarInfo(name)
            info.type = tarfile.SYMTYPE
            info.linkname = target
            tar.addfile(info)


def test_safe_extract_blocks_traversal(tmp_path):
    arc = str(tmp_path / "a.tar.gz")
    _make_tar(
        arc,
        {
            "ok/data.json": b"{}",
            "../escape.txt": b"bad",
            "/abs.txt": b"bad",
            "nested/../../escape2.txt": b"bad",
        },
        links={"ok/link_out": "/etc/passwd"},
    )
    dest = str(tmp_path / "out")
    kept = safe_extract(arc, dest)
    assert kept == ["ok/data.json"]
    assert os.path.exists(os.path.join(dest, "ok/data.json"))
    assert not os.path.exists(str(tmp_path / "escape.txt"))
    assert not os.path.exists(str(tmp_path / "escape2.txt"))


def test_read_tar_members_distributed(spark, tmp_path):
    for i in range(3):
        _make_tar(
            str(tmp_path / f"arc{i}.tar.gz"),
            {
                f"d/file{i}.json": b'{"n": %d}' % i,
                f"d/skip{i}.txt": b"nope",
                "../evil.json": b"{}",
            },
        )
    df = read_tar_members(spark, str(tmp_path / "*.tar.gz"), suffix=".json")
    rows = df.collect()
    # traversal member dropped, .txt pruned by suffix
    assert {r.member for r in rows} == {"d/file0.json", "d/file1.json", "d/file2.json"}
    assert all(bytes(r.content).startswith(b'{"n"') for r in rows)
    assert all(r.n_bytes == len(bytes(r.content)) for r in rows)


# -------------------------------------------------------------------- I3

def test_paginate_resumes_from_checkpoint(tmp_path):
    pages = {None: (["a", "b"], "c2"), "c2": (["c"], "c3"), "c3": (["d"], None)}
    calls = []

    def fetch(cursor):
        calls.append(cursor)
        if cursor == "c3" and len([c for c in calls if c == "c3"]) == 1:
            raise ConnectionError("flaky network")
        return pages[cursor]

    ckpt = CursorCheckpoint(str(tmp_path / "state" / "cursor.json"))
    got = []
    with pytest.raises(ConnectionError):
        for items in paginate(fetch, ckpt):
            got.extend(items)
    assert got == ["a", "b", "c"]
    assert ckpt.get()["cursor"] == "c3"  # durable mid-walk state

    # resume: only the in-flight page re-fetches
    for items in paginate(fetch, ckpt):
        got.extend(items)
    assert got == ["a", "b", "c", "d"]
    assert calls.count(None) == 1  # never restarted from the beginning
    assert ckpt.get()["done"] is True

    # a completed walk does not re-run
    for _ in paginate(fetch, ckpt):
        raise AssertionError("should not fetch after done")


# ------------------------------------------------------------------- S11

def _seq_transport(script):
    """Transport returning scripted (status, headers, body) responses."""
    calls = []

    def transport(url, timeout, headers):
        calls.append(url)
        resp = script[min(len(calls) - 1, len(script) - 1)]
        if isinstance(resp, Exception):
            raise resp
        return resp

    transport.calls = calls
    return transport


def test_http_retry_succeeds_after_transient_errors():
    from vunnel_spark.sources.http import get_with_retry

    t = _seq_transport([
        ConnectionError("reset"),
        (500, {}, b""),
        (200, {}, b"payload"),
    ])
    slept = []
    status, _, body = get_with_retry(
        "http://x/f.json", retries=3, transport=t, sleep=slept.append
    )
    assert (status, body) == (200, b"payload")
    assert len(t.calls) == 3 and len(slept) == 2  # backoff between attempts


def test_http_retry_exhaustion_reraises():
    from vunnel_spark.sources.http import HTTPStatusError, get_with_retry

    t = _seq_transport([(500, {}, b"")])
    with pytest.raises(HTTPStatusError):
        get_with_retry("http://x", retries=2, transport=t, sleep=lambda s: None)
    assert len(t.calls) == 3  # retries + 1


def test_http_rate_limit_honors_retry_after():
    from vunnel_spark.sources.http import get_with_retry

    t = _seq_transport([
        (429, {"Retry-After": "7"}, b""),
        (200, {}, b"ok"),
    ])
    slept = []
    status, _, _ = get_with_retry(
        "http://x", retries=2, transport=t, sleep=slept.append
    )
    assert status == 200
    assert slept == [7.0]  # waited exactly Retry-After, no extra backoff


def test_http_status_handler_overrides_validation():
    from vunnel_spark.sources.http import get_with_retry

    # 405 is acceptable to this caller; default validation would raise
    t = _seq_transport([(405, {}, b"x")])
    status, _, _ = get_with_retry(
        "http://x", retries=0, transport=t,
        status_handler=lambda s, h, b: None if s in (200, 405) else (_ for _ in ()).throw(ValueError(s)),
    )
    assert status == 405


# -------------------------------------------------------------------- I5

def test_should_full_sync_policy():
    import datetime as dt

    from vunnel_spark.sources.http import should_full_sync

    now = dt.datetime(2026, 8, 13, 12, 0, 0)
    assert should_full_sync({}, 30, now) is True  # never synced
    meta = {"last_full_sync": "2026-08-01T00:00:00"}
    assert should_full_sync(meta, 30, now) is False  # 12 days ago
    assert should_full_sync(meta, 10, now) is True   # interval elapsed


def test_http_default_transport_returns_error_responses(monkeypatch):
    """urlopen raises HTTPError for status >= 400 — the default transport
    must surface it as a (status, headers, body) response so the 3-step
    handling (Retry-After wait, status_handler override, then raise)
    applies, matching the reference's requests-based http.get."""
    import email.message
    import io
    import urllib.error
    import urllib.request

    from vunnel_spark.sources.http import _default_transport, get_with_retry

    def raising_urlopen(req, timeout=None):
        hdrs = email.message.Message()
        hdrs["Retry-After"] = "3"
        raise urllib.error.HTTPError(
            req.full_url, 404, "not found", hdrs, io.BytesIO(b"missing")
        )

    monkeypatch.setattr(urllib.request, "urlopen", raising_urlopen)
    status, headers, body = _default_transport("http://x/y", 1.0, {})
    assert (status, body) == (404, b"missing")
    assert headers.get("Retry-After") == "3"

    # a caller accepting 404 gets the response instead of retry+raise
    status, _, body = get_with_retry(
        "http://x/y", retries=0,
        status_handler=lambda s, h, b: None if s in (200, 404) else (_ for _ in ()).throw(ValueError(s)),
    )
    assert (status, body) == (404, b"missing")


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


# -------------------------------------------------------------------- S7

def _git(args, cwd):
    import subprocess

    return subprocess.check_output(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", *args],
        text=True, stderr=subprocess.PIPE, cwd=cwd,
    )


@pytest.fixture()
def local_repo(tmp_path):
    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    _git(["init", "-b", "main"], src)
    with open(os.path.join(src, "adv.json"), "w") as f:
        f.write('{"id": "OSV-1"}')
    _git(["add", "."], src)
    _git(["commit", "-m", "one"], src)
    return src


def test_git_landing_clone_then_update(local_repo, tmp_path):
    import os

    from vunnel_spark.sources.git import GitLanding

    dest = str(tmp_path / "landing" / "osv")
    g = GitLanding(local_repo, "main", dest, depth=None)
    assert g.clone_or_update() == dest
    assert os.path.exists(os.path.join(dest, "adv.json"))
    first = g.head_commit()

    # upstream grows a file; clone_or_update pulls instead of recloning
    with open(os.path.join(local_repo, "adv2.json"), "w") as f:
        f.write('{"id": "OSV-2"}')
    _git(["add", "."], local_repo)
    _git(["commit", "-m", "two"], local_repo)
    g.clone_or_update()
    assert os.path.exists(os.path.join(dest, "adv2.json"))
    assert g.head_commit() != first


def test_git_landing_recovers_from_corrupt_checkout(local_repo, tmp_path):
    import os
    import shutil

    from vunnel_spark.sources.git import GitLanding

    dest = str(tmp_path / "landing" / "osv")
    g = GitLanding(local_repo, "main", dest, depth=None)
    g.clone_or_update()
    shutil.rmtree(os.path.join(dest, ".git"))  # corrupt: no longer a repo
    g.clone_or_update()
    assert os.path.exists(os.path.join(dest, "adv.json"))


def test_git_landing_retries_transient_failures(tmp_path):
    from vunnel_spark.sources.git import GitLanding

    calls = []

    def flaky_runner(args, cwd=None):
        calls.append(args)
        if len(calls) < 3:
            raise ConnectionError("network")
        import os

        os.makedirs(str(tmp_path / "dst"), exist_ok=True)
        return ""

    g = GitLanding(
        "http://x/r.git", "main", str(tmp_path / "dst"),
        runner=flaky_runner, sleep=lambda s: None, retries=3,
    )
    assert g.clone_or_update() == str(tmp_path / "dst")
    assert len(calls) >= 3


# ------------------------------------------------------------------- S10

def _oci_transport(manifest, blobs):
    """Scripted OCI registry: /manifests/ and /blobs/ URL routing."""
    import json as _json

    calls = []

    def transport(url, timeout, headers):
        calls.append(url)
        if "/manifests/" in url:
            return 200, {}, _json.dumps(manifest).encode()
        digest = url.rsplit("/", 1)[1]
        if digest in blobs:
            return 200, {}, blobs[digest]
        return 404, {}, b""

    transport.calls = calls
    return transport


def _digest_of(b):
    import hashlib

    return "sha256:" + hashlib.sha256(b).hexdigest()


def test_oci_fetch_writes_verified_layers(tmp_path):
    from vunnel_spark.sources.oci import fetch_oci_artifact

    body = b'{"rows": [1, 2]}'
    manifest = {
        "layers": [
            {
                "digest": _digest_of(body),
                "annotations": {"org.opencontainers.image.title": "fixdates.json"},
            }
        ]
    }
    t = _oci_transport(manifest, {_digest_of(body): body})
    out = fetch_oci_artifact(
        "registry.example", "db/first-observed", "latest",
        str(tmp_path / "oci"), transport=t,
    )
    assert [p.rsplit("/", 1)[1] for p in out] == ["fixdates.json"]
    with open(out[0], "rb") as f:
        assert f.read() == body
    assert any("/v2/db/first-observed/manifests/latest" in u for u in t.calls)


def test_oci_fetch_rejects_tampered_blob(tmp_path):
    from vunnel_spark.sources.oci import OCIDigestMismatch, fetch_oci_artifact

    good = b"real"
    manifest = {"layers": [{"digest": _digest_of(good)}]}
    t = _oci_transport(manifest, {_digest_of(good): b"tampered"})
    with pytest.raises(OCIDigestMismatch):
        fetch_oci_artifact(
            "registry.example", "r", "v1", str(tmp_path / "oci"),
            transport=t, retries=0,
        )


def test_oci_fetch_sanitizes_layer_title(tmp_path):
    import os

    from vunnel_spark.sources.oci import fetch_oci_artifact

    body = b"x"
    manifest = {
        "layers": [
            {
                "digest": _digest_of(body),
                "annotations": {"org.opencontainers.image.title": "../../evil"},
            }
        ]
    }
    t = _oci_transport(manifest, {_digest_of(body): body})
    dest = str(tmp_path / "oci")
    out = fetch_oci_artifact("r.example", "r", "v1", dest, transport=t)
    assert os.path.dirname(out[0]) == dest  # never escapes the landing dir
