"""Cached oracle digests are reused only while their oracle SQL and the
gate's hash are unchanged."""

import json

from perfbench import gen, oracle

QUERY = "s12_sink_roundtrip"


def test_cached_digest_is_keyed_on_the_oracle(tmp_path):
    from vunnel_spark.registry import all_oracles

    sf_dir = gen.write_inputs(1, str(tmp_path / "seed-1"))
    real = oracle.expected(sf_dir, [QUERY])[QUERY]
    assert real["key"] == oracle.cache_key(all_oracles()[QUERY])

    path = tmp_path / "seed-1" / "oracle.json"
    fake = dict(real, hash="0" * 16)
    path.write_text(json.dumps({QUERY: fake}))
    assert oracle.expected(sf_dir, [QUERY])[QUERY] == fake

    path.write_text(json.dumps({QUERY: dict(fake, key="stale")}))
    assert oracle.expected(sf_dir, [QUERY])[QUERY] == real
