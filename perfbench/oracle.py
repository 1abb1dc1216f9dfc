"""DuckDB oracle results for a seed's inputs, and the check against Spark.

The row canonicalization and value hash are the correctness gate's own
(``scripts/check_correctness.py``), imported rather than copied, so the
benchmark compares exactly what the gate compares: row count, sorted
column names and the order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

from perfbench import REPO


_GATE_PATH = os.path.join(REPO, "scripts", "check_correctness.py")


def _gate():
    spec = importlib.util.spec_from_file_location("check_correctness", _GATE_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_GATE = _gate()
TABLES = _GATE.TABLES
with open(_GATE_PATH, "rb") as _f:
    _GATE_SOURCE = _f.read()


def cache_key(sql: str) -> str:
    """What a cached digest depends on besides the inputs (whose directory
    is rewritten when they change): the oracle SQL and the gate's
    canonicalization and hash."""
    return hashlib.sha256(_GATE_SOURCE + sql.encode()).hexdigest()[:16]


def digest(cols: list[str], rows: list[tuple]) -> dict:
    cols = [c.lower() for c in cols]
    return {"rows": len(rows), "cols": sorted(cols), "hash": _GATE.value_hash(cols, rows)}


def expected(sf_dir: str, queries: list[str]) -> dict[str, dict]:
    """Oracle digest per query, cached in ``sf_dir`` next to the inputs
    under :func:`cache_key` of the query's oracle SQL."""
    from vunnel_spark.registry import all_oracles

    oracles = all_oracles()
    path = os.path.join(sf_dir, "oracle.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    missing = [q for q in queries if cache.get(q, {}).get("key") != cache_key(oracles[q])]
    if missing:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for q in missing:
            res = con.execute(oracles[q])
            cache[q] = digest([d[0] for d in res.description], res.fetchall()) | {
                "key": cache_key(oracles[q])}
        con.close()
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {q: cache[q] for q in queries}


def mismatch(df, want: dict) -> str | None:
    """Collect ``df`` and compare it with the oracle digest; None if equal."""
    got = digest(df.columns, [tuple(r) for r in df.collect()])
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"schema {got['cols']} != {want['cols']}"
    if got["hash"] != want["hash"]:
        return f"hash {got['hash']} != {want['hash']}"
    return None
