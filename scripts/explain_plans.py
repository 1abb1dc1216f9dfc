#!/usr/bin/env python
"""Write the optimized logical plan of registered queries, in a form two
runs of one tree write byte-identically.

Usage:
    python scripts/explain_plans.py OUTDIR SUFFIX [q1 q2 ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query, or for every
registered query in registry order when none is named.  The plan is
``queryExecution().optimizedPlan()``, with the tokens that vary between
runs replaced by fixed placeholders (``normalise``).  Runs from whatever
repo root sits on sys.path, so the same script generates "before" plans
from a historical checkout and "after" plans from HEAD.

One plan still varies: x6 has two count(DISTINCT) aggregates, and
Spark's RewriteDistinctAggregates orders their groups by the hash of
attribute ids, which carry a per-JVM UUID, so its Expand lists the two
groups in either order.
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

#: (pattern, placeholder) for each plan token that varies between runs
_VARYING = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),  # exchange ids in cached plans
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1_N"),  # Python-lambda variables
    # the per-process scratch root and the store directory under it
    (re.compile(r"vunnel_spark_[a-z0-9_]+/([a-z]+\d+_)[a-z0-9_]{8}"), r"vunnel_spark_*/\1*"),
    (re.compile(re.escape(_REPO)), "<repo>"),
]


def normalise(plan: str) -> str:
    """``plan`` with its run-dependent tokens replaced by placeholders."""
    for pattern, placeholder in _VARYING:
        plan = pattern.sub(placeholder, plan)
    return plan


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from vunnel_spark.registry import all_queries
    from vunnel_spark.session import get_spark

    spark = get_spark("vunnel_spark_explain")
    # Spark cuts metadata strings such as a FileScan's Location to 100
    # characters, which would cut a path under the checkout at a point
    # that depends on how long the checkout's own path is.
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    qs = all_queries()
    for name in names or list(qs):
        if name not in qs:
            print(f"SKIP (not registered): {name}")
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = normalise(df._jdf.queryExecution().optimizedPlan().toString())
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR constructing/explaining {name}: {e}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
