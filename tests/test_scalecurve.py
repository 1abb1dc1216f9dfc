"""scripts/scalecurve.py, the one query-timing loop under scripts/, run end
to end in a driver process of its own: a cheap registered query gets a
time at sf0.01, and a query that raises gets an error entry while the run
goes on."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Registers a query that raises, then runs scalecurve.py with our argv.
CHILD = r"""
import runpy, sys
from vunnel_spark.registry import all_queries, register

all_queries()


@register("zz_raises", None)
def _raises(spark, sf_dir):
    raise ValueError("planted failure")


sys.argv = ["scalecurve.py", *sys.argv[1:]]
runpy.run_path("scripts/scalecurve.py", run_name="__main__")
"""


def test_scalecurve_times_a_query_and_records_errors(tmp_path):
    out = tmp_path / "curve.json"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, (str(REPO),
                                                        os.environ.get("PYTHONPATH")))))
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(out), "only:o3_sorted_listing,zz_raises", "sf0.01"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    table = json.loads(out.read_text())
    assert list(table) == ["o3_sorted_listing", "zz_raises"]
    timed = table["o3_sorted_listing"]
    assert set(timed) == {"sf0.01", "ratio_01_to_1"}
    assert isinstance(timed["sf0.01"], float) and timed["sf0.01"] > 0
    assert timed["ratio_01_to_1"] is None  # no sf0.1 / sf1 in this run
    assert table["zz_raises"] == {
        "sf0.01": {"error": "ValueError: planted failure"},
        "ratio_01_to_1": None,
    }
