"""Shared helpers for query modules.

Lives outside any registering module so cross-module reuse (graph_q and
dedup share the near-dup corpus construction) never perturbs registry
insertion order — the external gate reads the first 50 entries, and a
helper import that drags a whole query module in would shift the window.
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vunnel_spark.session import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table (normalized for driver-data quirks)."""
    return load_table(spark, sf_dir, name)


def _remove_if_owner(root: str, owner: int) -> None:
    if os.getpid() == owner:  # a forked child inherits the hook, not the root
        shutil.rmtree(root, ignore_errors=True)


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


@functools.cache
def _scratch_root() -> str:
    """This process's root ``vunnel_spark_<pid>_*`` in the temp dir.
    Creating it removes the roots of processes that no longer run (a
    process killed by a signal runs no atexit hook); a reused pid only
    delays a removal."""
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        owner = re.match(r"vunnel_spark_(\d+)_", name)
        if owner and not _running(int(owner.group(1))):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    root = tempfile.mkdtemp(prefix=f"vunnel_spark_{os.getpid()}_")
    atexit.register(_remove_if_owner, root, os.getpid())
    return root


def scratch_dir(prefix: str) -> str:
    """A new directory for the store one query build writes, under a
    per-process root in the temp dir that goes at interpreter exit (the
    plan reads the store until then), or, if the process is killed, when
    the next process makes its root."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


#: offset for synthesized duplicate doc ids (dedup/graph query families)
DUP_BASE = 1_000_000

NEAR_DUPS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DUP_BASE} AS doc_id, text || ' spark' AS text
      FROM documents WHERE doc_id % 5 = 0
"""


def with_near_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ one-word-appended variants of every 5th doc."""
    near = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + DUP_BASE).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"),
    )
    return docs.unionByName(near)
