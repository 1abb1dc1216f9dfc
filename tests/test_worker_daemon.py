"""vunnel_spark.worker_daemon's two patches, each run in a fresh interpreter
so that this process's zipimport and gc stay as they are.  No Spark."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

# Imports from a zip archive holding a package, so two zipimporters (the
# archive's and the package's) share one directory, then installs the
# patch and counts the directory reads that invalidate_caches() makes.
SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport

archive = os.path.join(sys.argv[1], "mods.zip")

def write(files):
    with zipfile.ZipFile(archive + ".new", "w") as z:
        for name, body in files.items():
            z.writestr(name, body)
    os.replace(archive + ".new", archive)

write({"pkg/__init__.py": "", "pkg/one.py": "X = 1\n"})
sys.path.insert(0, archive)
import pkg.one
assert pkg.one.X == 1

stock = zipimport.zipimporter.invalidate_caches
from vunnel_spark import worker_daemon
worker_daemon.patch_zipimport()
if sys.version_info >= (3, 13):
    assert zipimport.zipimporter.invalidate_caches is stock
    print("untouched")
    sys.exit()

reads = []
read = zipimport._read_directory
def counted(path):
    reads.append(path)
    return read(path)
zipimport._read_directory = counted

importlib.invalidate_caches()  # the version of the first read is unknown
assert reads == [archive], reads
reads.clear()
for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads

write({"pkg/__init__.py": "", "pkg/one.py": "X = 1\n", "pkg/two.py": "Y = 2\n"})
importlib.invalidate_caches()
assert reads == [archive], reads
import pkg.two
assert pkg.two.Y == 2
print("patched")
"""


# Checks that PySpark's daemon still has the global the patch replaces and
# still calls gc.collect() in its child loop (where PySpark is importable;
# otherwise the patch goes onto a stand-in module), then runs "tasks" that
# leave cycles behind and checks what each post-task collection scans,
# frees and freezes.
GC_SCRIPT = r"""
import gc, types

from vunnel_spark import worker_daemon

try:
    from pyspark import daemon
except ImportError:
    daemon = types.ModuleType("daemon")
    daemon.gc = gc
    where = "stand-in"
else:
    assert daemon.gc is gc, daemon.gc
    names = daemon.manager.__code__.co_names
    assert "gc" in names and "collect" in names, names
    where = "pyspark"
worker_daemon.patch_daemon_gc(daemon)
assert daemon.gc.get_count is gc.get_count  # the rest of gc is untouched

class Node:
    pass

def task(n):
    # n two-node cycles that only the collector frees, and one survivor
    # kept reachable from the frozen heap
    for _ in range(n):
        a, b = Node(), Node()
        a.peer, b.peer = b, a
    kept.append(Node())

kept = []
gc.disable()  # only the daemon's collections run
daemon.gc.collect()  # the first task's collection freezes the import-time heap
first = gc.get_freeze_count()
assert first > 1000, first
for i in range(12):
    task(500)
    assert len(gc.get_objects()) >= 1000  # the task's cycles, not yet frozen
    freed = daemon.gc.collect()
    assert freed >= 1000, freed  # every cycle the task made is collected
    assert len(gc.get_objects()) < 100  # only what the collection left
    assert gc.get_freeze_count() <= first + 10 * (i + 1)  # survivors only
print(where)
"""


def _interpreters(this_python_prints, python313_prints):
    """This interpreter, and CPython 3.13 when one is on PATH."""
    yield pytest.param(sys.executable, this_python_prints, id="this-python")
    other = shutil.which("python3.13")
    runs = other and subprocess.run([other, "-c", "pass"], capture_output=True).returncode == 0
    yield pytest.param(other, python313_prints, id="python3.13", marks=pytest.mark.skipif(
        not runs, reason="no python3.13 on PATH"))


def _run(python, script, *args):
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run([python, "-c", script, *args], env=env,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


@pytest.mark.parametrize(("python", "expected"), _interpreters(
    "untouched" if sys.version_info >= (3, 13) else "patched", "untouched"))
def test_zip_directory_is_read_once_per_archive_version(python, expected, tmp_path):
    assert _run(python, SCRIPT, str(tmp_path)) == expected


@pytest.mark.parametrize(("python", "expected"), _interpreters("pyspark", None))
def test_daemon_collection_freezes_survivors(python, expected):
    """The daemon's post-task gc.collect() frees each task's cycles and
    freezes what survives, so the next collection scans only new objects.
    Under this interpreter the patch goes onto PySpark's own daemon module,
    so a PySpark that renames its gc global or drops the collect fails here."""
    out = _run(python, GC_SCRIPT)
    assert out == expected if expected else out in ("pyspark", "stand-in")
