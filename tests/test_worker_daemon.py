"""vunnel_spark.worker_daemon's zipimport patch, run in a fresh interpreter
so that this process's zipimport stays as it is.  No Spark."""

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
worker_daemon.install()
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


def _interpreters():
    """This interpreter, and CPython 3.13 when one is on PATH."""
    yield pytest.param(sys.executable, "untouched" if sys.version_info >= (3, 13) else "patched",
                       id="this-python")
    other = shutil.which("python3.13")
    runs = other and subprocess.run([other, "-c", "pass"], capture_output=True).returncode == 0
    yield pytest.param(other, "untouched", id="python3.13", marks=pytest.mark.skipif(
        not runs, reason="no python3.13 on PATH"))


@pytest.mark.parametrize(("python", "expected"), _interpreters())
def test_zip_directory_is_read_once_per_archive_version(python, expected, tmp_path):
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run([python, "-c", SCRIPT, str(tmp_path)], env=env,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == expected
