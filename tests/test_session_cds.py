"""get_spark's class-data sharing, each case in driver processes of its
own, with a temporary HOME so the user's archive cache stays untouched.

The first launch for a JDK and jar set dumps a class-data archive as its
JVM exits; later launches map it.  These tests fail when a JDK or Spark
upgrade changes the launcher's class path or what the JVM prints about
CDS, before a benchmark run would record the failure."""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

# Starts a session, runs one job, prints READY and the driver JVM's pid,
# then holds the session until its stdin closes.
CHILD = r"""
import sys
from pyspark import SparkContext
from vunnel_spark.session import get_spark

get_spark("cds_test", cpus=1).range(1).count()
print("READY", SparkContext._gateway.proc.pid, flush=True)
sys.stdin.read()
"""


def cds_dir(home: Path) -> Path:
    return home / ".cache" / "vunnel_spark" / "cds"


class Driver:
    """A child process in its own session with its driver JVM started."""

    def __init__(self, home: Path, **env: str):
        child_env = {k: v for k, v in os.environ.items()
                     if k not in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                  "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS")}
        child_env.update(HOME=str(home), SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable,
                         PYTHONPATH=os.pathsep.join(filter(None, (str(REPO),
                                                                  os.environ.get("PYTHONPATH")))),
                         **env)
        self.proc = subprocess.Popen([sys.executable, "-c", CHILD], stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                     env=child_env, cwd=REPO, start_new_session=True)
        self.first_line = self.proc.stdout.readline().decode()
        assert self.first_line.startswith("READY "), self.first_line
        self.jvm = int(self.first_line.split()[1])
        with open(f"/proc/{self.jvm}/cmdline", "rb") as f:
            self.cmdline = f.read().decode().split("\0")
        with open(f"/proc/{self.jvm}/maps") as f:
            self.maps = f.read()

    def class_path(self) -> list[str]:
        return self.cmdline[self.cmdline.index("-cp") + 1].split(":")

    def exit(self) -> str:
        """Let the child exit; the rest of its stdout."""
        rest, _ = self.proc.communicate(b"", timeout=180)
        assert self.proc.returncode == 0
        return rest.decode()

    def kill(self) -> None:
        """SIGKILL every process of the child's session, as a benchmark
        harness does when a run ends, and wait until the JVM is gone."""
        os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        stop = time.monotonic() + 30
        while time.monotonic() < stop:
            try:
                with open(f"/proc/{self.jvm}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except FileNotFoundError:
                break
            time.sleep(0.05)


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    """An archive the first driver process in a fresh HOME dumped."""
    home = tmp_path_factory.mktemp("home")
    d = Driver(home)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in d.cmdline)
    assert d.exit() == ""
    names = os.listdir(cds_dir(home))
    jsa = [n for n in names if n.endswith(".jsa")]
    assert sorted(names) == sorted(jsa + ["conf"]), names  # no temp file left
    assert len(jsa) == 1
    path = cds_dir(home) / jsa[0]
    assert path.stat().st_size == int(path.stem.rsplit("-", 1)[1])
    yield path
    shutil.rmtree(home)  # 140 MB


def test_second_process_maps_the_archive(archive):
    home = archive.parents[3]
    d = Driver(home)
    assert d.class_path()[0].rstrip("/") == str(cds_dir(home) / "conf")
    assert str(archive) in d.maps
    assert d.exit() == ""
    assert sorted(os.listdir(cds_dir(home))) == sorted([archive.name, "conf"])


def test_stale_archive_falls_back_silently(archive, tmp_path):
    """An archive dumped with another class path (here: another HOME's
    conf dir) is refused by the JVM, which says nothing on stdout."""
    cds_dir(tmp_path).mkdir(parents=True)
    stale = cds_dir(tmp_path) / archive.name
    stale.symlink_to(archive)
    d = Driver(tmp_path)
    assert f"-XX:SharedArchiveFile={stale}" in d.cmdline
    assert str(stale) not in d.maps
    assert d.exit() == ""


def test_truncated_archive_is_not_passed(archive, tmp_path):
    """JDK 17 crashes on an archive cut short, so a file whose size is not
    the one its name records is never handed to the JVM."""
    cds_dir(tmp_path).mkdir(parents=True)
    with open(archive, "rb") as src, open(cds_dir(tmp_path) / archive.name, "wb") as dst:
        dst.write(src.read(1 << 20))
    d = Driver(tmp_path)
    try:
        assert not any("SharedArchiveFile" in a for a in d.cmdline)
        assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in d.cmdline)
    finally:
        d.kill()


def test_conf_file_turns_sharing_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    (conf / "log4j2.properties.template").write_text("")
    d = Driver(tmp_path, SPARK_CONF_DIR=str(conf))
    assert d.class_path()[0].rstrip("/") == str(conf)
    assert not any("Archive" in a for a in d.cmdline)
    assert d.exit() == ""
    assert not cds_dir(tmp_path).exists()


def test_killed_dump_leaves_no_archive(tmp_path, monkeypatch):
    """A session killed while its JVM dumps leaves only a temp file, and
    the next launch removes it."""
    d = Driver(tmp_path)
    d.proc.stdin.close()  # the child exits; its JVM starts dumping
    stop = time.monotonic() + 120
    tmp = []
    while not tmp and time.monotonic() < stop:
        tmp = [p for p in glob.glob(str(cds_dir(tmp_path) / "*.tmp"))
               if os.path.getsize(p) > 1 << 20]
        time.sleep(0.02)
    assert tmp, "the JVM did not start its dump"
    d.kill()
    assert not glob.glob(str(cds_dir(tmp_path) / "*.jsa"))

    from pyspark import SparkContext

    from vunnel_spark import session

    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    launch = session._cds_launch()
    assert launch is not None and launch[2] is not None
    assert sorted(os.listdir(cds_dir(tmp_path))) == ["conf"]
