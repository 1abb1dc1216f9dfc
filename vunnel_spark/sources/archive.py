"""Archive landing tier (SURVEY S8/S9): safe extraction + distributed
member scan.

The reference extracts provider tarballs to the workspace with a
path-traversal guard (utils/archive.py:11-57, ubuntu/parser.py:190-200).
Two re-expressions here:

``safe_extract``
    Driver/fetch-tier utility: extract a tar (gz/bz2/xz transparent) to a
    destination, REFUSING any member that would escape it (absolute
    paths, ``..`` traversal, symlink/hardlink targets outside the tree).
    Own implementation over the stdlib tarfile filter hook.

``read_tar_members``
    The data-plane form: scan archives into (archive, member, content)
    rows WITHOUT touching local disk — binaryFile scan + per-partition
    demux, so a directory of thousands of provider tarballs explodes
    across the cluster instead of serializing through one extraction
    loop.  Member-name traversal filtering applies the same guard.
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession

from vunnel_spark.row_stage import row_stage


def _is_within(base: str, target: str) -> bool:
    base = os.path.abspath(base)
    target = os.path.normpath(os.path.join(base, target))
    return os.path.commonpath([base, target]) == base if target else False


def _traversal_filter(member: tarfile.TarInfo, dest: str):
    """Drop members that would write or link outside ``dest``."""
    name = member.name
    if name.startswith(("/", "\\")) or not _is_within(dest, name):
        return None
    if member.issym() or member.islnk():
        link_base = os.path.dirname(os.path.join(dest, name))
        target = (
            member.linkname
            if not member.issym()
            else os.path.join(os.path.dirname(name), member.linkname)
        )
        if os.path.isabs(member.linkname) or not _is_within(dest, target):
            return None
        _ = link_base
    return member


def safe_extract(archive_path: str, dest_dir: str) -> list[str]:
    """Extract ``archive_path`` under ``dest_dir``; returns extracted names.

    Any member that would escape the destination (traversal, absolute
    path, out-of-tree link target) is silently dropped, matching the
    reference's filter-not-fail behavior (archive.py:46-57).
    """
    import shutil

    if os.path.exists(dest_dir):
        shutil.rmtree(dest_dir)
    os.makedirs(dest_dir, exist_ok=True)
    kept: list[str] = []

    def _filter(member: tarfile.TarInfo, path: str):
        out = _traversal_filter(member, dest_dir)
        if out is not None:
            kept.append(out.name)
        return out

    with tarfile.open(archive_path, mode="r:*") as tar:
        tar.extractall(dest_dir, filter=_filter)
    return kept


MEMBER_SCHEMA = "archive string, member string, n_bytes long, content binary"


def read_tar_members(
    spark: SparkSession, path_glob: str, suffix: str | None = None
) -> DataFrame:
    """Scan tar archives into (archive, member, n_bytes, content) rows.

    binaryFile source -> Arrow row-stage demux: each executor opens its
    own archives from the row's bytes (BytesIO — nothing hits local
    disk), emits one row per regular-file member, and applies the same
    traversal guard so hostile member names never propagate downstream
    as relative paths.  ``suffix`` prunes members early (e.g. ``.json``)
    so downstream parsing scans less.
    """

    def demux(path, content):
        with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tar:
            for member in tar:
                if not member.isfile():
                    continue
                if _traversal_filter(member, "/sandbox") is None:
                    continue
                if suffix and not member.name.endswith(suffix):
                    continue
                data = tar.extractfile(member).read()
                yield (path, member.name, len(data), data)

    df = spark.read.format("binaryFile").load(path_glob)
    return row_stage(
        df.select("path", "content"), MEMBER_SCHEMA, ("path", "content"), demux
    )
