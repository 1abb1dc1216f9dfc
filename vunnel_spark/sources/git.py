"""Fetch-tier git clone/pull helper (SURVEY S7).

The reference's OSV providers (alma, bitnami) start from a git checkout
of an advisory repo (providers/alma/git.py:20-50: `git clone -b branch
src dest`, delete-and-reclone on error); the cluster then reads the
checked-out JSON tree.  Same split here: cloning is driver-side plain
Python into the landing zone, and ``spark.read.json(dest + "/**/*.json")``
takes over — repository history is metadata the data plane never needs,
so clones are shallow by default.

``runner`` is injectable so tests exercise the retry/update logic
without a network (and CI without GitHub).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from collections.abc import Callable

from vunnel_spark.sources.http import backoff_sleep_interval


def _default_runner(args: list[str], cwd: str | None) -> str:
    return subprocess.check_output(  # noqa: S603 — running git by design
        args, text=True, stderr=subprocess.PIPE, cwd=cwd
    )


class GitLanding:
    """Clone-or-update a git repo into the landing zone.

    - fresh path  -> ``git clone -b <branch> [--depth 1] <src> <dest>``
    - existing repo -> fetch + hard reset to ``origin/<branch>`` (the
      incremental pull path the reference lacks — it deletes and
      reclones; reuse is the 100 TB-friendly behavior for large
      advisory repos)
    - anything else at ``dest`` (or a corrupted checkout) -> delete and
      reclone, mirroring the reference's delete_repo + clone_repo
      recovery
    Transient failures retry with exponential backoff like S11.
    """

    def __init__(
        self,
        source: str,
        branch: str,
        dest: str,
        depth: int | None = 1,
        retries: int = 3,
        runner: Callable[[list[str], str | None], str] | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.source = source
        self.branch = branch
        self.dest = dest
        self.depth = depth
        self.retries = retries
        self.runner = runner or _default_runner
        self.sleep = sleep

    # ------------------------------------------------------------- internals

    def _is_repo(self) -> bool:
        if not os.path.isdir(os.path.join(self.dest, ".git")):
            return False
        try:
            out = self.runner(
                ["git", "rev-parse", "--is-inside-work-tree"], self.dest
            )
            return out.strip() == "true"
        except Exception:  # noqa: BLE001 — corrupted checkout -> reclone
            return False

    def _clone(self) -> None:
        args = ["git", "clone", "-b", self.branch]
        if self.depth:
            args += ["--depth", str(self.depth)]
        args += [self.source, self.dest]
        self.runner(args, None)

    def _update(self) -> None:
        fetch = ["git", "fetch", "origin", self.branch]
        if self.depth:
            fetch += ["--depth", str(self.depth)]
        self.runner(fetch, self.dest)
        self.runner(
            ["git", "reset", "--hard", f"origin/{self.branch}"], self.dest
        )

    # -------------------------------------------------------------- surface

    def delete(self) -> None:
        """providers/alma/git.py delete_repo parity."""
        if os.path.exists(self.dest):
            shutil.rmtree(self.dest, ignore_errors=True)

    def clone_or_update(self) -> str:
        """Materialize ``origin/<branch>`` at ``dest``; returns ``dest``.

        Retries transient failures; an update failure falls back to
        delete + fresh clone before counting as an attempt failure.
        """
        last_exc: Exception | None = None
        for attempt in range(self.retries + 1):
            if attempt:
                self.sleep(
                    backoff_sleep_interval(2.0, attempt - 1)
                )
            try:
                if self._is_repo():
                    try:
                        self._update()
                        return self.dest
                    except Exception:  # noqa: BLE001 — fall through to reclone
                        self.delete()
                os.makedirs(os.path.dirname(self.dest) or ".", exist_ok=True)
                if os.path.exists(self.dest):
                    self.delete()
                self._clone()
                return self.dest
            except Exception as e:  # noqa: BLE001
                last_exc = e
        raise last_exc  # type: ignore[misc]

    def head_commit(self) -> str:
        """Commit id of the checkout — goes into run-state metadata so a
        result set is traceable to the exact advisory-repo revision."""
        return self.runner(["git", "rev-parse", "HEAD"], self.dest).strip()
