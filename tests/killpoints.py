"""Kill points for the commit protocol (sources/commit.py).

Every step that changes the disk under a root directory is numbered from
0: each ``os.replace``, ``os.rename``, ``os.remove`` and ``shutil.rmtree``
of a path under the root, and each journal write. A test makes the k-th
step raise ``Killed``, and every later step too: a killed process takes
no further step, so not even a failure cleanup changes the disk after
the kill.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pytest

from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit


class Killed(Exception):
    """The simulated kill."""


@contextlib.contextmanager
def kill_points(root, kill_at: int | None = None, when=None, before=None,
                dies: bool = True):
    """Yield the list of steps taken under ``root``, as (op, path) pairs.

    Step ``kill_at``, or the first step for which ``when(op, path)`` is
    true, raises ``Killed``; so does every later step, unless ``dies`` is
    false (a failed step in a process that lives on). ``before(k)`` runs
    before step k."""
    root = os.path.abspath(str(root))
    steps: list[tuple[str, str]] = []
    killed: list[int] = []

    def step(op, real):
        def run(path, *args, **kwargs):
            full = os.path.abspath(str(path))
            if full == root or full.startswith(root + os.sep):
                k = len(steps)
                steps.append((op, full))
                if before:
                    before(k)
                if (k == kill_at or (when and when(op, full))
                        or (killed and dies)):
                    killed.append(k)
                    raise Killed(f"killed at step {killed[0]}: {op} {full}")
            return real(path, *args, **kwargs)
        return run

    with pytest.MonkeyPatch.context() as mp:
        for mod, name in ((os, "replace"), (os, "rename"), (os, "remove"),
                          (shutil, "rmtree"), (commit, "_write_journal")):
            mp.setattr(mod, name, step(name, getattr(mod, name)))
        yield steps


def tree(root) -> dict[str, bytes | None]:
    """Every path under ``root`` → its bytes (None for a directory)."""
    root = str(root)
    out: dict[str, bytes | None] = {}
    for parent, dirs, files in os.walk(root):
        for d in dirs:
            out[os.path.relpath(os.path.join(parent, d), root)] = None
        for f in files:
            with open(os.path.join(parent, f), "rb") as fh:
                out[os.path.relpath(os.path.join(parent, f), root)] = fh.read()
    return out
