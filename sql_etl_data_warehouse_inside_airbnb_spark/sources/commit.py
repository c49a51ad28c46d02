"""One commit protocol for every write that replaces live Parquet paths in
place: the ETL load (plans/etl.py), compaction and key erasure
(sources/io.py) and the streaming upsert sink (streaming/sinks.py).

Plain Parquet on a filesystem has no transactions. The reference gets its
all-or-nothing loads from SQL Server, where the MERGE, the id-map append and
the staging TRUNCATE run as one T-SQL transaction
(modules/data_loader.py:242-323). Here a batch of directory renames stands
in for it. A batch has a *scope*, the directory it owns (a warehouse or one
table), and *entries*: live paths at or under the scope, each replaced by a
staged copy or removed.

Naming: every path the protocol makes is a hidden sibling of the path it
belongs to. ``.<leaf>.__tmp`` is a staged copy of ``<leaf>``,
``.<leaf>.__old`` its live copy set aside during the swap, and
``.<leaf>.__commit`` the journal of a batch scoped to ``<leaf>``. Spark's
file index skips names that start with ``.``, so a plain read of a live
table never sees a staged or set-aside copy, not even one inside it (a
partition's ``.p=7.__tmp``).

Invariants:

- The journal is written atomically (temp file, fsync, rename), and only
  once every staged copy it names is complete. While it exists, rolling the
  batch forward is always right.
- Rolling forward is idempotent: each step looks at the disk before it
  acts, so running it again completes a run killed at any step.
- With no journal, the live paths are the tables and every hidden copy
  under the scope is garbage.

``recover`` applies these, and a commit is the journal write followed by
``recover``, so committing and recovering are one code path. Every entry
point opens its ``Batch`` before it reads the scope, which recovers first.
"""

from __future__ import annotations

import json
import os
import shutil

_STAGED, _ASIDE = ".__tmp", ".__old"


def _sibling(path: str, tag: str) -> str:
    parent, leaf = os.path.split(os.path.abspath(path))
    return os.path.join(parent, "." + leaf + tag)


def staged(path: str) -> str:
    return _sibling(path, _STAGED)


def aside(path: str) -> str:
    return _sibling(path, _ASIDE)


def journal(scope: str) -> str:
    return _sibling(scope, ".__commit")


def pending(scope: str) -> str | None:
    """The journal of a batch on ``scope`` that has not finished rolling
    forward, or None."""
    path = journal(scope)
    return path if os.path.exists(path) else None


def _write_journal(path: str, entries: list[list[str | None]]) -> None:
    # a torn journal would roll forward only a prefix of the batch
    with open(path + ".tmp", "w") as f:
        json.dump(entries, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(path + ".tmp", path)


def _sweep(scope: str) -> None:
    """Drop every hidden copy of the scope and under it, and a journal
    temp file a kill left behind."""
    doomed = [p for p in (staged(scope), aside(scope)) if os.path.isdir(p)]
    for root, dirs, _files in os.walk(scope):
        doomed += [os.path.join(root, d) for d in dirs
                   if d.startswith(".") and d.endswith((_STAGED, _ASIDE))]
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
    if os.path.exists(journal(scope) + ".tmp"):
        os.remove(journal(scope) + ".tmp")
    for path in doomed:
        shutil.rmtree(path)


def recover(scope: str) -> None:
    """Roll a pending journal on ``scope`` forward, then drop every hidden
    copy, then the journal.

    The journal lists ``[live, staged]`` pairs relative to its directory;
    a null staged copy removes the live path. Every entry's renames run
    before any copy is dropped, so the scope is mixed only while
    renames run."""
    path = pending(scope)
    if path:
        base = os.path.dirname(path)
        with open(path) as f:
            entries = json.load(f)
        for live, src in entries:
            live = os.path.join(base, live)
            src = src and os.path.join(base, src)
            if src is None or os.path.exists(src):
                if os.path.exists(live):
                    os.replace(live, aside(live))
                if src:
                    os.replace(src, live)
    _sweep(scope)
    if path:
        os.remove(path)


class Batch:
    """All-or-nothing replacement of paths under ``scope``, as a ``with``
    block: entering recovers the scope, ``stage`` names where each new
    copy is written, and a body that returns commits every staged entry
    together. A body that raises removes its staged copies and the
    directories staging created, so the scope is left as it was."""

    def __init__(self, scope: str) -> None:
        self.scope = os.path.abspath(scope)
        self._entries: list[tuple[str, str]] = []
        self._made: list[str] = []

    def __enter__(self) -> Batch:
        recover(self.scope)
        return self

    def stage(self, rel: str = "", parts: list[str] | None = None) -> str:
        """Where to write the new copy of the live path ``rel`` under the
        scope (the scope itself by default); it replaces the live path at
        commit, or removes it if nothing was written there.

        With ``parts`` the staged copy is a partitioned write of which only
        those partition subpaths swap in, each one on its own."""
        live = os.path.join(self.scope, rel) if rel else self.scope
        path = staged(live)
        missing, d = [], os.path.dirname(path)
        while not os.path.isdir(d):
            missing.append(d)
            d = os.path.dirname(d)
        self._made += reversed(missing)
        self._entries += ([(live, path)] if parts is None else
                          [(os.path.join(live, p), os.path.join(path, p))
                           for p in parts])
        return path

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._abort()
        elif self._entries:
            base = os.path.dirname(journal(self.scope))
            try:
                _write_journal(journal(self.scope), [
                    [os.path.relpath(live, base),
                     os.path.relpath(src, base) if os.path.exists(src)
                     else None]
                    for live, src in self._entries])
            except BaseException:
                self._abort()
                raise
            recover(self.scope)

    def _abort(self) -> None:
        _sweep(self.scope)
        for d in reversed(self._made):
            if os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
