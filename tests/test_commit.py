"""Kill-point harness for the commit protocol (sources/commit.py).

Every step that changes the disk is numbered (tests/killpoints.py). After
a kill at any step k, a plain reader sees no staged or set-aside copy,
and ``recover`` leaves each batch's scope exactly as the uninterrupted
run left it, if the kill came after the batch's journal was written, or
exactly as it was before the run (so a retry is the uninterrupted run).

On plain directories each k is run for real: the k-th step raises and
every later one does too, as in a killed process, and then recovery is
itself killed at every step. That run pins that a kill leaves the tree
exactly as it was before the step. So each caller — the ETL load,
compaction, key erasure and the upsert sink — runs once, the tree is
copied before every step, and each copy is the state a kill at that step
leaves: Spark reads its live tables, and ``recover`` runs on it.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from killpoints import Killed, kill_points, tree
from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit

# -- the protocol on plain directories ------------------------------------


def _put(path, text):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "f"), "w") as f:
        f.write(text)


def _initial(root):
    for rel, text in (("s/a", "a0"), ("s/c", "c0"), ("s/t/x=1", "t1"),
                      ("s/t/x=2", "t2"), ("s/t/y", "ty"), ("w", "w0"),
                      ("z", "z0")):
        _put(os.path.join(root, rel), text)


def _run(root):
    """Three batches: entries under a scope (replace, add, remove, a
    partitioned stage with a replaced, a removed and a new partition, and
    one staged under a directory staging creates); a whole scope
    replaced; a whole scope removed."""
    with commit.Batch(os.path.join(root, "s")) as b:
        _put(b.stage("a"), "a1")
        _put(b.stage("b"), "b1")
        b.stage("c")
        t = b.stage("t", parts=["x=1", "x=2", "x=3"])
        _put(os.path.join(t, "x=1"), "t1'")
        _put(os.path.join(t, "x=3"), "t3")
        _put(b.stage("new/d"), "d1")
    with commit.Batch(os.path.join(root, "w")) as b:
        _put(b.stage(), "w1")
    with commit.Batch(os.path.join(root, "z")) as b:
        b.stage()


def _visible(t):
    return {p: v for p, v in t.items()
            if not any(seg.startswith(".") for seg in p.split(os.sep))}


def _scope(t, scope):
    return {p: v for p, v in t.items()
            if p == scope or p.startswith(scope + os.sep)}


def _recovered(init, final, steps, k, scopes):
    """The tree once every scope is recovered after a kill at step ``k``
    of ``steps`` (paths relative to the root): the final one for each
    batch whose journal was in place by then, else the initial one."""
    want = {}
    for scope in scopes:
        # the step renaming the journal's temp file into place
        done = ("replace", os.path.basename(commit.journal(scope))
                + ".tmp") in steps[:k]
        want.update(_scope(final if done else init, scope))
    return want


def _killed_tree(root, final):
    """``tree(root)`` without the empty directories that staging made and
    a kill left: only a batch that lives on can remove them, and its
    retry fills them."""
    got = tree(root)
    return {p: v for p, v in got.items()
            if not (v is None and p in final
                    and not any(q.startswith(p + os.sep) for q in got))}


@pytest.fixture(scope="module")
def protocol(tmp_path_factory):
    """The initial tree, the final tree, and the tree before each step."""
    base = tmp_path_factory.mktemp("protocol")
    _initial(base / "init")
    shutil.copytree(base / "init", base / "run")
    before: list[dict] = []
    with kill_points(base / "run", before=lambda k: before.append(
            tree(base / "run"))) as steps:
        _run(base / "run")
    return (tree(base / "init"), tree(base / "run"), before,
            [(op, os.path.relpath(p, base / "run")) for op, p in steps])


def test_protocol_commits_every_entry_kind(protocol):
    init, final, before, _steps = protocol
    assert _visible(init) == init
    assert final == {
        "s": None, "s/a": None, "s/a/f": b"a1", "s/b": None,
        "s/b/f": b"b1", "s/t": None, "s/t/x=1": None, "s/t/x=1/f": b"t1'",
        "s/t/x=3": None, "s/t/x=3/f": b"t3", "s/t/y": None,
        "s/t/y/f": b"ty", "s/new": None, "s/new/d": None,
        "s/new/d/f": b"d1", "w": None, "w/f": b"w1"}
    assert len(before) > 20


def test_kill_at_every_step_then_recover(protocol, tmp_path):
    """A kill at step k leaves the tree as it was before step k, in which
    every visible path holds its old or its new content; recovery, itself
    killed at every step and then run again, leaves each scope old or
    new."""
    init, final, before, steps = protocol
    for k, at_kill in enumerate(before):
        killed = tmp_path / f"k{k}"
        _initial(killed)
        with pytest.raises(Killed), kill_points(killed, kill_at=k):
            _run(killed)
        assert tree(killed) == at_kill, k
        for path, content in _visible(at_kill).items():
            assert content in (init.get(path), final.get(path)), (k, path)
        want = _recovered(init, final, steps, k, ("s", "w", "z"))
        shutil.copytree(killed, tmp_path / "count")
        with kill_points(tmp_path / "count") as recovery:
            for scope in ("s", "w", "z"):
                commit.recover(tmp_path / "count" / scope)
        assert _killed_tree(tmp_path / "count", final) == want, k
        shutil.rmtree(tmp_path / "count")
        for j in range(len(recovery)):
            again = tmp_path / f"k{k}j{j}"
            shutil.copytree(killed, again)
            with pytest.raises(Killed), kill_points(again, kill_at=j):
                for scope in ("s", "w", "z"):
                    commit.recover(again / scope)
            for scope in ("s", "w", "z"):
                commit.recover(again / scope)
            assert _killed_tree(again, final) == want, (k, j)
            shutil.rmtree(again)


def test_failed_step_leaves_each_scope_old_or_new(protocol, tmp_path):
    """A step that fails in a process that lives on: a batch whose journal
    is not yet written removes what it staged and the directories staging
    made, so its scope is as it was; once the journal is written,
    recovery completes the batch."""
    init, final, before, steps = protocol
    for k in range(len(before)):
        failed = tmp_path / f"k{k}"
        _initial(failed)
        with pytest.raises(Killed), kill_points(failed, kill_at=k,
                                                dies=False):
            _run(failed)
        for scope in ("s", "w", "z"):
            commit.recover(failed / scope)
        assert tree(failed) == _recovered(init, final, steps, k,
                                          ("s", "w", "z")), k


def test_body_failure_leaves_the_tree_as_before(tmp_path):
    _initial(tmp_path)
    want = tree(tmp_path)
    with pytest.raises(ValueError):
        with commit.Batch(tmp_path / "s") as b:
            _put(b.stage("a"), "a1")
            _put(b.stage("new/deeper/d"), "d1")
            raise ValueError("the load failed")
    assert tree(tmp_path) == want


# -- the four callers -------------------------------------------------------


def _rows(spark, path):
    df = spark.read.parquet(str(path))
    return Counter(map(tuple, df.collect())), df.dtypes


def _kill_each_step(spark, tmp_path, run, tables):
    """Run ``run(root)`` once on the tree under ``tmp_path / 'root'``,
    copying the tree before every step. In each copy a plain read of
    every live table in ``tables`` (paths relative to the root) sees what
    a copy without hidden paths would, and recovering each table's scope
    leaves it as before the run or as after it."""
    root = tmp_path / "root"
    copies: list = []

    def copy(k):
        copies.append(tmp_path / f"k{k}")
        shutil.copytree(root, copies[-1])

    init = tree(root)
    with kill_points(root, before=copy) as steps:
        run(root)
    assert steps, "the caller took no commit step"
    final = tree(root)
    steps = [(op, os.path.relpath(p, root)) for op, p in steps]
    scopes = {t.split("/")[0] for t in tables}
    reads: dict = {}
    for k, killed in enumerate(copies):
        for table in tables:
            live = killed / table
            if not live.exists():
                continue
            files = tree(live)
            key = tuple(sorted(files.items()))
            if key not in reads:
                reads[key] = (_rows(spark, live),) * 2
                if _visible(files) != files:
                    plain = tmp_path / "plain"
                    shutil.copytree(live, plain,
                                    ignore=shutil.ignore_patterns(".*"))
                    reads[key] = (reads[key][0], _rows(spark, plain))
                    shutil.rmtree(plain)
            got, visible = reads[key]
            assert got == visible, (killed, table)
        for scope in scopes:
            commit.recover(killed / scope)
        assert _killed_tree(killed, final) == _recovered(
            init, final, steps, k, scopes), k
    return len(steps)


def test_etl_load_killed_at_every_step(spark, tmp_path):
    from test_etl_robustness import LISTING_COLS, REVIEW_COLS, _day1, _wgz

    from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
        CORE_TABLES,
        run_pipeline,
    )
    run_pipeline(spark, str(_day1(tmp_path)), str(tmp_path / "root" / "wh"))
    day2 = tmp_path / "day2"
    day2.mkdir()
    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
        ["bad-id", 9003, "Eve", "", "", "", "", "", "", "", ""],
    ])
    _wgz(day2, "France_Paris_reviews_2025-06-08.csv.gz", REVIEW_COLS, [
        [102, 9, "2025-06-09", 79, "Ly", "fine"],
    ])
    n = _kill_each_step(
        spark, tmp_path,
        lambda root: run_pipeline(spark, str(day2), str(root / "wh"),
                                  incremental=True),
        [f"wh/{t}" for t in (*CORE_TABLES, "rejects_listings")])
    # journal write and its rename, two renames per replaced table and
    # one for the new rejects slice, the set-aside copies, the journal
    assert n == 2 + 2 * 6 + 1 + 6 + 1


def test_compaction_killed_at_every_step(spark, tmp_path):
    from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
        compact_parquet,
    )
    spark.range(100).repartition(10).write.parquet(
        str(tmp_path / "root" / "t"))
    _kill_each_step(spark, tmp_path,
                    lambda root: compact_parquet(spark, str(root / "t")),
                    ["t"])


def test_erasure_killed_at_every_step(spark, tmp_path):
    """Partitioned (one partition fully erased, one in part, nested
    partition columns) and whole-table erasure."""
    from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
        erase_keys,
    )
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") - F.pmod("id", F.lit(20))).alias("a"),
        F.pmod("id", F.lit(2)).alias("b"))
    df.write.partitionBy("a", "b").parquet(str(tmp_path / "root" / "p"))
    df.write.parquet(str(tmp_path / "root" / "u"))
    keys = spark.createDataFrame(
        [(k,) for k in range(1, 20, 2)] + [(20,)], "k long")

    def erase(root):
        assert erase_keys(spark, str(root / "p"), "k", keys,
                          partition_cols=["a", "b"]) == {
            "rows_erased": 11, "partitions_rewritten": 2}
        assert erase_keys(spark, str(root / "u"), "k", keys) == {
            "rows_erased": 11, "partitions_rewritten": -1}

    _kill_each_step(spark, tmp_path, erase, ["p", "u"])


def test_upsert_sink_killed_at_every_step(spark, tmp_path):
    from sql_etl_data_warehouse_inside_airbnb_spark.streaming.sinks import (
        upsert_batch_to_parquet,
    )
    target = tmp_path / "root" / "target"
    upsert_batch_to_parquet(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"), str(target), "k")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    _kill_each_step(
        spark, tmp_path,
        lambda root: upsert_batch_to_parquet(b2, str(root / "target"), "k"),
        ["target"])
