"""erase_keys (sources/io.py) — key-scoped deletion mechanics.

The s17 probe drives the partitioned happy path against the oracle;
these tests pin the branches the probe can't see: the unpartitioned
fallback, the fully-erased-partition edge (the directory must GO, not
become an unreadable empty parquet dir), recovery from a swap killed
mid-commit (tests/test_commit.py kills it at every step), and the no-op
erase (no matching keys → nothing rewritten, layout byte-identical).
"""

from __future__ import annotations

import os
import shutil

import pytest
from killpoints import Killed, kill_points
from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit
from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import erase_keys

_TMP = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".tmp_probe", "erasure_tests")


def _fresh(spark, name, partitioned):
    path = os.path.join(_TMP, name)
    if os.path.isdir(path):
        shutil.rmtree(path)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") - F.pmod("id", F.lit(50))).alias("bucket"))
    w = df.write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("bucket")
    w.parquet(path)
    return path


def _layout(p):
    out = {}
    for root, _dirs, names in os.walk(p):
        for n in names:
            if n.endswith(".parquet"):
                fp = os.path.join(root, n)
                st = os.stat(fp)
                out[os.path.relpath(fp, p)] = (st.st_size, st.st_mtime_ns)
    return out


def test_unpartitioned_erase(spark):
    path = _fresh(spark, "flat", partitioned=False)
    keys = spark.range(0, 10).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys)
    assert stats == {"rows_erased": 10, "partitions_rewritten": -1}
    rt = spark.read.parquet(path)
    assert rt.count() == 90
    assert rt.filter(F.col("k") < 10).count() == 0


def test_fully_erased_partition_directory_removed(spark):
    path = _fresh(spark, "full", partitioned=True)
    keys = spark.range(0, 50).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys,
                       partition_cols=["bucket"])
    assert stats == {"rows_erased": 50, "partitions_rewritten": 1}
    assert not os.path.isdir(os.path.join(path, "bucket=0"))
    rt = spark.read.parquet(path)
    assert rt.count() == 50 and rt.filter(F.col("k") < 50).count() == 0


def test_noop_erase_touches_nothing(spark):
    path = _fresh(spark, "noop", partitioned=True)
    before = _layout(path)
    keys = spark.range(1000, 1010).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys,
                       partition_cols=["bucket"])
    assert stats == {"rows_erased": 0, "partitions_rewritten": 0}
    assert _layout(path) == before


def _killed_swapping_in(spark, path, part, key, partition_cols):
    """Erase ``key``, killed between the two renames of partition
    ``part``: the live partition set aside, its rewrite still staged."""
    src = os.path.join(commit.staged(path), part)
    keys = spark.createDataFrame([(key,)], "k long")
    with pytest.raises(Killed), kill_points(
            _TMP, when=lambda op, p: p == src):
        erase_keys(spark, path, "k", keys, partition_cols=partition_cols)


def test_crash_recovery_restores_backup(spark):
    path = _fresh(spark, "crash", partitioned=True)
    sub = os.path.join(path, "bucket=0")
    _killed_swapping_in(spark, path, "bucket=0", 0, ["bucket"])
    assert not os.path.isdir(sub) and os.path.isdir(commit.aside(sub))
    # the next call completes the journaled erase before its own
    keys = spark.range(1000, 1001).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys,
                       partition_cols=["bucket"])
    assert stats["rows_erased"] == 0
    assert os.path.isdir(sub) and not os.path.isdir(commit.aside(sub))
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == \
        list(range(1, 100))
    # stale set-aside copy next to a PRESENT target is dropped
    shutil.copytree(sub, commit.aside(sub))
    erase_keys(spark, path, "k", keys, partition_cols=["bucket"])
    assert not os.path.isdir(commit.aside(sub))
    assert spark.read.parquet(path).count() == 99


def test_mid_crash_state_invisible_to_plain_readers(spark):
    """The whole point of the dot-prefixed hidden leaf: a reader that
    opens the table BETWEEN the two renames (set-aside copy present,
    target either absent or already swapped back in), or while a
    partition is staged inside the table, must never parse the hidden
    copy as a partition — no duplicated rows, no partition column
    silently widening to string."""
    path = _fresh(spark, "midcrash", partitioned=True)
    sub = os.path.join(path, "bucket=0")
    # state A: died between renames — aside holds the data, target gone
    os.rename(sub, commit.aside(sub))
    rt = spark.read.parquet(path)
    assert rt.count() == 50                      # pre-state half only
    assert dict(rt.dtypes)["bucket"] in ("int", "bigint")
    # state B: died before cleanup — aside AND target both present
    os.rename(commit.aside(sub), sub)
    shutil.copytree(sub, commit.aside(sub))
    rt = spark.read.parquet(path)
    assert rt.count() == 100                     # no double-count
    assert dict(rt.dtypes)["bucket"] in ("int", "bigint")
    shutil.rmtree(commit.aside(sub))
    # state C: a copy staged inside the table, next to the live one
    shutil.copytree(sub, commit.staged(sub))
    rt = spark.read.parquet(path)
    assert rt.count() == 100
    assert dict(rt.dtypes)["bucket"] in ("int", "bigint")
    shutil.rmtree(commit.staged(sub))


def test_unpartitioned_noop_touches_nothing(spark):
    path = _fresh(spark, "flat_noop", partitioned=False)
    before = _layout(path)
    keys = spark.range(1000, 1010).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys)
    assert stats == {"rows_erased": 0, "partitions_rewritten": -1}
    assert _layout(path) == before


def test_nested_partition_crash_recovery(spark):
    """Multi-column partitioning: a journaled swap at depth 2 is
    completed, and a stale set-aside copy at depth 2 is found and dropped
    by the recovery walk."""
    path = os.path.join(_TMP, "nested")
    if os.path.isdir(path):
        shutil.rmtree(path)
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") - F.pmod("id", F.lit(20))).alias("a"),
        F.pmod("id", F.lit(2)).alias("b"))
    df.write.mode("overwrite").partitionBy("a", "b").parquet(path)
    sub = os.path.join(path, "a=0", "b=1")
    _killed_swapping_in(spark, path, os.path.join("a=0", "b=1"), 1,
                        ["a", "b"])
    keys = spark.range(1000, 1001).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys, partition_cols=["a", "b"])
    assert stats["rows_erased"] == 0
    assert os.path.isdir(sub) and not os.path.isdir(commit.aside(sub))
    assert spark.read.parquet(path).count() == 39
    shutil.copytree(sub, commit.aside(sub))
    erase_keys(spark, path, "k", keys, partition_cols=["a", "b"])
    assert not os.path.isdir(commit.aside(sub))
    assert spark.read.parquet(path).count() == 39


def test_stale_stage_dir_cleared_and_never_read_as_data(spark):
    path = _fresh(spark, "stage", partitioned=True)
    stage = commit.staged(path)
    os.makedirs(os.path.join(stage, "bucket=0"), exist_ok=True)
    # a stale copy staged inside the table, as the ETL's rejects slices
    # stage, duplicating a live partition
    inside = commit.staged(os.path.join(path, "bucket=50"))
    shutil.copytree(os.path.join(path, "bucket=50"), inside)
    keys = spark.range(0, 10).select(F.col("id").alias("k"))
    stats = erase_keys(spark, path, "k", keys, partition_cols=["bucket"])
    assert stats["rows_erased"] == 10
    assert not os.path.isdir(stage) and not os.path.isdir(inside)
    rt = spark.read.parquet(path)
    assert rt.count() == 90
    # partition column stayed numeric: no phantom string partition
    assert dict(rt.dtypes)["bucket"] in ("int", "bigint")


def test_null_partition_value_hive_encoding(spark):
    path = os.path.join(_TMP, "nullpart")
    if os.path.isdir(path):
        shutil.rmtree(path)
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None), (4, None)], ["k", "g"])
    df.write.mode("overwrite").partitionBy("g").parquet(path)
    keys = spark.createDataFrame([(3,)], ["k"])
    stats = erase_keys(spark, path, "k", keys, partition_cols=["g"])
    assert stats == {"rows_erased": 1, "partitions_rewritten": 1}
    rt = spark.read.parquet(path)
    assert sorted(r.k for r in rt.collect()) == [1, 2, 4]


def test_mixed_full_and_partial_partitions_one_call(spark):
    """The single staged-job rewrite (round 5) must handle, in ONE
    call, a partition that is fully erased (its stage subdir never
    materializes -> directory removed) next to one that is partially
    erased (staged subdir swapped in) — and leave untouched
    partitions byte-identical."""
    path = _fresh(spark, "mixed", partitioned=True)
    before = _layout(path)
    # bucket=0 fully erased (k 0..49), bucket=50 loses only k=50
    keys = spark.createDataFrame(
        [(k,) for k in list(range(0, 50)) + [50]], ["k"])
    stats = erase_keys(spark, path, "k", keys, partition_cols=["bucket"])
    assert stats == {"rows_erased": 51, "partitions_rewritten": 2}
    assert not os.path.isdir(os.path.join(path, "bucket=0"))
    rt = spark.read.parquet(path)
    assert sorted(r.k for r in rt.collect()) == list(range(51, 100))
    # no set-aside or staged residue anywhere
    for root, dirs, _files in os.walk(os.path.dirname(path)):
        assert not [d for d in dirs if d.endswith((".__tmp", ".__old"))], (
            root, dirs)
    # nothing but the two affected partitions changed
    untouched_b = {p: s for p, s in before.items()
                   if not p.startswith(("bucket=0/", "bucket=50/"))}
    after = _layout(path)
    untouched_a = {p: s for p, s in after.items()
                   if not p.startswith(("bucket=0/", "bucket=50/"))}
    assert untouched_b == untouched_a
