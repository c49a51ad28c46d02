"""compact_parquet: file count shrinks, rows/values survive exactly,
hive partition layout is preserved, and the rewrite is atomic (no temp
dirs left behind)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit
from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
    compact_parquet,
)


def _parquet_files(path):
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.join(root, n) for n in names
                if n.endswith(".parquet")]
    return out


def test_compacts_small_files_losslessly(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    assert len(_parquet_files(path)) == 40
    before = {(r.id, r.v) for r in spark.read.parquet(path).collect()}

    stats = compact_parquet(spark, path, target_file_mb=128)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1  # 10k rows << 128 MB
    assert len(_parquet_files(path)) == 1
    after = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before
    assert not os.path.exists(commit.staged(path))
    assert not os.path.exists(commit.aside(path))


def test_partitioned_compaction_keeps_layout(spark, tmp_path):
    path = str(tmp_path / "p")
    df = (spark.range(5_000)
          .withColumn("part", (F.col("id") % 3).cast("string")))
    df.repartition(30).write.partitionBy("part").parquet(path)
    assert len(_parquet_files(path)) > 30

    compact_parquet(spark, path, target_file_mb=128,
                    partition_cols=["part"])
    # hive dirs survive -> partition pruning still file-local
    assert sorted(d for d in os.listdir(path) if d.startswith("part="))\
        == ["part=0", "part=1", "part=2"]
    got = spark.read.parquet(path)
    assert got.count() == 5_000
    assert (got.filter(F.col("part") == "1").count()
            == df.filter(F.col("part") == "1").count())
