"""Regression pins for the round-4 self-review findings over
sources/, streaming/, and functions/ — crash-safe sink/compaction
swaps, NaT-proof stateful timeouts, TRY_CONVERT type parity, and
floor-exact nano normalization."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from killpoints import Killed, kill_points
from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit
from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
    compact_parquet,
    normalize_event_time,
)
from sql_etl_data_warehouse_inside_airbnb_spark.streaming.sinks import (
    upsert_batch_to_parquet,
)


def test_upsert_sink_recovers_mid_swap_crash(spark, tmp_path):
    # batch 1 merges; batch 2 is killed between the two renames (target
    # set aside, merged copy not yet in place); the retried batch must
    # NOT lose batch 1
    target = str(tmp_path / "upsert_target")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    upsert_batch_to_parquet(b1, target, "k")
    with pytest.raises(Killed), kill_points(
            tmp_path, when=lambda op, p: p == commit.staged(target)):
        upsert_batch_to_parquet(b2, target, "k")
    assert not os.path.isdir(target)             # crash window state
    upsert_batch_to_parquet(b2, target, "k")
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.isdir(commit.aside(target))


def test_compact_recovers_from_interrupted_swap(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(i,) for i in range(100)], "x int") \
        .repartition(10).write.parquet(path)
    # a compaction killed between its two renames: the live table is set
    # aside and the compacted copy not yet in place
    with pytest.raises(Killed), kill_points(
            tmp_path, when=lambda op, p: p == commit.staged(path)):
        compact_parquet(spark, path, target_file_mb=128)
    assert not os.path.isdir(path)
    stats = compact_parquet(spark, path, target_file_mb=128)
    assert stats["files_after"] <= stats["files_before"]
    assert spark.read.parquet(path).count() == 100
    assert not os.path.isdir(commit.aside(path))


def test_compact_partitioned_splits_hot_partition(spark, tmp_path):
    # one hot partition value far above target_file_mb must come back
    # as MULTIPLE files, not one giant file per hive value
    path = str(tmp_path / "hot")
    df = spark.range(400_000).select(
        F.lit("hot").alias("p"),
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"))
    df = df.unionByName(
        spark.range(10).select(F.lit("cold").alias("p"), F.col("id"),
                               F.lit("x").alias("pad")))
    df.repartition(8).write.partitionBy("p").parquet(path)

    compact_parquet(spark, path, target_file_mb=1, partition_cols=["p"])
    hot_files = glob.glob(os.path.join(path, "p=hot", "*.parquet"))
    assert len(hot_files) > 1           # sized by bytes, not 1/value
    assert max(os.path.getsize(f) for f in hot_files) < 8 << 20
    out = spark.read.parquet(path)
    assert out.count() == 400_010
    assert out.filter("p = 'cold'").count() == 10


def test_try_convert_datetime2(spark):
    from sql_etl_data_warehouse_inside_airbnb_spark.functions.tsql import (
        tsql_to_spark_sql,
    )
    got = tsql_to_spark_sql("SELECT TRY_CONVERT(DATETIME2, c) FROM t")
    assert "TIMESTAMP" in got and "DATETIME2" not in got
    assert "STRING" in tsql_to_spark_sql(
        "SELECT TRY_CONVERT(CHAR(4), c) FROM t")
    # and it actually executes
    spark.createDataFrame([("2024-01-02 03:04:05",)], "c string") \
        .createOrReplaceTempView("t")
    row = spark.sql(got).collect()[0]
    assert row[0] == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_normalize_event_time_pre_epoch_floor(spark):
    # -1500 ns is 1969-12-31T23:59:59.9999985 -> floor to -2 us;
    # truncating div would give -1 us (one microsecond late)
    df = spark.createDataFrame([(-1500,), (1500,), (999,)], "ts long")
    got = sorted(r.us for r in normalize_event_time(df)
                 .select(F.unix_micros("ts").alias("us")).collect())
    assert got == [-2, 0, 1]


def test_stateful_null_ts_new_key_survives_watermark(spark, tmp_path):
    """A new key arriving with ONLY NULL event times after the
    watermark has advanced must not kill the query with an
    epoch-era timeout timestamp."""
    from sql_etl_data_warehouse_inside_airbnb_spark.streaming.stateful \
        import user_running_totals
    from sql_etl_data_warehouse_inside_airbnb_spark.streaming.windows \
        import with_watermark

    schema = "user_id int, ts timestamp, value double"
    b1 = [(1, dt.datetime(2024, 6, 1, 12, 0), 1.0)]   # advances wm
    b2 = [(2, None, 5.0)]                              # NaT batch
    src = str(tmp_path / "nat_src")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        stage = str(tmp_path / f"nat_stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(src, f"{i}.parquet")
        shutil.copyfile(part, dest)
        os.utime(dest, (1_000_000_000 + i * 100,) * 2)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (user_running_totals(with_watermark(stream, delay="10 minutes"))
         .writeStream.format("memory").queryName("nat_totals")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "nat_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(180)
    got = {r.user_id: r.n_events for r in spark.sql(
        "SELECT * FROM nat_totals WHERE NOT closed").collect()}
    assert got == {1: 1, 2: 1}


def test_run_stream_to_memory_append_mode(spark, tmp_path):
    from sql_etl_data_warehouse_inside_airbnb_spark.streaming.windows \
        import dedup_stream, run_stream_to_memory

    schema = "event_id int, ts timestamp, value double"
    rows = [(1, dt.datetime(2024, 1, 1, 10), 1.0),
            (1, dt.datetime(2024, 1, 1, 10, 5), 1.0),  # dup within delay
            (2, dt.datetime(2024, 1, 1, 11), 2.0)]
    src = str(tmp_path / "dd_src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    # non-aggregating plan: complete mode would AnalysisException
    run_stream_to_memory(dedup_stream(stream), "dd_append",
                         output_mode="append")
    assert spark.sql("SELECT count(*) c FROM dd_append").collect()[0].c == 2
