"""ETL job budget: with an output directory, run_pipeline materializes
each table once, counts rows by an Observation on that write, and reads
headers in Python, so a full and an incremental load of the messy Airbnb
fixtures stay within a pinned number of Spark jobs and never call
DataFrame.count()."""

from __future__ import annotations

import csv
import gzip
import os

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from airbnb_fixtures import (
    CALENDAR_COLS,
    CALENDAR_ROWS,
    LISTINGS_COLS,
    LISTINGS_ROWS,
    REVIEWS_COLS,
    REVIEWS_ROWS,
)
from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import run_pipeline

# measured on local[4] with 4 shuffle partitions (conftest's session)
FULL_LOAD_JOBS = 21
INCREMENTAL_LOAD_JOBS = 34


def _batch(dirpath, stamp, listings, calendar, reviews):
    os.makedirs(dirpath)
    for kind, cols, rows in (("listings", LISTINGS_COLS, listings),
                             ("calendar", CALENDAR_COLS, calendar),
                             ("reviews", REVIEWS_COLS, reviews)):
        name = f"France_Paris_{kind}_{stamp}.csv.gz"
        with gzip.open(os.path.join(dirpath, name), "wt", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows(rows)
    return str(dirpath)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_etl_job_budget_without_count(spark, tmp_path, monkeypatch):
    day1 = _batch(tmp_path / "day1", "2025-06-01", LISTINGS_ROWS,
                  CALENDAR_ROWS, REVIEWS_ROWS)
    day2 = _batch(
        tmp_path / "day2", "2025-06-08",
        LISTINGS_ROWS[:2] + [("104", "11", "Dana", "Nice, France", "Port",
                              "43.70", "7.26", "$60.00", "1", "4.2", "1")],
        [("104", "2025-06-16", "t", "$60.00"),
         ("101", "2025-06-17", "f", "$75.00")],
        [("104", "7", "2025-06-16", "507", "Rev G", "Lovely flat"),
         ("101", "1", "2025-06-09", "501", "Rev A", "Great place to stay")])
    out = str(tmp_path / "wh")

    def no_count(self):
        raise AssertionError("run_pipeline called DataFrame.count()")

    monkeypatch.setattr(ClassicDataFrame, "count", no_count)
    full = _jobs(spark, "etl-budget-full",
                 lambda: run_pipeline(spark, day1, out))
    incremental = _jobs(spark, "etl-budget-incremental",
                        lambda: run_pipeline(spark, day2, out,
                                             incremental=True))
    assert full <= FULL_LOAD_JOBS
    assert incremental <= INCREMENTAL_LOAD_JOBS
