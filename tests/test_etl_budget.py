"""ETL job budget and staging order: with an output directory,
run_pipeline materializes each table once, counts rows by an Observation
on that write, and reads headers in Python, so a full and an incremental
load of the messy Airbnb fixtures stay within a pinned number of Spark
jobs and never call DataFrame.count(). Each table's write is submitted
as soon as the tables it reads are written, so independent tables write
concurrently. A full load is the reload onto an empty warehouse, which
the optimizer folds out of every plan."""

from __future__ import annotations

import csv
import gzip
import os
import threading

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from airbnb_fixtures import (
    CALENDAR_COLS,
    CALENDAR_ROWS,
    LISTINGS_COLS,
    LISTINGS_ROWS,
    REVIEWS_COLS,
    REVIEWS_ROWS,
)
from sql_etl_data_warehouse_inside_airbnb_spark.plans import etl
from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import run_pipeline

# measured on local[4] with 4 shuffle partitions (conftest's session)
FULL_LOAD_JOBS = 21
INCREMENTAL_LOAD_JOBS = 32


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
    """Run ``fn`` in job group ``group`` and return the group's job count.

    Marker jobs in their own groups bracket the call, and every job id
    between them must belong to ``group``: a worker thread that lost the
    caller's group would otherwise drop its jobs from the count."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(g, f):
        sc.setLocalProperty("spark.jobGroup.id", g)
        try:
            f()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(tracker.getJobIdsForGroup(g))

    def marker(tag):
        (job,) = in_group(f"{group}:{tag}",
                          lambda: sc.parallelize([0], 1).collect())
        return job

    first = marker("before")
    jobs = in_group(group, fn)
    last = marker("after")
    assert jobs == list(range(first + 1, last)), (
        "jobs outside the load's group: "
        f"{sorted(set(range(first + 1, last)) - set(jobs))}")
    return len(jobs)


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


def test_independent_tables_stage_concurrently(spark, tmp_path, monkeypatch):
    """dim_listings and dim_dates read nothing the other writes, so each
    write waits at a two-party barrier for the other to be in flight (a
    serial staging order breaks the barrier); every table's write starts
    only after the writes of the tables it reads have returned."""
    src = _batch(tmp_path / "day1", "2025-06-01", LISTINGS_ROWS,
                 CALENDAR_ROWS, REVIEWS_ROWS)
    barrier = threading.Barrier(2, timeout=60)
    lock = threading.Lock()
    log: list[tuple[str, str]] = []
    write = etl._write_counted

    def logged(df, path, partition_col=None):
        name = os.path.basename(path)
        with lock:
            log.append(("start", name))
        if name in (".dim_listings.__tmp", ".dim_dates.__tmp"):
            barrier.wait()
        try:
            return write(df, path, partition_col)
        finally:
            with lock:
                log.append(("end", name))

    monkeypatch.setattr(etl, "_write_counted", logged)
    stats = run_pipeline(spark, src, str(tmp_path / "wh")).stats
    assert set(stats) == {*etl.CORE_TABLES, "rejects_listings"}
    for table, inputs in (("dim_hosts", ["dim_listings"]),
                          ("fact_calendar", ["dim_listings"]),
                          ("fact_reviews", ["dim_listings", "dim_dates"])):
        for dep in inputs:
            assert (log.index(("end", f".{dep}.__tmp"))
                    < log.index(("start", f".{table}.__tmp"))), (
                table, dep, log)


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def test_full_load_folds_the_empty_prior(spark, tmp_path, monkeypatch):
    """A full load is the reload onto an empty warehouse, and the optimizer
    folds that warehouse away: no staged write's optimized plan keeps a
    Join or Union with an empty LocalRelation leg, and every plan reads
    only files, never an in-memory frame."""
    src = _batch(tmp_path / "day1", "2025-06-01", LISTINGS_ROWS,
                 CALENDAR_ROWS, REVIEWS_ROWS)
    plans: dict[str, object] = {}
    write = etl._write_counted

    def captured(df, path, partition_col=None):
        plans[os.path.basename(path)] = \
            df._jdf.queryExecution().optimizedPlan()
        return write(df, path, partition_col)

    monkeypatch.setattr(etl, "_write_counted", captured)
    run_pipeline(spark, src, str(tmp_path / "wh"))
    assert {f".{n}.__tmp" for n in etl.CORE_TABLES} <= set(plans)
    for name, plan in plans.items():
        empty_legs, leaves, stack = [], set(), [plan]
        while stack:
            node = stack.pop()
            kids = _children(node)
            if not kids:
                leaves.add(node.nodeName())
            if node.nodeName() in ("Join", "Union"):
                empty_legs += [node.nodeName() for k in kids
                               if k.nodeName() == "LocalRelation"
                               and k.data().isEmpty()]
            stack += kids
        assert not empty_legs, (name, plan.toString())
        assert leaves == {"LogicalRelation"}, (name, leaves)
