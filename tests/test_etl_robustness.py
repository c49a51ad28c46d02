"""Regression pins for the round-4 ETL review findings: incremental
runs must never destroy accumulated state (dim_dates wipe, placeholder
schema poisoning, non-crash-safe swaps), and the persisted facts must
actually partition by their time bucket."""

from __future__ import annotations

import csv
import glob
import gzip
import os
import shutil
import threading

import pytest
from killpoints import Killed, kill_points, tree

from sql_etl_data_warehouse_inside_airbnb_spark.plans import etl
from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import run_pipeline
from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit

LISTING_COLS = ["id", "host_id", "host_name", "host_location",
                "neighbourhood_cleansed", "latitude", "longitude", "price",
                "number_of_reviews", "review_scores_rating",
                "calculated_host_listings_count"]
REVIEW_COLS = ["listing_id", "id", "date", "reviewer_id", "reviewer_name",
               "comments"]
CALENDAR_COLS = ["listing_id", "date", "available", "price"]


def _wgz(dirpath, name, header, rows):
    with gzip.open(os.path.join(dirpath, name), "wt", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _day1(tmp_path):
    day1 = tmp_path / "day1"
    day1.mkdir()
    _wgz(day1, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "10", "4.50", "2"],
    ])
    _wgz(day1, "France_Paris_calendar_2025-06-01.csv.gz", CALENDAR_COLS, [
        [101, "2025-06-02", "t", "$100.00"],
    ])
    _wgz(day1, "France_Paris_reviews_2025-06-01.csv.gz", REVIEW_COLS, [
        [101, 1, "2025-05-01", 71, "Zoe", "nice"],
    ])
    return day1


def test_incremental_listings_only_keeps_dim_dates(spark, tmp_path):
    """A day-2 dir with ONLY a listings file must not wipe the
    accumulated date dimension (or facts)."""
    out = tmp_path / "wh"
    t1 = run_pipeline(spark, str(_day1(tmp_path)), str(out))
    assert t1.stats["dim_dates"] > 0
    n_dates = t1.stats["dim_dates"]

    day2 = tmp_path / "day2"
    day2.mkdir()
    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
    ])
    t2 = run_pipeline(spark, str(day2), str(out), incremental=True)
    assert t2.stats["dim_dates"] == n_dates        # kept, not wiped
    assert t2.stats["fact_reviews"] == 1
    assert t2.stats["fact_calendar"] == 1
    # schema intact (9 real columns, not a 2-col placeholder)
    assert len(t2.dim_dates.columns) == 9


def test_placeholder_schemas_survive_roundtrip(spark, tmp_path):
    """Run 1 without calendar/review files persists EMPTY facts with
    the REAL schemas; run 2 with those files must union cleanly."""
    day1 = tmp_path / "d1"
    day1.mkdir()
    _wgz(day1, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "10", "4.50", "2"],
    ])
    out = tmp_path / "wh"
    t1 = run_pipeline(spark, str(day1), str(out))
    assert t1.stats["fact_calendar"] == 0
    assert len(t1.fact_calendar.columns) == 5
    # real columns (+ the review_lang enrichment), not a 1-col stub
    assert {"review_id", "listing_id", "date_id", "reviewer_id",
            "reviewer_name", "comments",
            "review_date"} <= set(t1.fact_reviews.columns)
    assert len(t1.dim_dates.columns) == 9

    day2 = tmp_path / "d2"
    day2.mkdir()
    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "10", "4.50", "2"],
    ])
    _wgz(day2, "France_Paris_calendar_2025-06-08.csv.gz", CALENDAR_COLS, [
        [101, "2025-06-09", "t", "$150.00"],
    ])
    _wgz(day2, "France_Paris_reviews_2025-06-08.csv.gz", REVIEW_COLS, [
        [101, 5, "2025-06-09", 75, "Kim", "ok"],
    ])
    t2 = run_pipeline(spark, str(day2), str(out), incremental=True)
    assert t2.stats["fact_calendar"] == 1
    assert t2.stats["fact_reviews"] == 1


def test_incremental_swap_recovers_from_crash(spark, tmp_path):
    """A kill inside the table-swap window (fact_reviews set aside, its
    new copy not yet in place): the next incremental run must complete
    the batch instead of full-rebuilding from the partial day-2 dir."""
    out = tmp_path / "wh"
    t1 = run_pipeline(spark, str(_day1(tmp_path)), str(out))
    assert t1.stats["fact_reviews"] == 1

    day2 = tmp_path / "day2"
    day2.mkdir()
    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
    ])
    _wgz(day2, "France_Paris_reviews_2025-06-08.csv.gz", REVIEW_COLS, [
        [102, 9, "2025-06-09", 79, "Ly", "fine"],
    ])
    fr = str(out / "fact_reviews")
    with pytest.raises(Killed), kill_points(
            out, when=lambda op, path: path == commit.staged(fr)):
        run_pipeline(spark, str(day2), str(out), incremental=True)
    assert not os.path.exists(fr) and commit.pending(out)

    t2 = run_pipeline(spark, str(day2), str(out), incremental=True)
    # day1's review survived the kill + retry
    assert t2.stats["fact_reviews"] == 2
    assert t2.stats["dim_listings"] == 2
    assert not os.path.exists(commit.aside(fr))


def test_fact_reviews_partitioned_by_month(spark, tmp_path):
    out = tmp_path / "wh"
    run_pipeline(spark, str(_day1(tmp_path)), str(out))
    parts = glob.glob(os.path.join(str(out), "fact_reviews",
                                   "part_month=*"))
    assert parts, "fact_reviews must persist hive-partitioned by month"
    assert os.path.basename(parts[0]) == "part_month=2025-05"


def test_reject_slices_distinct_for_identical_basenames(spark, tmp_path):
    """Two genuinely different loads shipping IDENTICAL filenames
    (undated feeds like 'listings.csv.gz') must land in distinct
    load_batch= slices — the batch id folds each file's size/mtime, so
    the later load never silently overwrites the earlier load's
    rejects in the cumulative audit log."""
    out = tmp_path / "wh"
    day1 = tmp_path / "d1"
    day1.mkdir()
    _wgz(day1, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "10", "4.50", "2"],
        ["not-an-id", 9009, "Bad", "", "", "", "", "", "", "", ""],
    ])
    t1 = run_pipeline(spark, str(day1), str(out))
    assert t1.stats["rejects_listings"] == 1

    day2 = tmp_path / "d2"
    day2.mkdir()
    # SAME basename, different content (different reject row)
    _wgz(day2, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
        ["also-bad", 9010, "Bad2", "", "", "", "", "", "", "", ""],
    ])
    t2 = run_pipeline(spark, str(day2), str(out), incremental=True)
    assert t2.stats["rejects_listings"] == 1
    slices = glob.glob(os.path.join(str(out), "rejects_listings",
                                    "load_batch=*"))
    assert len(slices) == 2, slices
    # both loads' rejects survive in the cumulative log
    log = spark.read.parquet(os.path.join(str(out), "rejects_listings"))
    assert log.count() == 2


def _day1_live_and_day2_reference(spark, tmp_path):
    """Day 1 loaded into ``wh``, plus the stats of an uninterrupted
    incremental day-2 load into a copy of it."""
    out = tmp_path / "wh"
    t1 = run_pipeline(spark, str(_day1(tmp_path)), str(out))
    ref = tmp_path / "ref"
    shutil.copytree(out, ref)

    day2 = tmp_path / "day2"
    day2.mkdir()
    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
        ["bad-id", 9003, "Eve", "", "", "", "", "", "", "", ""],
    ])
    _wgz(day2, "France_Paris_calendar_2025-06-08.csv.gz", CALENDAR_COLS, [
        [102, "2025-06-09", "t", "$80.00"],
    ])
    _wgz(day2, "France_Paris_reviews_2025-06-08.csv.gz", REVIEW_COLS, [
        [102, 9, "2025-06-09", 79, "Ly", "fine"],
    ])
    want = run_pipeline(spark, str(day2), str(ref), incremental=True).stats
    return out, day2, t1, want


def _assert_day1_live_then_retry_commits(spark, out, day2, t1, want):
    assert not commit.pending(out)
    for name in etl.CORE_TABLES:
        live = spark.read.parquet(str(out / name))
        assert live.count() == t1.stats[name], name
    assert run_pipeline(spark, str(day2), str(out),
                        incremental=True).stats == want


def test_crash_while_staging_fact_reviews_leaves_day1_live(spark, tmp_path,
                                                           monkeypatch):
    """A kill while staging fact_reviews, the last table to start: nothing
    was swapped and no journal exists, so the live warehouse still holds
    day 1, and a retry commits the same batch as an uninterrupted run."""
    out, day2, t1, want = _day1_live_and_day2_reference(spark, tmp_path)
    before = tree(out)
    write = etl._write_counted

    def killed_at_fact_reviews(df, path, partition_col=None):
        if os.path.basename(path) == ".fact_reviews.__tmp":
            raise RuntimeError("killed while staging fact_reviews")
        return write(df, path, partition_col)

    monkeypatch.setattr(etl, "_write_counted", killed_at_fact_reviews)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, str(day2), str(out), incremental=True)
    monkeypatch.undo()
    assert tree(out) == before
    _assert_day1_live_then_retry_commits(spark, out, day2, t1, want)


def test_crash_in_one_write_waits_for_writes_in_flight(spark, tmp_path,
                                                        monkeypatch):
    """dim_dates and dim_listings stage concurrently: when the dim_dates
    write fails while dim_listings is still writing, run_pipeline raises
    only after that write has returned, leaves no journal and the day-1
    warehouse live, and a retry commits the same batch as an
    uninterrupted run."""
    out, day2, t1, want = _day1_live_and_day2_reference(spark, tmp_path)
    before = tree(out)
    write = etl._write_counted
    listings_started = threading.Event()
    dates_failed = threading.Event()
    lock = threading.Lock()
    in_flight: list[str] = []
    returned: list[str] = []

    def dim_dates_fails(df, path, partition_col=None):
        name = os.path.basename(path)
        with lock:
            in_flight.append(name)
        try:
            if name == ".dim_dates.__tmp":
                assert listings_started.wait(60), "dim_listings not started"
                dates_failed.set()
                raise RuntimeError("killed while staging dim_dates")
            if name == ".dim_listings.__tmp":
                listings_started.set()
                assert dates_failed.wait(60), "dim_dates did not fail"
            return write(df, path, partition_col)
        finally:
            with lock:
                in_flight.remove(name)
                returned.append(name)

    monkeypatch.setattr(etl, "_write_counted", dim_dates_fails)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, str(day2), str(out), incremental=True)
    monkeypatch.undo()

    assert not in_flight
    assert ".dim_listings.__tmp" in returned
    assert tree(out) == before
    _assert_day1_live_then_retry_commits(spark, out, day2, t1, want)


def test_failed_rebuild_leaves_previous_warehouse_live(spark, tmp_path,
                                                       monkeypatch):
    """A full (non-incremental) load over an existing warehouse stages
    and commits like an incremental one: when one staged write fails,
    every table of the previous warehouse stays live with its row count
    and no journal is left."""
    out = tmp_path / "wh"
    t1 = run_pipeline(spark, str(_day1(tmp_path)), str(out))
    rebuild = tmp_path / "rebuild"
    rebuild.mkdir()
    _wgz(rebuild, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
        ["bad-id", 9003, "Eve", "", "", "", "", "", "", "", ""],
    ])
    _wgz(rebuild, "France_Paris_reviews_2025-06-08.csv.gz", REVIEW_COLS, [
        [102, 9, "2025-06-09", 79, "Ly", "fine"],
    ])
    before = tree(out)
    write = etl._write_counted

    def killed_at_fact_reviews(df, path, partition_col=None):
        if os.path.basename(path) == ".fact_reviews.__tmp":
            raise RuntimeError("killed while writing fact_reviews")
        return write(df, path, partition_col)

    monkeypatch.setattr(etl, "_write_counted", killed_at_fact_reviews)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, str(rebuild), str(out))
    # a failed first load leaves no output dir at all
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, str(rebuild), str(tmp_path / "first"))
    monkeypatch.undo()
    assert tree(out) == before
    assert not (tmp_path / "first").exists()
    assert not commit.pending(out)
    for name in etl.CORE_TABLES:
        live = spark.read.parquet(str(out / name))
        assert live.count() == t1.stats[name], name


def test_failed_load_commits_no_rejects_slice(spark, tmp_path, monkeypatch):
    """The rejects slice commits with the batch: a load that fails in a
    staged write leaves no new slice in the log, and its retry writes the
    slice once and gives the uninterrupted run's stats."""
    out, day2, t1, want = _day1_live_and_day2_reference(spark, tmp_path)

    def slices():
        return set(glob.glob(os.path.join(str(out), "rejects_listings",
                                          "load_batch=*")))

    day1_slices = slices()
    before = tree(out)
    write = etl._write_counted

    def killed_at_fact_calendar(df, path, partition_col=None):
        if os.path.basename(path) == ".fact_calendar.__tmp":
            raise RuntimeError("killed while staging fact_calendar")
        return write(df, path, partition_col)

    monkeypatch.setattr(etl, "_write_counted", killed_at_fact_calendar)
    with pytest.raises(RuntimeError, match="killed"):
        run_pipeline(spark, str(day2), str(out), incremental=True)
    monkeypatch.undo()
    assert slices() == day1_slices
    assert tree(out) == before
    assert run_pipeline(spark, str(day2), str(out),
                        incremental=True).stats == want
    assert len(slices() - day1_slices) == 1
    log = spark.read.parquet(os.path.join(str(out), "rejects_listings"))
    assert log.count() == t1.stats["rejects_listings"] + want[
        "rejects_listings"]
