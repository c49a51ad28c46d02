"""Incremental (day-2) re-load semantics: MERGE upsert for listings,
append-if-absent reviews, insert-if-absent calendar weeks, stable
date_ids, id-map append, hosts rebuild."""

from __future__ import annotations

import csv
import gzip
import os
import shutil

import pytest
from killpoints import Killed, kill_points
from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.plans.enrich import (
    add_review_lang,
)
from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
    CORE_TABLES,
    run_pipeline,
)
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


def test_day2_incremental_load(spark, tmp_path):
    day1 = tmp_path / "day1"
    day2 = tmp_path / "day2"
    out = tmp_path / "wh"
    day1.mkdir(), day2.mkdir()

    _wgz(day1, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "10", "4.50", "2"],
        [102, 9002, "Bob", "Lyon, France", "Opera", "48.87", "2.33",
         "$80.00", "5", "4.00", "1"],
    ])
    _wgz(day1, "France_Paris_calendar_2025-06-01.csv.gz", CALENDAR_COLS, [
        [101, "2025-06-02", "t", "$100.00"],
        [101, "2025-06-03", "f", "$110.00"],
    ])
    _wgz(day1, "France_Paris_reviews_2025-06-01.csv.gz", REVIEW_COLS, [
        [101, 1, "2025-05-01", 71, "Zoe", "nice"],
        [102, 2, "2025-05-02", 72, "Yan", "good"],
    ])
    t1 = run_pipeline(spark, str(day1), str(out))
    assert t1.stats["dim_listings"] == 2
    d1_dates = {r.full_date: r.date_id
                for r in t1.dim_dates.select("date_id", "full_date").collect()}

    # day 2: listing 101 price changes (MERGE update), 103 is new
    # (MERGE insert); review 2 re-arrives (must not duplicate), 3 is
    # new; calendar re-ships the same week for 101 (must not duplicate)
    # plus a new week
    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$150.00", "12", "4.60", "2"],
        [103, 9003, "Cal", "Nice, France", "Port", "43.70", "7.26",
         "$60.00", "0", "", "1"],
    ])
    _wgz(day2, "France_Paris_calendar_2025-06-08.csv.gz", CALENDAR_COLS, [
        [101, "2025-06-02", "f", "$999.00"],   # same week -> ignored
        [101, "2025-06-09", "t", "$150.00"],   # new week
        [103, "2025-06-10", "t", "$60.00"],
    ])
    _wgz(day2, "France_Paris_reviews_2025-06-08.csv.gz", REVIEW_COLS, [
        [102, 2, "2025-05-02", 72, "Yan", "good"],          # dup -> skipped
        [103, 3, "2025-06-09", 73, "Xia", "fresh"],
    ])
    t2 = run_pipeline(spark, str(day2), str(out), incremental=True)

    assert t2.stats["dim_listings"] == 3
    prices = {r.listing_id: str(r.price)
              for r in t2.dim_listings.select("listing_id", "price").collect()}
    assert prices[101] == "150.00"          # source wins on match
    assert prices[102] == "80.00"           # untouched rows survive
    assert t2.stats["dim_hosts"] == 3       # rebuilt from merged dim
    assert t2.stats["dim_listing_id_map"] == 4  # 2 + 2 appended

    # reviews: day1's 2 + one new; the re-sent id 2 did not duplicate
    assert t2.stats["fact_reviews"] == 3

    # calendar: day1 week kept with its ORIGINAL aggregate; new weeks in
    fc = {(r.listing_id, str(r.week_start_date)):
          str(r.avg_price_per_week)
          for r in t2.fact_calendar.collect()}
    assert len(fc) == 3
    assert fc[(101, "2025-06-02")] == "105.00"   # day1 value, not 999
    assert (101, "2025-06-09") in fc and (103, "2025-06-09") in fc

    # date_ids stable: every day1 id unchanged, new dates numbered past
    d2_dates = {r.full_date: r.date_id
                for r in t2.dim_dates.select("date_id", "full_date").collect()}
    for fd, did in d1_dates.items():
        assert d2_dates[fd] == did
    new_ids = [v for k, v in d2_dates.items() if k not in d1_dates]
    assert new_ids and min(new_ids) > max(d1_dates.values())


def test_enrichment_columns(spark, tmp_path):
    """pretreatment + language-detection enrichment: state-abbrev host
    country -> United States, is_local_host from corrected country,
    review_lang present on fact_reviews."""
    day1 = tmp_path / "in"
    day1.mkdir()
    _wgz(day1, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [201, 8001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "1", "4.0", "1"],          # local: France == France
        [202, 8002, "Tex", "TX", "Opera", "48.87", "2.33",
         "$90.00", "2", "4.1", "1"],           # TX -> United States
    ])
    _wgz(day1, "France_Paris_reviews_2025-06-01.csv.gz", REVIEW_COLS, [
        [201, 11, "2025-05-01", 71, "Zoe",
         "the quick brown fox and the lazy dog were here with this"],
        [202, 12, "2025-05-02", 72, "Yan", ""],
    ])
    t = run_pipeline(spark, str(day1), str(tmp_path / "wh2"))

    rows = {r.listing_id: r for r in t.dim_listings.collect()}
    assert rows[201].host_country_corrected == "France"
    assert rows[201].is_local_host is True
    assert rows[202].host_country == "TX"
    assert rows[202].host_country_corrected == "United States"
    assert rows[202].is_local_host is False
    hosts = {r.host_id: r.host_country_corrected
             for r in t.dim_hosts.collect()}
    assert hosts[8002] == "United States"

    langs = {r.review_id: r.review_lang for r in t.fact_reviews.collect()}
    assert langs[11] == "en"
    assert langs[12] == "und"


def _rewrite_fact_reviews(spark, out, tmp_path, fn):
    """Replace the stored fact_reviews with ``fn`` applied to it."""
    fr, tmp = out / "fact_reviews", tmp_path / "fact_reviews_rewrite"
    fn(spark.read.parquet(str(fr))).write.partitionBy("part_month") \
        .parquet(str(tmp))
    shutil.rmtree(fr)
    shutil.move(str(tmp), str(fr))


def test_incremental_detects_language_on_new_reviews_only(spark, tmp_path):
    """An incremental load detects review_lang on its new reviews only:
    prior rows keep the stored value (a sentinel survives, so nothing
    re-derived it), except in a warehouse written before the enrichment,
    whose prior rows get it derived."""
    out = tmp_path / "wh"
    listing = [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
               "$100.00", "10", "4.50", "2"]

    def load(day, reviews, incremental=True):
        d = tmp_path / day
        d.mkdir()
        _wgz(d, f"France_Paris_listings_{day}.csv.gz", LISTING_COLS,
             [listing])
        _wgz(d, f"France_Paris_reviews_{day}.csv.gz", REVIEW_COLS, reviews)
        t = run_pipeline(spark, str(d), str(out), incremental=incremental)
        return {r.review_id: r.review_lang for r in t.fact_reviews.collect()}

    def detected(review_id):
        fr = spark.read.parquet(str(out / "fact_reviews")) \
            .filter(F.col("review_id") == review_id).drop("review_lang")
        return add_review_lang(fr).first().review_lang

    day1 = load("2025-06-01", [
        [101, 1, "2025-05-01", 71, "Zoe",
         "the quick brown fox and the lazy dog were here with this"],
        [101, 2, "2025-05-02", 72, "Yan", ""],
    ], incremental=False)

    # pre-enrichment warehouse: prior rows are derived on the next load
    _rewrite_fact_reviews(spark, out, tmp_path,
                          lambda df: df.drop("review_lang"))
    day2 = load("2025-06-08", [
        [101, 1, "2025-05-01", 71, "Zoe", "re-sent, already loaded"],
        [101, 3, "2025-06-09", 73, "Xia",
         "la maison est très belle et le quartier est calme"],
    ])
    assert {k: day2[k] for k in day1} == day1
    assert day2[3] == detected(3)

    # stored languages are kept, not re-derived
    _rewrite_fact_reviews(spark, out, tmp_path,
                          lambda df: df.withColumn("review_lang", F.lit("xx")))
    day3 = load("2025-06-15", [
        [101, 4, "2025-06-16", 74, "Wu", "a lovely stay in the heart of it"],
    ])
    assert {k: day3[k] for k in (1, 2, 3)} == {1: "xx", 2: "xx", 3: "xx"}
    assert day3[4] == detected(4)


def test_reject_sink(spark, tmp_path):
    src = tmp_path / "in2"
    src.mkdir()
    _wgz(src, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [301, 7001, "Ok", "Paris, France", "X", "1", "2", "$10", "0", "", "1"],
        ["not-an-id", 7002, "Bad", "Y, Z", "X", "1", "2", "$10", "0", "", "1"],
    ])
    t = run_pipeline(spark, str(src), str(tmp_path / "wh3"))
    assert t.stats["dim_listings"] == 1
    assert t.stats["rejects_listings"] == 1
    rej = spark.read.parquet(str(tmp_path / "wh3" / "rejects_listings"))
    row = rej.collect()[0]
    assert row.id == "not-an-id"
    assert row.reject_reason == "listing_id_cast_failed"


def test_mid_swap_crash_rolls_forward_without_replay(spark, tmp_path):
    """A run killed mid-swap (journal present, some tables swapped,
    some still staged) must roll FORWARD to the complete new state on
    the next pipeline call — no mixed warehouse, and a retried batch
    never replays id-map/reject appends onto half-merged state."""
    day1 = tmp_path / "day1"
    day2 = tmp_path / "day2"
    out = tmp_path / "wh"
    day1.mkdir(), day2.mkdir()
    _wgz(day1, "France_Paris_listings_2025-06-01.csv.gz", LISTING_COLS, [
        [101, 9001, "Ana", "Paris, France", "Marais", "48.85", "2.35",
         "$100.00", "10", "4.50", "2"],
        ["bad_id", 9002, "Bob", "Lyon, France", "Opera", "48.87",
         "2.33", "$80.00", "5", "4.00", "1"],
    ])
    run_pipeline(spark, str(day1), str(out))
    ref = tmp_path / "ref"
    shutil.copytree(out, ref)

    _wgz(day2, "France_Paris_listings_2025-06-08.csv.gz", LISTING_COLS, [
        [103, 9003, "Cal", "Nice, France", "Port", "43.70", "7.26",
         "$60.00", "0", "", "1"],
        ["also_bad", 9004, "Dee", "Nice, France", "Port", "43.71",
         "7.27", "$61.00", "1", "", "1"],
    ])
    t2 = run_pipeline(spark, str(day2), str(ref), incremental=True)
    want_idmap = t2.stats["dim_listing_id_map"]
    want_rejects_total = spark.read.parquet(
        str(ref / "rejects_listings")).count()
    assert want_rejects_total == 2    # one bad row per day

    # kill day 2 mid-swap: three of the batch's staged tables are in
    # place and the rest still staged, under a journal that says the
    # batch was fully staged
    swapped_in: list[str] = []

    def at_fourth_swap_in(op, path):
        if op == "replace" and path.endswith(".__tmp"):
            swapped_in.append(path)
        return len(swapped_in) == 4

    with pytest.raises(Killed), kill_points(out, when=at_fourth_swap_in):
        run_pipeline(spark, str(day2), str(out), incremental=True)
    assert commit.pending(out)

    # a NO-OP day-3 run (re-reads day2 dir but the journal fires
    # first): recovery must complete the swap, then load the fully
    # committed day-2 warehouse as prior
    committed = {n: str(out / n) for n in CORE_TABLES}
    t3 = run_pipeline(spark, str(day2), str(out), incremental=True)
    assert not commit.pending(out)
    for n in committed:
        assert os.path.exists(committed[n])
        assert not os.path.exists(commit.staged(committed[n]))
        assert not os.path.exists(commit.aside(committed[n]))
    # day-3 re-ran the same batch over the COMMITTED day-2 state: the
    # PK-keyed tables stay deduped, and the per-load audit trails grow
    # by exactly one more load's worth (reference semantics), never by
    # a partial-replay amount
    assert t3.stats["dim_listings"] == 2
    assert t3.stats["dim_listing_id_map"] == want_idmap + 2
    # rejects are per-load SLICES keyed by a deterministic batch id:
    # re-running the same batch overwrites its own slice, so the
    # audit log never grows from retries
    assert spark.read.parquet(
        str(out / "rejects_listings")).count() == want_rejects_total
