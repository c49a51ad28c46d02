"""Seeded star-schema warehouse and T-SQL query mix for ``warehouse_sql``.

The warehouse is written straight to parquet (pyarrow, no Spark job) in
the layout ``run_pipeline`` persists: dims flat, facts partitioned by
``part_month``. Building it through the ETL would put a cold
``run_pipeline`` (about 20 s) into every set-up; this workload measures
the query path only.

Each query template is a T-SQL text for ``functions.tsql.run_tsql`` and
a DuckDB twin over the same parquet, used as the oracle outside the
timed region.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from dataclasses import dataclass
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from corpus import REVIEWS_PER, tsql_week_start

COUNTRIES = [("France", "Paris"), ("Spain", "Madrid"), ("Italy", "Rome"),
             ("Canada", "Toronto")]
HOST_PLACES = [("Paris", "France"), ("Madrid", "Spain"), ("Rome", "Italy"),
               ("Boston", "MA"), ("Lyon", "France")]
US_STATES = {"MA"}
START = dt.date(2025, 1, 1)
DAYS = 212                      # 2025-01-01 .. 2025-07-31
MONTHS = ["2025-0%d" % m for m in range(1, 8)]

# The three vw_* definitions, as plans/pipeline.py:register_views has them
DUCK_VIEWS = """
CREATE VIEW vw_local_foreign_analysis AS
SELECT property_country, property_city, latitude, longitude, is_local_host,
       COUNT(*) AS listing_count, AVG(price) AS avg_price,
       AVG(review_scores_rating) AS avg_rating,
       SUM(number_of_reviews) AS total_reviews
FROM dim_listings
GROUP BY property_country, property_city, latitude, longitude, is_local_host;
CREATE VIEW vw_neighborhood_performance AS
SELECT property_country, property_city, property_neighbourhood,
       COUNT(*) AS listing_count, AVG(price) AS avg_price,
       AVG(review_scores_rating) AS avg_rating,
       AVG(number_of_reviews) AS avg_reviews
FROM dim_listings
GROUP BY property_country, property_city, property_neighbourhood;
CREATE VIEW vw_host_activity AS
SELECT host_country, host_city, latitude, longitude,
       COUNT(DISTINCT host_id) AS unique_hosts, COUNT(*) AS listing_count,
       AVG(price) AS avg_price
FROM dim_listings
GROUP BY host_country, host_city, latitude, longitude;
"""

# name -> (T-SQL, DuckDB twin, result order is total)
TEMPLATES: dict[str, tuple[str, str, bool]] = {
    "vw_neighbourhood_top": (
        "SELECT TOP {n} property_city, property_neighbourhood, listing_count,"
        " avg_price FROM vw_neighborhood_performance"
        " WHERE property_country = '{country}'"
        " ORDER BY listing_count DESC, property_neighbourhood",
        "SELECT property_city, property_neighbourhood, listing_count,"
        " avg_price FROM vw_neighborhood_performance"
        " WHERE property_country = '{country}'"
        " ORDER BY listing_count DESC, property_neighbourhood LIMIT {n}",
        True),
    "vw_local_foreign": (
        "SELECT property_country, is_local_host, SUM(listing_count) AS n,"
        " SUM(total_reviews) AS reviews FROM vw_local_foreign_analysis"
        " WHERE property_country <> '{country}'"
        " GROUP BY property_country, is_local_host",
        "SELECT property_country, is_local_host, SUM(listing_count) AS n,"
        " SUM(total_reviews) AS reviews FROM vw_local_foreign_analysis"
        " WHERE property_country <> '{country}'"
        " GROUP BY property_country, is_local_host",
        False),
    "vw_host_activity": (
        "SELECT TOP {n} host_country, host_city, SUM(unique_hosts) AS hosts,"
        " SUM(listing_count) AS listings FROM vw_host_activity"
        " GROUP BY host_country, host_city"
        " ORDER BY listings DESC, host_country, host_city",
        "SELECT host_country, host_city, SUM(unique_hosts) AS hosts,"
        " SUM(listing_count) AS listings FROM vw_host_activity"
        " GROUP BY host_country, host_city"
        " ORDER BY listings DESC, host_country, host_city LIMIT {n}",
        True),
    "top_price": (
        "SELECT TOP {n} listing_id, price FROM dim_listings"
        " WHERE property_city = '{city}' ORDER BY price DESC, listing_id",
        "SELECT listing_id, price FROM dim_listings"
        " WHERE property_city = '{city}' ORDER BY price DESC, listing_id"
        " LIMIT {n}",
        True),
    "point_lookup": (
        "SELECT listing_id, host_id, price, LEN(property_neighbourhood) AS nl"
        " FROM dim_listings WHERE listing_id = {lid}",
        "SELECT listing_id, host_id, price,"
        " length(rtrim(property_neighbourhood)) AS nl"
        " FROM dim_listings WHERE listing_id = {lid}",
        False),
    "dup_check": (
        "SELECT listing_id, week_start_date, COUNT(*) AS n FROM fact_calendar"
        " WHERE part_month = '{month}'"
        " GROUP BY listing_id, week_start_date HAVING COUNT(*) > 1",
        "SELECT listing_id, week_start_date, COUNT(*) AS n FROM fact_calendar"
        " WHERE part_month = '{month}'"
        " GROUP BY listing_id, week_start_date HAVING COUNT(*) > 1",
        False),
    "date_span": (
        "SELECT MIN(full_date) AS lo, MAX(full_date) AS hi,"
        " DATEDIFF(day, MIN(full_date), MAX(full_date)) AS span"
        " FROM dim_dates WHERE month >= {m}",
        "SELECT MIN(full_date) AS lo, MAX(full_date) AS hi,"
        " datediff('day', MIN(full_date), MAX(full_date)) AS span"
        " FROM dim_dates WHERE month >= {m}",
        False),
    "fk_semi_join": (
        "SELECT COUNT(*) AS n FROM fact_reviews r WHERE EXISTS"
        " (SELECT 1 FROM dim_listings l WHERE l.listing_id = r.listing_id"
        " AND l.property_country = '{country}')"
        " AND r.review_date >= CONVERT(DATE, '{day}')",
        "SELECT COUNT(*) AS n FROM fact_reviews r WHERE EXISTS"
        " (SELECT 1 FROM dim_listings l WHERE l.listing_id = r.listing_id"
        " AND l.property_country = '{country}')"
        " AND r.review_date >= DATE '{day}'",
        False),
    "fk_anti_join": (
        "SELECT COUNT(*) AS orphans FROM fact_calendar c WHERE NOT EXISTS"
        " (SELECT 1 FROM dim_listings l WHERE l.listing_id = c.listing_id)"
        " AND c.part_month = '{month}'",
        "SELECT COUNT(*) AS orphans FROM fact_calendar c WHERE NOT EXISTS"
        " (SELECT 1 FROM dim_listings l WHERE l.listing_id = c.listing_id)"
        " AND c.part_month = '{month}'",
        False),
    "calendar_month_rollup": (
        "SELECT listing_id, COUNT(*) AS weeks,"
        " SUM(available_days_per_week) AS avail,"
        " SUM(avg_price_per_week) AS price_sum FROM fact_calendar"
        " WHERE part_month = '{month}' AND listing_id % 16 = {k}"
        " GROUP BY listing_id",
        "SELECT listing_id, COUNT(*) AS weeks,"
        " SUM(available_days_per_week) AS avail,"
        " SUM(avg_price_per_week) AS price_sum FROM fact_calendar"
        " WHERE part_month = '{month}' AND listing_id % 16 = {k}"
        " GROUP BY listing_id",
        False),
    "reviews_by_month": (
        "SELECT d.year, d.month, COUNT(*) AS n FROM fact_reviews r"
        " JOIN dim_dates d ON r.date_id = d.date_id"
        " WHERE d.month BETWEEN {m} AND {m2} GROUP BY d.year, d.month",
        "SELECT d.year, d.month, COUNT(*) AS n FROM fact_reviews r"
        " JOIN dim_dates d ON r.date_id = d.date_id"
        " WHERE d.month BETWEEN {m} AND {m2} GROUP BY d.year, d.month",
        False),
    "week_bucket": (
        "SELECT DATEADD(wk, DATEDIFF(wk, 0, full_date), 0) AS wk,"
        " COUNT(*) AS n FROM dim_dates WHERE month = {m}"
        " GROUP BY DATEADD(wk, DATEDIFF(wk, 0, full_date), 0)",
        "SELECT CASE WHEN dayofweek(full_date) = 0"
        " THEN full_date + 1"
        " ELSE full_date - CAST(dayofweek(full_date) - 1 AS INTEGER)"
        " END AS wk, COUNT(*) AS n FROM dim_dates WHERE month = {m}"
        " GROUP BY wk",
        False),
}


@dataclass
class Warehouse:
    root: str
    listing_ids: list[int]


def _dec(cents: int, scale: int = 2) -> Decimal:
    return Decimal(cents).scaleb(-scale)


def build(root: str, seed: int, n_listings: int = 1000) -> Warehouse:
    """Write dim_listings, dim_dates, fact_calendar and fact_reviews
    under ``root`` from ``seed``."""
    rng = random.Random(seed)
    cols: dict[str, list] = {k: [] for k in (
        "listing_id", "host_id", "host_name", "host_city", "host_country",
        "property_country", "property_city", "property_neighbourhood",
        "latitude", "longitude", "price", "number_of_reviews",
        "review_scores_rating", "is_local_host", "host_country_corrected")}
    for i in range(n_listings):
        country, city = COUNTRIES[i % len(COUNTRIES)]
        host = rng.randrange(n_listings // 2)
        hcity, hcountry = HOST_PLACES[host % len(HOST_PLACES)]
        corrected = "United States" if hcountry in US_STATES else hcountry
        for k, v in (("listing_id", 1_000_000 + i), ("host_id", host),
                     ("host_name", f"Host{host}"), ("host_city", hcity),
                     ("host_country", hcountry),
                     ("property_country", country), ("property_city", city),
                     ("property_neighbourhood",
                      f"{city}-{rng.randrange(40):02d}"),
                     ("latitude", _dec(40_000_000 + rng.randrange(10**6), 6)),
                     ("longitude", _dec(2_000_000 + rng.randrange(10**6), 6)),
                     ("price", _dec(5_000 + rng.randrange(40_000))),
                     ("number_of_reviews", rng.randrange(200)),
                     ("review_scores_rating", _dec(300 + rng.randrange(200))),
                     ("is_local_host", corrected == country),
                     ("host_country_corrected", corrected)):
            cols[k].append(v)
    listings = pa.table(cols, schema=pa.schema([
        ("listing_id", pa.int64()), ("host_id", pa.int64()),
        ("host_name", pa.string()), ("host_city", pa.string()),
        ("host_country", pa.string()), ("property_country", pa.string()),
        ("property_city", pa.string()),
        ("property_neighbourhood", pa.string()),
        ("latitude", pa.decimal128(9, 6)), ("longitude", pa.decimal128(9, 6)),
        ("price", pa.decimal128(10, 2)), ("number_of_reviews", pa.int64()),
        ("review_scores_rating", pa.decimal128(3, 2)),
        ("is_local_host", pa.bool_()), ("host_country_corrected",
                                        pa.string())]))

    days = [START + dt.timedelta(days=i) for i in range(DAYS)]
    dates = pa.table({
        "date_id": pa.array(range(1, DAYS + 1), pa.int32()),
        "full_date": pa.array(days, pa.date32()),
        "year": pa.array([d.year for d in days], pa.int32()),
        "quarter": pa.array([(d.month - 1) // 3 + 1 for d in days],
                            pa.int32()),
        "month": pa.array([d.month for d in days], pa.int32()),
        "month_name": [d.strftime("%B") for d in days],
        "day": pa.array([d.day for d in days], pa.int32()),
        "day_name": [d.strftime("%A") for d in days],
        "is_weekend": [d.weekday() >= 5 for d in days],
    })

    weeks = sorted({tsql_week_start(d) for d in days[:-7]})
    cal: dict[str, list] = {k: [] for k in (
        "listing_id", "week_start_date", "week_end_date",
        "avg_price_per_week", "available_days_per_week", "part_month")}
    for lid in cols["listing_id"]:
        for w in weeks:
            for k, v in (("listing_id", lid), ("week_start_date", w),
                         ("week_end_date", w + dt.timedelta(days=6)),
                         ("avg_price_per_week",
                          _dec(5_000 + rng.randrange(40_000))),
                         ("available_days_per_week", rng.randrange(8)),
                         ("part_month", w.strftime("%Y-%m"))):
                cal[k].append(v)
    calendar = pa.table(cal, schema=pa.schema([
        ("listing_id", pa.int64()), ("week_start_date", pa.date32()),
        ("week_end_date", pa.date32()),
        ("avg_price_per_week", pa.decimal128(10, 2)),
        ("available_days_per_week", pa.int32()), ("part_month", pa.string())]))

    rev: dict[str, list] = {k: [] for k in (
        "review_id", "listing_id", "date_id", "reviewer_id", "reviewer_name",
        "comments", "review_date", "part_month")}
    rid = 1
    for lid in cols["listing_id"]:
        for _ in range(rng.randrange(2 * REVIEWS_PER + 1)):
            di = rng.randrange(DAYS)
            reviewer = rng.randrange(50_000)
            for k, v in (("review_id", rid), ("listing_id", lid),
                         ("date_id", di + 1), ("reviewer_id", reviewer),
                         ("reviewer_name", f"Guest{reviewer}"),
                         ("comments", f"Stay {rid} was lovely"),
                         ("review_date", days[di]),
                         ("part_month", days[di].strftime("%Y-%m"))):
                rev[k].append(v)
            rid += 1
    reviews = pa.table(rev, schema=pa.schema([
        ("review_id", pa.int64()), ("listing_id", pa.int64()),
        ("date_id", pa.int32()), ("reviewer_id", pa.int64()),
        ("reviewer_name", pa.string()), ("comments", pa.string()),
        ("review_date", pa.date32()), ("part_month", pa.string())]))

    os.makedirs(root, exist_ok=True)
    for name, table in (("dim_listings", listings), ("dim_dates", dates)):
        os.makedirs(os.path.join(root, name), exist_ok=True)
        pq.write_table(table, os.path.join(root, name, "part-0.parquet"))
    for name, table in (("fact_calendar", calendar),
                        ("fact_reviews", reviews)):
        pq.write_to_dataset(table, os.path.join(root, name),
                            partition_cols=["part_month"],
                            basename_template="part-{i}.parquet")
    return Warehouse(root, cols["listing_id"])


def query_mix(wh: Warehouse, rng: random.Random,
              shuffle: bool = True) -> list[tuple[str, dict]]:
    """Every template once, with seeded parameters, in a seeded order
    (or in name order with ``shuffle=False``)."""
    names = sorted(TEMPLATES)
    if shuffle:
        rng.shuffle(names)
    out = []
    for name in names:
        m = 1 + rng.randrange(6)
        country, city = rng.choice(COUNTRIES)
        out.append((name, {
            "n": 5 + rng.randrange(20), "country": country, "city": city,
            "lid": rng.choice(wh.listing_ids), "month": rng.choice(MONTHS),
            "m": m, "m2": m + 1, "k": rng.randrange(16),
            "day": (START + dt.timedelta(days=rng.randrange(DAYS)))
            .isoformat()}))
    return out


def duck_connect(wh: Warehouse):
    """DuckDB oracle session with the warehouse and the views."""
    import duckdb

    con = duckdb.connect()
    for name in ("dim_listings", "dim_dates"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{wh.root}/{name}/*.parquet')")
    for name in ("fact_calendar", "fact_reviews"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{wh.root}/{name}/*/*.parquet', hive_partitioning=true,"
                    f" hive_types={{'part_month': VARCHAR}})")
    con.execute(DUCK_VIEWS)
    return con


def _canon(v):
    if isinstance(v, (Decimal, float)):
        return float(v)
    return v


def _same(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(
                    x, y, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif x != y:
            return False
    return True


def rows_match(got: list, want: list, ordered: bool) -> bool:
    """Spark rows vs DuckDB rows: numeric columns within 1e-9 relative,
    everything else exact; unordered results are compared sorted."""
    g = [tuple(_canon(v) for v in r) for r in got]
    w = [tuple(_canon(v) for v in r) for r in want]
    if len(g) != len(w):
        return False
    if not ordered:
        def key(r):
            return tuple((v is None, round(v, 3) if isinstance(v, float)
                          else v) for v in r)
        g, w = sorted(g, key=key), sorted(w, key=key)
    return all(_same(a, b) for a, b in zip(g, w))
