"""Seeded Inside-Airbnb-shaped day-1/day-2 corpus for the ETL workloads.

One generator call writes two batches of ``{Country}_{City}_{kind}_{date}
.csv.gz`` files (kind in listings/calendar/reviews, one file per city, so
the gzip scans run in parallel) and returns the row counts the warehouse
must hold after each batch is loaded.

Day 1: ``n_listings`` listings spread over ``len(CITIES)`` cities, one in
1000 with an uncastable id (quarantined), ``DAYS1`` calendar days per good
listing, and a seeded number of reviews per good listing around
``REVIEWS_PER``.

Day 2 (loaded with ``run_pipeline(..., incremental=True)``): about 10% of
the day-1 listings re-sent with a new price, about 5% new listings, the
next ``DAYS2`` calendar days for every good listing, new reviews, and a
share of day-1 reviews re-sent with their old ids.

Files are byte-identical for a given seed: gzip headers carry no name and
a zero mtime.
"""

from __future__ import annotations

import csv
import datetime as dt
import gzip
import io
import os
import random
from dataclasses import dataclass, field

CITIES = [
    ("France", "Paris", "Paris, France"),
    ("Spain", "Madrid", "Madrid, Spain"),
    ("Italy", "Rome", "Rome, Italy"),
    ("Canada", "Toronto", "Boston, MA"),   # US-state host country fix
]
LISTING_COLS = ["id", "name", "host_id", "host_name", "host_location",
                "neighbourhood_cleansed", "latitude", "longitude",
                "room_type", "price", "number_of_reviews",
                "review_scores_rating", "calculated_host_listings_count"]
CALENDAR_COLS = ["listing_id", "date", "available", "price"]
REVIEW_COLS = ["listing_id", "id", "date", "reviewer_id", "reviewer_name",
               "comments"]
COMMENTS = [
    "Great place, very clean and close to the metro. Would stay again.",
    "Sehr schöne Wohnung, der Gastgeber war freundlich und hilfsbereit.",
    "Appartement très agréable, bien situé, je le recommande vivement.",
    "Piso muy bonito y limpio, la ubicación es perfecta para visitar.",
    "Appartamento molto carino, posizione ottima e host disponibile.",
    "",
]
DAY1 = dt.date(2025, 6, 1)
REVIEW_START = dt.date(2025, 1, 1)
BAD_EVERY = 1000
DAYS1, DAYS2 = 30, 14   # calendar days in the day-1 and day-2 batches
REVIEWS_PER = 5


def tsql_week_start(d: dt.date) -> dt.date:
    """Monday of the T-SQL week; a Sunday belongs to the NEXT Monday."""
    return d + dt.timedelta(days=1) if d.weekday() == 6 \
        else d - dt.timedelta(days=d.weekday())


@dataclass
class Expected:
    """Warehouse row counts after one batch is loaded."""
    input_rows: int
    rejects: int
    tables: dict[str, int] = field(default_factory=dict)


@dataclass
class Corpus:
    day1_dir: str
    day2_dir: str
    day1: Expected
    day2: Expected


def _write_gz(path: str, header: list[str], rows) -> int:
    n = 0
    with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, compresslevel=1,
            mtime=0) as gz, io.TextIOWrapper(gz, encoding="utf-8",
                                             newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for r in rows:
            w.writerow(r)
            n += 1
    return n


def _money(cents: int) -> str:
    return f"${cents // 100:,}.{cents % 100:02d}"


class _State:
    """Ground truth the generator tracks while writing batches."""

    def __init__(self) -> None:
        self.good: dict[int, tuple[int, int]] = {}  # id -> (host, city)
        self.weeks: set[tuple[int, dt.date]] = set()
        self.review_ids: set[int] = set()
        self.dates: set[dt.date] = set()
        self.id_map_rows = 0

    def tables(self) -> dict[str, int]:
        return {
            "dim_listings": len(self.good),
            "dim_listing_id_map": self.id_map_rows,
            "dim_hosts": len({h for h, _ in self.good.values()}),
            "dim_dates": len(self.dates),
            "fact_calendar": len(self.weeks),
            "fact_reviews": len(self.review_ids),
        }


def _listing_row(rng: random.Random, raw_id: str, host: int, city: int,
                 price_cents: int) -> list:
    country, name, loc = CITIES[city]
    return [raw_id, f"Flat {raw_id} in {name}", host, f"Host{host}", loc,
            f"{name}-{rng.randrange(40):02d}",
            f"{40 + rng.random():.6f}", f"{2 + rng.random():.6f}",
            rng.choice(["Entire home/apt", "Private room"]),
            _money(price_cents), rng.randrange(200),
            f"{rng.uniform(3, 5):.2f}", 1 + rng.randrange(5)]


def _batch(out_dir: str, stamp: str, rng: random.Random, st: _State,
           listings: list[tuple[int, str, int, int, int]],
           cal_days: list[dt.date], reviews: list[tuple]) -> Expected:
    """Write one batch. ``listings`` rows are (city, raw_id, host,
    price_cents, id_or_-1); ``reviews`` rows are (city, listing_id,
    review_id, date, reviewer_id)."""
    os.makedirs(out_dir, exist_ok=True)
    in_rows = rejects = 0
    for ci, (country, name, _) in enumerate(CITIES):
        base = os.path.join(out_dir, f"{country}_{name}_{{}}_{stamp}.csv.gz")
        mine = [r for r in listings if r[0] == ci]
        in_rows += _write_gz(base.format("listings"), LISTING_COLS,
                             (_listing_row(rng, raw, host, ci, cents)
                              for _, raw, host, cents, _ in mine))
        rejects += sum(1 for r in mine if r[4] < 0)
        for _, _, host, _, lid in mine:
            if lid >= 0:
                st.good[lid] = (host, ci)
        st.id_map_rows += len(mine)
        city_ids = sorted(lid for lid, (_, c) in st.good.items() if c == ci)

        def cal_rows():
            for lid in city_ids:
                cents = 5_000 + lid % 40_000
                for d in cal_days:
                    yield [lid, d.isoformat(),
                           "t" if rng.random() < 0.6 else "f",
                           _money(cents + 100 * (d.day % 7))]
        in_rows += _write_gz(base.format("calendar"), CALENDAR_COLS,
                             cal_rows())
        st.weeks.update((lid, tsql_week_start(d))
                        for lid in city_ids for d in cal_days)
        mine_rev = [r for r in reviews if r[0] == ci]
        in_rows += _write_gz(
            base.format("reviews"), REVIEW_COLS,
            ([lid, rid, d.isoformat(), reviewer, f"Guest{reviewer}",
              COMMENTS[rid % len(COMMENTS)]]
             for _, lid, rid, d, reviewer in mine_rev))
        st.review_ids.update(r[2] for r in mine_rev)
    # dim_dates: gap-free min..max of this batch's calendar+review dates,
    # appended to the prior dimension
    batch_dates = cal_days + [r[3] for r in reviews]
    lo, hi = min(batch_dates), max(batch_dates)
    st.dates.update(lo + dt.timedelta(days=i)
                    for i in range((hi - lo).days + 1))
    return Expected(in_rows, rejects, st.tables())


def generate(root: str, seed: int, n_listings: int = 1000) -> Corpus:
    """Write day-1 and day-2 batches under ``root`` and return the
    expected warehouse row counts after each."""
    rng = random.Random(seed)
    st = _State()
    per_city = n_listings // len(CITIES)

    # day 1
    listings, next_id = [], {}
    for ci in range(len(CITIES)):
        for k in range(per_city):
            lid = 1_000_000 * (ci + 1) + k
            host = 100_000 * (ci + 1) + rng.randrange(per_city // 2 or 1)
            bad = (ci * per_city + k) % BAD_EVERY == BAD_EVERY - 1
            listings.append((ci, f"{lid}x" if bad else str(lid), host,
                             5_000 + rng.randrange(40_000), -1 if bad else lid))
        next_id[ci] = 1_000_000 * (ci + 1) + per_city
    cal1 = [DAY1 + dt.timedelta(days=i) for i in range(DAYS1)]
    good1 = [r for r in listings if r[4] >= 0]
    reviews, rid = [], 1
    span = (DAY1 - REVIEW_START).days
    for ci, _, _, _, lid in good1:
        for _ in range(rng.randrange(2 * REVIEWS_PER + 1)):
            reviews.append((ci, lid, rid,
                            REVIEW_START + dt.timedelta(
                                days=rng.randrange(span)),
                            rng.randrange(50_000)))
            rid += 1
    day1_dir = os.path.join(root, "day1")
    e1 = _batch(day1_dir, DAY1.isoformat(), rng, st, listings, cal1, reviews)

    # day 2: ~10% changed, ~5% new listings; new dates; new + re-sent reviews
    changed = [(ci, raw, host, cents + 1_000, lid)
               for ci, raw, host, cents, lid in good1
               if rng.random() < 0.10]
    new = []
    for ci in range(len(CITIES)):
        for j in range(max(1, per_city // 20)):
            lid = next_id[ci]
            next_id[ci] += 1
            bad = ci == 0 and j == 0
            new.append((ci, f"{lid}x" if bad else str(lid),
                        100_000 * (ci + 1) + rng.randrange(per_city),
                        5_000 + rng.randrange(40_000), -1 if bad else lid))
    start2 = DAY1 + dt.timedelta(days=DAYS1)
    cal2 = [start2 + dt.timedelta(days=i) for i in range(DAYS2)]
    resent = [r for r in reviews if rng.random() < 0.05]
    reviews2 = list(resent)
    for ci, _, _, _, lid in changed + [r for r in new if r[4] >= 0]:
        for _ in range(1 + rng.randrange(REVIEWS_PER)):
            reviews2.append((ci, lid, rid,
                             start2 + dt.timedelta(days=rng.randrange(DAYS2)),
                             rng.randrange(50_000)))
            rid += 1
    day2_dir = os.path.join(root, "day2")
    e2 = _batch(day2_dir, start2.isoformat(), rng, st, changed + new, cal2,
                reviews2)
    return Corpus(day1_dir, day2_dir, e1, e2)
