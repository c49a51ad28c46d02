"""End-to-end ETL orchestration — the reference's `main.py` menu option 4
(run_complete_etl, SURVEY §3.1) as one pipeline call.

File-discovery contract matches the reference (config/settings.py:30-32):
a data directory holding per-city gzip CSVs named
``{Country}_{City}_{kind}_{date}.csv.gz`` with kind ∈ {listings,
calendar, reviews}.

One load path, as in the reference (one set of MERGE and
insert-if-absent scripts for day 1 and day N): every table is its reload
expression against a prior warehouse — the tables read from the output
directory on an incremental load, or an empty warehouse of ``.limit(0)``
frames, which the optimizer folds away (OptimizeLimitZero, then
PropagateEmptyRelation), so a full load plans as the bare new batch.

Discovery reads every CSV header in Python (no Spark job). With an
output directory every load stages each table as a hidden sibling of the
live one and commits the batch (core tables plus this load's rejects
slice) as one ``sources/commit.py`` batch, so a failed load, a rebuild
included, leaves the previous warehouse live and no staged copy. Each
table is materialized exactly once: it is written, its row count rides
that write as an ``Observation``, and it is read back with its known
schema, so every dependent reads the written table — the reference's
own order, where the facts join the LOADED dim_listings
(sql/data/04_load_calendar.sql:42). Each write is submitted to a thread
pool as soon as the tables it reads are written:

  0. (incremental only) the five prior-warehouse reads;
  1. dim_dates (gap-free union of calendar+review dates) and the rejects
     slice, then — once the MERGE plan's broadcast gate has run —
     dim_listings and the id map;
  2. dim_hosts and the fact_calendar weekly rollup once dim_listings is
     written; fact_reviews once dim_listings and dim_dates both are.

The views register last. Worker threads inherit the caller's job group,
and leaving the pool waits for every submitted write, so a failed write
propagates only once none is still in flight. Without an output
directory every table stays a lazy lineage.

Scale shape: per-city raw files parallelize the gzip scans (gzip is not
splittable — file count IS the parallelism); everything downstream is
partitioned Parquet. Facts join dims via broadcast; the only wide
exchanges are the rollup groupBys.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field
from glob import glob

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from sql_etl_data_warehouse_inside_airbnb_spark.plans.pipeline import (
    build_dim_dates,
    build_dim_hosts,
    build_dim_listings,
    build_fact_calendar,
    build_fact_reviews,
    clean_listings,
    register_views,
)
from sql_etl_data_warehouse_inside_airbnb_spark.plans.enrich import (
    add_review_lang,
    pretreat_hosts,
    pretreat_listings,
)
from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit
from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
    csv_header,
    read_csv_raw,
    split_quarantine,
)

FILENAME_RE = re.compile(
    r"^(?P<country>[^_]+)_(?P<city>[^_]+)_(?P<kind>listings|calendar|reviews)_")


@dataclass
class WarehouseTables:
    dim_listings: DataFrame
    dim_listing_id_map: DataFrame
    dim_hosts: DataFrame
    dim_dates: DataFrame
    fact_calendar: DataFrame
    fact_reviews: DataFrame
    stats: dict[str, int] = field(default_factory=dict)


def discover_files(data_dir: str) -> dict[str, list[tuple[str, str, str]]]:
    """→ {kind: [(path, city, country), ...]} per the reference's glob
    patterns + filename-geography parse (data_cleaner.py:24-46)."""
    out: dict[str, list[tuple[str, str, str]]] = {
        "listings": [], "calendar": [], "reviews": []}
    for path in sorted(glob(os.path.join(data_dir, "*.csv.gz"))):
        m = FILENAME_RE.match(os.path.basename(path))
        if m:
            out[m.group("kind")].append(
                (path, m.group("city"), m.group("country")))
    return out


CORE_TABLES = ("dim_listings", "dim_listing_id_map", "dim_hosts",
               "dim_dates", "fact_calendar", "fact_reviews")


# no wave of the staging DAG has more than six reads or writes in flight
# (the five prior reads; at most three wave-1 writes still running when
# the three wave-2 writes start), so no submitted task ever queues
_DAG_WIDTH = len(CORE_TABLES)


def _load_existing(spark: SparkSession, output_dir: str,
                   submit: Callable[..., Future]
                   ) -> dict[str, Future] | None:
    """Prior warehouse state from a previous run's output, or None; each
    table a reload reads is read by ``submit`` (so the footer reads
    overlap) and arrives as a future of its DataFrame. dim_hosts must
    exist but is not read: it rebuilds from the merged dim_listings.

    Schemas are inferred from the files here (not taken from this
    module's plans): the prior warehouse may predate this code."""
    if not all(os.path.exists(os.path.join(output_dir, name))
               for name in CORE_TABLES):
        return None
    return {name: submit(_read_prior, spark, output_dir, name)
            for name in _PRIOR_TABLES}


def _read_prior(spark: SparkSession, output_dir: str,
                name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(output_dir, name))
    # the listings/hosts pretreatment re-derives each run (a pure
    # projection) — strip it so merge schemas align with the
    # freshly-typed sources
    drop = ["part_month", "host_country_corrected"]
    df = df.drop(*[c for c in drop if c in df.columns])
    if name == "fact_reviews" and "review_lang" not in df.columns:
        # a warehouse written before language enrichment; otherwise
        # prior reviews keep their stored language and only the
        # batch's new reviews are detected
        df = add_review_lang(df)
    return df


# The prior state: each table a reload reads (dim_hosts is rebuilt, not
# reloaded), with the columns and types the builders produce — a full
# load persists these, and a narrower stand-in would poison the next
# incremental run's unionByName.
_PRIOR_TABLES = {
    "dim_listings": "listing_id bigint, host_id bigint, host_name string, "
        "host_city string, host_country string, property_country string, "
        "property_city string, property_neighbourhood string, "
        "latitude decimal(9,6), longitude decimal(9,6), price decimal(10,2), "
        "number_of_reviews bigint, review_scores_rating decimal(3,2), "
        "calculated_host_listings_count bigint, is_local_host boolean, "
        "created_date timestamp, updated_date timestamp",
    "dim_listing_id_map": "listing_id bigint, listing_raw_id string, "
                          "part1 string, part2 string, part3 string, "
                          "created_date timestamp",
    "dim_dates": "date_id int, full_date date, year int, quarter int, "
                 "month int, month_name string, day int, day_name string, "
                 "is_weekend boolean",
    "fact_calendar": "listing_id bigint, week_start_date date, "
                     "week_end_date date, avg_price_per_week decimal(10,2), "
                     "available_days_per_week int",
    "fact_reviews": "review_id bigint, listing_id bigint, date_id int, "
                    "reviewer_id bigint, reviewer_name string, "
                    "comments string, review_date date, review_lang string",
}


def _empty_warehouse(spark: SparkSession) -> dict[str, DataFrame]:
    """``.limit(0)`` is what lets the optimizer fold a reload against this
    state down to the new batch's plan; an empty local DataFrame alone
    plans as an RDD scan that folds nothing."""
    return {name: spark.createDataFrame([], ddl).limit(0)
            for name, ddl in _PRIOR_TABLES.items()}


def _extend_dates(prior: DataFrame, dates: DataFrame) -> DataFrame:
    """``prior`` plus the dates of ``dates`` it lacks, with IDENTITY
    semantics: prior date_ids are frozen, and new dates are numbered past
    their max in date order. Both come from windows over the one union —
    a separately planned max(date_id) would run a job even against an
    empty prior."""
    fresh = (dates.join(prior.select("full_date"), "full_date", "left_anti")
             .withColumn("date_id", F.lit(None).cast("int")))
    new_id = (F.coalesce(F.max("date_id").over(Window.partitionBy()),
                         F.lit(0))
              + F.row_number().over(Window.orderBy(
                  F.col("date_id").isNotNull(), "full_date")))
    return (prior.unionByName(fresh)
            .withColumn("date_id", F.coalesce("date_id", new_id.cast("int"))))


def _has_parquet(path: str) -> bool:
    for _root, _dirs, names in os.walk(path):
        if any(n.endswith(".parquet") for n in names):
            return True
    return False


def _write_counted(df: DataFrame, path: str,
                   partition_col: str | None = None) -> int:
    """Overwrite ``path`` with ``df`` as Parquet and return the number of
    rows written, counted by an ``Observation`` on that same write (a
    separate count() would re-run ``df``'s whole lineage).

    An empty dynamic-partitioned write emits no parquet footer, so it
    is rewritten with one empty task to keep the schema readable;
    detecting that from the written files costs nothing when the table
    is non-empty (a pre-write take(1) would run every plan twice)."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)
    if not _has_parquet(path):
        (df.drop(partition_col) if partition_col else df) \
            .repartition(1).write.mode("overwrite").parquet(path)
    return obs.get["rows"]


def _read_back(spark: SparkSession, path: str,
               schema: StructType) -> DataFrame:
    """A table this run wrote, read with the schema it was written with
    (no footer-inference job), without its partition column."""
    return spark.read.schema(schema).parquet(path).drop("part_month")


def _materialize(spark: SparkSession, df: DataFrame, path: str,
                 partition_col: str | None
                 ) -> tuple[DataFrame, int, StructType]:
    """Write one staged table; → (it read back, rows written, schema)."""
    rows = _write_counted(df, path, partition_col)
    return _read_back(spark, path, df.schema), rows, df.schema


def _done(value) -> Future:
    fut: Future = Future()
    fut.set_result(value)
    return fut


# Facts partition by a month derived from their time column, so
# date-range queries prune files instead of scanning the table, while
# partition counts stay bounded (~12/year, not 365/year).
_PART_SOURCE = {"fact_calendar": "week_start_date",
                "fact_reviews": "review_date"}


def run_pipeline(spark: SparkSession, data_dir: str,
                 output_dir: str | None = None,
                 incremental: bool = False,
                 reviews_cap: bool = False) -> WarehouseTables:
    """Full ETL: each table is its reload onto the prior warehouse — the
    one at ``output_dir`` when ``incremental=True`` finds it, else an
    empty one. Listings MERGE-upsert into the prior dim (J8, source
    wins), id-map rows append, reviews append-if-absent (J4), calendar
    weeks insert-if-absent on the (listing_id, week_start) PK, dim_dates
    extends gap-free with STABLE date_ids (IDENTITY semantics), dim_hosts
    rebuilds from the merged dim (the reference's TRUNCATE + reload).

    With ``output_dir`` the batch is staged as Parquet (the typed layer)
    and committed all-or-nothing, and ``stats`` holds each table's row
    count; otherwise everything stays lazy."""
    if incremental and not output_dir:
        raise ValueError("incremental=True reloads the warehouse at "
                         "output_dir, but no output_dir was given")
    files = discover_files(data_dir)
    if not files["listings"]:
        raise FileNotFoundError(
            f"no '*_listings_*.csv.gz' files under {data_dir}")

    # The batch recovers output_dir before anything reads or stages under
    # it. Leaving the pool waits for every submitted write, so the batch
    # commits, or on a failure drops its staged copies, only once no
    # thread still writes under output_dir.
    with (commit.Batch(output_dir) if output_dir else nullcontext()) \
            as batch, ThreadPoolExecutor(max_workers=_DAG_WIDTH) as pool:
        def submit(fn, *args) -> Future:
            # the worker runs its jobs in this thread's job group
            return pool.submit(inheritable_thread_target(spark)(fn), *args)

        reads = (_load_existing(spark, output_dir, submit)
                 if incremental else None)
        staged: dict[str, Future] = {}

        def _stage(name: str, df: DataFrame, target: str | None = None
                   ) -> None:
            """Submit table ``name``'s single write, staged for
            ``output_dir/target``; its future yields the table read back,
            so dependents never re-run ``df``."""
            if not output_dir:
                staged[name] = _done((df, None, None))
                return
            path = batch.stage(target or name)
            part_col = None
            if _PART_SOURCE.get(name) in df.columns:
                part_col = "part_month"
                df = df.withColumn(part_col, F.date_format(
                    F.col(_PART_SOURCE[name]), "yyyy-MM"))
            staged[name] = submit(_materialize, spark, df, path, part_col)

        def _written(name: str) -> DataFrame:
            return staged[name].result()[0]

        def _raw(path: str) -> DataFrame:
            return read_csv_raw(spark, path, columns=csv_header(path))

        cleaned = None
        for path, city, country in files["listings"]:
            c = clean_listings(_raw(path),
                               property_city=city, property_country=country)
            cleaned = c if cleaned is None else cleaned.unionByName(c)

        prior = ({name: fut.result() for name, fut in reads.items()}
                 if reads else _empty_warehouse(spark))

        if output_dir:
            # S8 reject capture: raw rows whose id can't type, preserved
            # verbatim + reason (the reference's
            # logs/listings_skipped_rows.csv) — a cumulative audit log of
            # per-load SLICES, one hive subdirectory per load keyed by a
            # DETERMINISTIC batch id (md5 of the input file names PLUS
            # each file's size and mtime): re-running the same files IN
            # PLACE replaces its own slice — re-downloaded identical
            # inputs get a fresh mtime and so a new slice (content
            # hashes would re-read every input) — while two different
            # loads that ship identical basenames (undated feeds like
            # ``listings.csv.gz``) never collide. The slice commits with
            # the batch, so a failed load leaves none. The STAT reports
            # THIS run's rejects only.
            _, rejects = split_quarantine(cleaned, "id")
            rejects = rejects.withColumn("reject_reason",
                                         F.lit("listing_id_cast_failed"))
            batch_id = hashlib.md5("\n".join(
                "{}\x00{}\x00{}".format(os.path.basename(p),
                                        os.stat(p).st_size,
                                        os.stat(p).st_mtime_ns)
                for k in sorted(files)
                for p, _, _ in files[k]).encode()).hexdigest()[:16]
            _stage("rejects_listings", rejects,
                   f"rejects_listings/load_batch={batch_id}")

        def _union(kind: str) -> DataFrame | None:
            df = None
            for path, _, _ in files[kind]:
                d = _raw(path)
                df = (d if df is None
                      else df.unionByName(d, allowMissingColumns=True))
            return df

        calendar_raw = _union("calendar")
        if reviews_cap and files["reviews"]:
            # reference caps PER FILE (modules/data_loader.py:427-431), so
            # read per file, cap, then union — off by default; see
            # pipeline.cap_reviews for the divergence note
            from sql_etl_data_warehouse_inside_airbnb_spark.plans.pipeline import (
                cap_reviews,
            )
            reviews_raw = None
            for path, _, _ in files["reviews"]:
                d = cap_reviews(_raw(path))
                reviews_raw = (d if reviews_raw is None
                               else reviews_raw.unionByName(
                                   d, allowMissingColumns=True))
        else:
            reviews_raw = _union("reviews")

        # a kind with no files this run keeps its prior table as is
        # (an empty frame would orphan every date_id FK in fact_reviews)
        dim_dates = prior["dim_dates"]
        date_sources = [d for d in (calendar_raw, reviews_raw)
                        if d is not None]
        if date_sources:
            dim_dates = _extend_dates(dim_dates,
                                      build_dim_dates(*date_sources))
        _stage("dim_dates", dim_dates)

        # builds the MERGE plan, whose broadcast gate runs eager jobs
        # here while dim_dates and the rejects slice write
        merge_res, id_map = build_dim_listings(
            cleaned, existing=prior["dim_listings"], count_actions=False)
        # post-load enrichment (the reference's pretreatment UPDATEs):
        # US-state -> country fix + is_local_host, recomputed every run
        _stage("dim_listings", pretreat_listings(merge_res.df))
        # the id map is a per-LOAD audit trail (reference inserts one row
        # per source row every batch, data_loader.py:292-300), so a
        # re-sent listing in a new batch appends by design — unlike the
        # PK-keyed facts, which dedupe. The all-or-nothing commit means a
        # crashed run either committed the WHOLE batch or none of it, so
        # a retry never replays appends onto a half-merged warehouse.
        # Deliberately re-running a committed batch is a new load and
        # appends again, the reference's own semantics.
        _stage("dim_listing_id_map",
               prior["dim_listing_id_map"].unionByName(id_map))

        dim_listings = _written("dim_listings")
        _stage("dim_hosts", pretreat_hosts(build_dim_hosts(dim_listings)))
        fact_calendar = prior["fact_calendar"]
        if calendar_raw is not None:
            # insert-if-absent on the (listing_id, week_start_date) PK —
            # T-SQL MERGE-free re-load: prior weeks keep their rows
            week = ["listing_id", "week_start_date"]
            fact_calendar = fact_calendar.unionByName(
                build_fact_calendar(calendar_raw, dim_listings)
                .join(fact_calendar.select(week), week, "left_anti"))
        _stage("fact_calendar", fact_calendar)

        fact_reviews = prior["fact_reviews"]
        if reviews_raw is not None:
            # language detection runs on this batch's new reviews only;
            # prior rows keep their stored review_lang
            fact_reviews = fact_reviews.unionByName(add_review_lang(
                build_fact_reviews(reviews_raw, dim_listings,
                                   _written("dim_dates"),
                                   existing=fact_reviews)))
        _stage("fact_reviews", fact_reviews)

        results = {name: fut.result() for name, fut in staged.items()}

    stats: dict[str, int] = {}
    frames = {name: results[name][0] for name in CORE_TABLES}
    if output_dir:
        stats = {name: results[name][1]
                 for name in (*CORE_TABLES, "rejects_listings")}
        # the staged read-backs pointed at the moved staging dirs
        frames = {name: _read_back(spark, os.path.join(output_dir, name),
                                   results[name][2])
                  for name in CORE_TABLES}
    tables = WarehouseTables(**frames, stats=stats)
    # the whole star schema is the SQL surface, not just the views
    for name in CORE_TABLES:
        getattr(tables, name).createOrReplaceTempView(name)
    register_views(spark, tables.dim_listings)
    return tables
