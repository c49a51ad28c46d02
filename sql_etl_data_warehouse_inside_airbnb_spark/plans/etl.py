"""End-to-end ETL orchestration — the reference's `main.py` menu option 4
(run_complete_etl, SURVEY §3.1) as one pipeline call.

File-discovery contract matches the reference (config/settings.py:30-32):
a data directory holding per-city gzip CSVs named
``{Country}_{City}_{kind}_{date}.csv.gz`` with kind ∈ {listings,
calendar, reviews}.

Discovery reads every CSV header in Python (no Spark job) and cleans
listings with per-file geography. With an output directory each table
is then materialized exactly once: it is written, its row count rides
that write as an ``Observation``, and it is read back with its known
schema, so every dependent reads the written table instead of re-running
its lineage from the raw CSVs — the reference's own order, where the
facts join the LOADED dim_listings (sql/data/04_load_calendar.sql:42).
Each write is submitted to a thread pool as soon as the tables it reads
are written, in waves along the dependency DAG:

  0. (incremental only) the six prior-warehouse reads;
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
import shutil
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
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


_SWAP_JOURNAL = ".__swap_pending"

# the staging DAG's widest wave is the six prior-table reads; no later
# wave has more writes in flight, so no submitted task ever queues
_DAG_WIDTH = len(CORE_TABLES)


def _roll_forward_swaps(output_dir: str) -> None:
    """Complete a swap a previous run started but didn't finish.

    The journal file is written AFTER every staged table is fully
    materialized and removed only after every swap lands — so its
    presence means all ``.__tmp`` dirs are complete and committing is
    always the right move. Rolling FORWARD (not back) keeps the batch
    atomic: without it, a kill mid-loop leaves a MIXED warehouse
    (some tables new, some old), and a retry would replay the batch's
    id-map/reject appends onto already-merged state."""
    journal = os.path.join(output_dir, _SWAP_JOURNAL)
    if not os.path.exists(journal):
        return
    with open(journal) as f:
        names = [ln.strip() for ln in f if ln.strip()]
    for name in names:
        path = os.path.join(output_dir, name)
        tmp, old = path + ".__tmp", path + ".__old"
        if os.path.exists(tmp):
            if os.path.exists(path):
                shutil.rmtree(old, ignore_errors=True)
                os.rename(path, old)
            os.replace(tmp, path)
        elif not os.path.exists(path) and os.path.exists(old):
            # died between the two renames of this table's swap
            os.rename(old, path)
        shutil.rmtree(old, ignore_errors=True)
    os.remove(journal)


def _load_existing(spark: SparkSession, output_dir: str,
                   submit: Callable[..., Future]
                   ) -> dict[str, Future] | None:
    """Prior warehouse state from a previous run's output, or None; each
    table is read by ``submit`` (so the six footer reads overlap) and
    arrives as a future of its DataFrame.

    Recovery preamble: a journaled half-finished swap is rolled
    FORWARD first (_roll_forward_swaps); a ``<name>.__old`` without a
    journal (legacy state) is restored — never treated as an absent
    warehouse, which would silently full-rebuild from whatever
    partial data_dir the retry was given.

    Schemas are inferred from the files here (not taken from this
    module's plans): the prior warehouse may predate this code."""
    _roll_forward_swaps(output_dir)
    for name in CORE_TABLES:
        path = os.path.join(output_dir, name)
        old_path = path + ".__old"
        if os.path.exists(old_path):
            if os.path.exists(path):
                shutil.rmtree(old_path)      # died after swap: stale
            else:
                os.rename(old_path, path)    # died mid-swap: restore
        if not os.path.exists(path):
            return None
    return {name: submit(_read_prior, spark, output_dir, name)
            for name in CORE_TABLES}


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

# empty placeholders carry the REAL table schemas: a 2-column stand-in,
# once persisted, poisons the next incremental run's unionByName and
# breaks queries against the documented columns
_EMPTY = {
    "dim_dates": "date_id int, full_date date, year int, quarter int, "
                 "month int, month_name string, day int, day_name string, "
                 "is_weekend boolean",
    "fact_calendar": "listing_id bigint, week_start_date date, "
                     "week_end_date date, avg_price_per_week decimal(10,2), "
                     "available_days_per_week int",
    "fact_reviews": "review_id bigint, listing_id bigint, date_id int, "
                    "reviewer_id bigint, reviewer_name string, "
                    "comments string, review_date date",
}


def run_pipeline(spark: SparkSession, data_dir: str,
                 output_dir: str | None = None,
                 incremental: bool = False,
                 reviews_cap: bool = False) -> WarehouseTables:
    """Full ETL. With ``output_dir``, each warehouse table is persisted
    as Parquet (the typed layer) and ``stats`` holds each table's row
    count; otherwise everything stays lazy.

    ``incremental=True`` loads the prior warehouse from ``output_dir``
    (if present) and applies the reference's re-load semantics instead
    of rebuilding: listings MERGE-upsert into the existing dim (J8,
    source wins), id-map rows append, reviews append-if-absent (J4),
    calendar weeks insert-if-absent on the (listing_id, week_start)
    PK, dim_dates extends gap-free with STABLE date_ids (existing ids
    never renumber — IDENTITY semantics), dim_hosts rebuilds from the
    merged dim (the reference's TRUNCATE + reload)."""
    files = discover_files(data_dir)
    if not files["listings"]:
        raise FileNotFoundError(
            f"no '*_listings_*.csv.gz' files under {data_dir}")

    if output_dir:
        # a journaled half-swap from a crashed run is completed FIRST
        # on every persisted run — including non-incremental rebuilds,
        # where a surviving stale journal + .__tmp dirs would clobber
        # the fresh rebuild on the NEXT incremental call
        _roll_forward_swaps(output_dir)

    # Leaving this block waits for every submitted write, so a failed
    # one propagates only once no thread still writes under output_dir.
    with ThreadPoolExecutor(max_workers=_DAG_WIDTH) as pool:
        def submit(fn, *args) -> Future:
            # the worker runs its jobs in this thread's job group
            return pool.submit(inheritable_thread_target(spark)(fn), *args)

        prior_reads = (_load_existing(spark, output_dir, submit)
                       if incremental and output_dir else None)
        # An incremental load's plans READ the prior tables it replaces,
        # so every table is staged next to the live one and swapped in
        # only once all are staged; a full load writes in place.
        suffix = ".__tmp" if prior_reads is not None else ""
        staged: dict[str, Future] = {}

        def _stage(name: str, df: DataFrame) -> None:
            """Submit table ``name``'s single write; its future yields
            the table read back, so dependents read the written table
            rather than re-run ``df``."""
            if not output_dir:
                staged[name] = _done((df, None, None))
                return
            path = os.path.join(output_dir, name) + suffix
            if suffix:
                shutil.rmtree(path, ignore_errors=True)
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

        prior = ({name: fut.result() for name, fut in prior_reads.items()}
                 if prior_reads is not None else None)

        if output_dir:
            # S8 reject capture: raw rows whose id can't type, preserved
            # verbatim + reason (the reference's
            # logs/listings_skipped_rows.csv) — a cumulative audit log of
            # per-load SLICES, one hive subdirectory per load keyed by a
            # DETERMINISTIC batch id (md5 of the input file names PLUS
            # each file's size and mtime): a crash retry that reuses the
            # same files IN PLACE overwrites its own slice instead of
            # appending a duplicate — a retry that re-downloads
            # byte-identical inputs gets a fresh mtime and therefore a
            # new slice (an append, surfaced by the per-run stat;
            # content-hashing the files would close that at the cost of
            # re-reading every input). Each load writes only its delta
            # (never a rewrite of the whole log). The size/mtime
            # fingerprint keeps two genuinely different loads that ship
            # identical basenames (undated feeds like
            # ``listings.csv.gz``) from colliding on one slice and
            # silently overwriting the earlier load's rejects. The STAT
            # reports THIS run's rejects, so per-run monitoring doesn't
            # over-report on day 2+.
            _, rejects = split_quarantine(cleaned, "id")
            rejects = rejects.withColumn("reject_reason",
                                         F.lit("listing_id_cast_failed"))
            batch_id = hashlib.md5("\n".join(
                "{}\x00{}\x00{}".format(os.path.basename(p),
                                        os.stat(p).st_size,
                                        os.stat(p).st_mtime_ns)
                for k in sorted(files)
                for p, _, _ in files[k]).encode()).hexdigest()[:16]
            slice_dir = os.path.join(output_dir, "rejects_listings",
                                     f"load_batch={batch_id}")
            staged["rejects_listings"] = submit(_write_counted, rejects,
                                                slice_dir)

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

        date_sources = [d for d in (calendar_raw, reviews_raw)
                        if d is not None]
        if date_sources:
            dim_dates = build_dim_dates(*date_sources)
            if prior:
                # IDENTITY semantics: existing date_ids are frozen; only
                # dates the prior dimension lacks get new ids, numbered
                # past its max
                prior_dates = prior["dim_dates"]
                fresh = (dim_dates.drop("date_id")
                         .join(prior_dates.select("full_date"), "full_date",
                               "left_anti"))
                max_id = F.broadcast(
                    prior_dates.agg(F.max("date_id").alias("__max_id")))
                fresh = (fresh.crossJoin(max_id)
                         .withColumn("date_id",
                                     (F.row_number().over(
                                         Window.orderBy("full_date"))
                                      + F.coalesce("__max_id", F.lit(0)))
                                     .cast("int"))
                         .drop("__max_id"))
                dim_dates = prior_dates.unionByName(
                    fresh.select(*prior_dates.columns))
        elif prior:
            # no date-bearing files this run: KEEP the accumulated date
            # dimension (overwriting it with an empty frame would orphan
            # every date_id FK in fact_reviews)
            dim_dates = prior["dim_dates"]
        else:
            dim_dates = spark.createDataFrame([], _EMPTY["dim_dates"])
        _stage("dim_dates", dim_dates)

        # builds the MERGE plan, whose broadcast gate runs eager jobs
        # here while dim_dates and the rejects slice write
        merge_res, id_map = build_dim_listings(
            cleaned, existing=prior["dim_listings"] if prior else None,
            count_actions=False)
        # post-load enrichment (the reference's pretreatment UPDATEs):
        # US-state -> country fix + is_local_host, recomputed every run
        _stage("dim_listings", pretreat_listings(merge_res.df))
        if prior:
            # the id map is a per-LOAD audit trail (reference inserts one
            # row per source row every batch, data_loader.py:292-300), so
            # a re-sent listing in a new batch appends by design — unlike
            # the PK-keyed facts, which dedupe. Same-batch retries are
            # handled upstream: the journaled all-or-nothing swap
            # (_roll_forward_swaps) means a crashed run either committed
            # the WHOLE batch (journal present → rolled forward) or none
            # of it — a retry never replays appends onto a half-merged
            # warehouse. Deliberately re-running a committed batch is a
            # new load and appends again, the reference's own semantics.
            id_map = prior["dim_listing_id_map"].unionByName(id_map)
        _stage("dim_listing_id_map", id_map)

        dim_listings = _written("dim_listings")
        _stage("dim_hosts", pretreat_hosts(build_dim_hosts(dim_listings)))
        if calendar_raw is not None:
            fact_calendar = build_fact_calendar(calendar_raw, dim_listings)
            if prior:
                # insert-if-absent on the (listing_id, week_start_date)
                # PK — T-SQL MERGE-free re-load: existing weeks keep
                # their rows
                fact_calendar = prior["fact_calendar"].unionByName(
                    fact_calendar.join(
                        prior["fact_calendar"]
                        .select("listing_id", "week_start_date"),
                        ["listing_id", "week_start_date"], "left_anti"))
        elif prior:
            fact_calendar = prior["fact_calendar"]
        else:
            fact_calendar = spark.createDataFrame([],
                                                  _EMPTY["fact_calendar"])
        _stage("fact_calendar", fact_calendar)

        if reviews_raw is not None:
            # language detection runs on this batch's new reviews only;
            # prior rows keep their stored review_lang
            fact_reviews = add_review_lang(build_fact_reviews(
                reviews_raw, dim_listings, _written("dim_dates"),
                existing=prior["fact_reviews"] if prior else None))
            if prior:
                fact_reviews = prior["fact_reviews"].unionByName(
                    fact_reviews)
        elif prior:
            fact_reviews = prior["fact_reviews"]
        else:
            fact_reviews = add_review_lang(
                spark.createDataFrame([], _EMPTY["fact_reviews"]))
        _stage("fact_reviews", fact_reviews)

        results = {name: fut.result() for name, fut in staged.items()}

    stats: dict[str, int] = {}
    if output_dir:
        stats = {name: results[name][1] for name in CORE_TABLES}
        stats["rejects_listings"] = results["rejects_listings"]
    tables = WarehouseTables(*(results[name][0] for name in CORE_TABLES),
                             stats=stats)
    if suffix:
        # journal AFTER all staging is materialized, BEFORE the
        # first swap: its presence promises every .__tmp is
        # complete, so recovery always rolls FORWARD (atomic
        # batch commit — see _roll_forward_swaps). Written
        # atomically (temp + fsync + rename): a torn journal
        # would roll forward only a PREFIX of the batch — the
        # exact mixed state the mechanism exists to prevent.
        journal = os.path.join(output_dir, _SWAP_JOURNAL)
        with open(journal + ".tmp", "w") as jf:
            jf.write("\n".join(CORE_TABLES) + "\n")
            jf.flush()
            os.fsync(jf.fileno())
        os.replace(journal + ".tmp", journal)
        for name in CORE_TABLES:
            # crash-safe swap: rename the live table aside, move
            # the staged one in, then drop the backup. A kill in
            # the window leaves <name>.__old, which _load_existing
            # restores — never an rmtree'd hole that would silently
            # trigger a full rebuild over a partial data_dir.
            final_path = os.path.join(output_dir, name)
            old_path = final_path + ".__old"
            shutil.rmtree(old_path, ignore_errors=True)
            if os.path.exists(final_path):
                os.rename(final_path, old_path)
            os.replace(final_path + suffix, final_path)
            shutil.rmtree(old_path, ignore_errors=True)
            # the staged read-back pointed at the moved .__tmp dir
            setattr(tables, name, _read_back(spark, final_path,
                                             results[name][2]))
        # all core swaps landed: the batch is committed
        os.remove(journal)
    # the whole star schema is the SQL surface, not just the views
    for name in CORE_TABLES:
        getattr(tables, name).createOrReplaceTempView(name)
    register_views(spark, tables.dim_listings)
    return tables
