"""Scans and sinks.

Maps the reference's file plumbing (SURVEY §2.1) onto Spark readers:

- S1/S2: gzip CSV scan, schema-on-read with **no inference** — all
  columns land as strings (modules/data_analyzer.py:136-139; the
  load-bearing design decision per modules/data_loader.py:1-16), typed
  later via ``try_cast`` projections.
- S3/S7: pipe-delimited CSV (cleaned layer / BULK INSERT equivalent,
  modules/data_loader.py:133,425; sql/data/04_load_calendar.sql:12-18).
- S8: the client-side batched INSERT with reject-file capture becomes a
  declarative quarantine split: rows whose key fails ``try_cast`` go to
  a quarantine DataFrame instead of ``logs/listings_skipped_rows.csv``
  (modules/data_loader.py:225-227).
- S9: pipe-delimited gzip CSV sink (modules/data_cleaner.py:146); the
  internal typed layer is Parquet.
- S12 (gunzip-to-temp-file) is unnecessary: Spark reads gzip natively.

Scale note: gzip CSV is not splittable — one file = one task. At 100 TB
the raw layer should be many files (Inside-Airbnb ships per-city files,
which parallelizes naturally); the first job is the Parquet conversion
and everything downstream scans splittable columnar files with pushdown.
"""

from __future__ import annotations

import csv
import gzip

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit


def _all_string_schema(columns: list[str]) -> StructType:
    return StructType([StructField(c, StringType(), True) for c in columns])


def csv_header(path: str) -> list[str]:
    """The column names ``read_csv_raw(spark, path)`` infers from the
    header row, read in Python from the file's first CSV record, so a
    caller passing them as ``columns=`` runs no Spark job for the header.

    Spark's header rules (CSVUtils.makeSafeHeader, checked on pyspark
    4.1.2): a leading UTF-8 BOM is stripped, an empty name becomes
    ``_c{i}``, a name repeated case-insensitively becomes ``{name}{i}``
    at each occurrence, and a zero-byte file has no columns. Quoting
    follows ``read_csv_raw``: RFC-4180 doubled quotes, quoted commas and
    newlines inside a name."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8-sig", errors="replace",
                newline="") as f:
        row = next((r for r in csv.reader(f) if r), [])
    names = [c.lower() for c in row if c]
    dups = {c for c in names if names.count(c) > 1}
    return [f"_c{i}" if not c else f"{c}{i}" if c.lower() in dups else c
            for i, c in enumerate(row)]


def read_csv_raw(spark: SparkSession, path: str,
                 columns: list[str] | None = None, sep: str = ",") -> DataFrame:
    """Schema-on-read CSV scan: header row, NO type inference — every
    column is a string (S1/S2). gzip is auto-detected by extension."""
    reader = (spark.read.option("header", True)
              .option("sep", sep)
              .option("multiLine", True)
              .option("escape", '"'))
    if columns is not None:
        return reader.schema(_all_string_schema(columns)).csv(path)
    return reader.option("inferSchema", False).csv(path)


def read_pipe_csv(spark: SparkSession, path: str,
                  columns: list[str] | None = None) -> DataFrame:
    """Cleaned-layer scan: pipe-delimited gzip CSV (S3/S7)."""
    return read_csv_raw(spark, path, columns=columns, sep="|")


def write_pipe_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Cleaned-layer sink: pipe-delimited gzip CSV (S9).

    ``escape='"'`` makes the writer emit RFC-4180 doubled quotes
    (an embedded quote becomes two quote chars) instead of Spark's
    default backslash-escaping — the scans in this module (and the
    upstream Inside-Airbnb corpus itself) are RFC-style, and a
    mismatched pair silently corrupts any value with an embedded
    quote: the reader treats the backslash as data and the quote as
    a delimiter, shearing the row (caught by the s16 roundtrip
    probe)."""
    (df.write.mode(mode)
     .option("header", True)
     .option("sep", "|")
     .option("escape", '"')
     # the writer TRIMS field whitespace by default — a whitespace-only
     # value silently collapses to empty (then null on read-back); the
     # cleaned layer must preserve values byte-for-byte
     .option("ignoreLeadingWhiteSpace", False)
     .option("ignoreTrailingWhiteSpace", False)
     .option("compression", "gzip")
     .csv(path))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    ``events.parquet``'s ``ts`` encoding varies across testdata
    regenerations (INT64 TIMESTAMP(NANOS) in some drops, TIMESTAMP_NTZ
    micros in others); :func:`normalize_event_time` handles both and
    documents the encoding details. The nanosAsLong conf only matters
    for the nanos drops, where Spark's reader would otherwise reject
    the file.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_event_time(df)


def normalize_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Coerce the event-time column to session-timezone TIMESTAMP.

    Two upstream encodings exist: INT64 nanos (read as bigint under
    ``nanosAsLong``) and TIMESTAMP(MICROS) with no timezone (Spark
    TIMESTAMP_NTZ). Watermarks and window functions require TIMESTAMP
    (LTZ); with the session pinned to UTC (session.py) the NTZ→LTZ
    cast is a pure type relabel of the same microsecond value.
    """
    for f_ in df.schema.fields:
        if f_.name != ts_col:
            continue
        kind = f_.dataType.simpleString()
        if kind == "bigint":
            # FLOOR division, integer-exact: `div` truncates toward
            # zero, shifting pre-epoch nano timestamps +1us; and `/`
            # promotes to DOUBLE where ulp(1.7e18) = 256ns. Subtract
            # pmod (always non-negative) so the quotient is exact and
            # trunc == floor.
            from sql_etl_data_warehouse_inside_airbnb_spark.functions.numeric import (
                exact_floordiv_sql,
            )
            df = df.withColumn(
                ts_col, F.timestamp_micros(F.expr(
                    exact_floordiv_sql(ts_col, 1000))))
        elif kind == "timestamp_ntz":
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a low-parallelism scan across the session's cores before
    per-row-heavy work (tokenize/explode/fingerprint passes).

    A single-row-group parquet file is ONE unsplittable scan task
    (row groups are the parquet split unit), so everything mapped over
    it runs on one core no matter how many the session has — the
    optimization guide's "input skew" case (§2.5). This helper
    hash-repartitions on ``keys`` (deterministic under task retry —
    round-robin repartition would also pay a local pre-sort,
    SPARK-23207) ONLY when the plan's current parallelism is below the
    session default. Scale-adaptive by construction: a 100 TB table
    scans as thousands of splits, the condition is false, and the
    shuffle never happens — this only fires where the input is too
    small for the shuffle to matter.

    CALLER CONTRACT (r13 verdict item 3): pass ONLY raw scans or
    trivially-filtered/projected frames. The guard below calls
    ``df.rdd.getNumPartitions()``, which compiles the physical plan at
    build time (``queryExecution.toRdd`` — nothing executes, but plan
    compile leaves the bench's timed region); on a scan that compile
    is negligible, on a DEEP frame it is exactly the
    moved-out-of-the-timed-region effect the r13 simhash correction
    classified as timer-gaming. If a deep frame ever needs spreading,
    repartition it explicitly at the call site instead.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def split_quarantine(df: DataFrame, key: str,
                     target_type: str = "bigint") -> tuple[DataFrame, DataFrame]:
    """Declarative reject-row capture (S8): returns ``(good, quarantine)``
    where ``good`` rows have a castable non-null ``key`` and
    ``quarantine`` preserves the raw rows verbatim (replaces the
    reference's per-row fallback + reject csv, data_loader.py:203-228).

    Single-pass friendly: both branches share the scan; Catalyst pushes
    the complementary predicates down to it.
    """
    # try_cast(...).isNotNull() is a non-nullable boolean (NULL keys
    # cast to NULL -> isNotNull false), so good/quarantine are exact
    # complements — no extra isNull disjunct needed
    castable = F.col(key).try_cast(target_type).isNotNull()
    return df.filter(castable), df.filter(~castable)


def write_bucketed(df, table_name: str, keys: list[str],
                   n_buckets: int = 32,
                   sort_cols: list[str] | None = None,
                   mode: str = "overwrite",
                   overwrite_location: bool = False,
                   location: str | None = None) -> None:
    """Persist as a bucketed (+optionally sorted) catalog table.

    Co-location contract: two tables bucketed by the same keys into the
    same bucket count join WITHOUT a shuffle — at 100 TB that turns the
    recurring fact⋈fact join from the dominant exchange into a local
    zip of pre-sorted buckets. Buckets only apply via saveAsTable (the
    bucket metadata lives in the catalog, not the parquet files).

    ``overwrite_location=True`` also reclaims an ORPHANED warehouse
    directory: a fresh session's metastore does not know tables a
    previous session left behind, and saveAsTable refuses to reuse
    the location — this drops whatever the catalog knows AND removes
    the stale directory first (the saveAsTable contract lives here,
    so every bucketed-table writer gets the idempotence fix, not just
    the probe that discovered it).

    ``location`` pins the table data to an ABSOLUTE path (an external
    bucketed table): the default warehouse dir is resolved relative
    to the session's cwd, which a caller embedded in someone else's
    process (the correctness driver) does not control and may not be
    able to write.
    """
    if overwrite_location:
        import os
        import shutil
        from urllib.parse import unquote, urlparse

        spark = df.sparkSession
        if location is not None:
            data_dir = location
        else:
            wh = spark.conf.get("spark.sql.warehouse.dir",
                                "spark-warehouse")
            # the conf value is a URI — decode it (a %20 path would
            # make the rmtree silently no-op and resurrect the
            # collision)
            parsed = urlparse(wh)
            wh_path = unquote(parsed.path) if parsed.scheme else wh
            data_dir = os.path.join(wh_path, table_name)
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        shutil.rmtree(data_dir, ignore_errors=True)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *keys)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if location is not None:
        w = w.option("path", location)
    w.saveAsTable(table_name)


def analyze_tables(spark: SparkSession, names: list[str],
                   columns: dict[str, list[str]] | None = None) -> None:
    """Populate catalog statistics (``ANALYZE TABLE COMPUTE
    STATISTICS``, plus per-column NDV/min/max/null histograms for the
    listed columns) — the input the cost-based optimizer needs to
    reorder multi-way joins and size exchanges by ROW COUNT instead
    of raw file bytes.

    Why it matters at 100 TB: without stats Spark only knows parquet
    file sizes, so a heavily-filtered fact still looks huge (the
    filter's selectivity is invisible) and an 8-table star join is
    planned in the user's syntactic order. With table+column stats
    and ``spark.sql.cbo.enabled`` / ``spark.sql.cbo.joinReorder.
    enabled``, Catalyst estimates filtered cardinalities and
    re-parenthesizes the join tree smallest-first. Stats are a
    MAINTENANCE artifact (recompute after large loads — the same
    cadence as compaction); stale stats mislead the optimizer, which
    is why loaders here pair this with the write, not the query.
    Column list should cover join keys and frequently-filtered
    columns; NDV is the join-cardinality input."""
    for t in names:
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        cols = (columns or {}).get(t)
        if cols:
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS "
                      f"FOR COLUMNS {', '.join(cols)}")


def write_format(df: DataFrame, path: str, fmt: str = "parquet",
                 mode: str = "overwrite",
                 partition_by: list[str] | None = None,
                 **options) -> None:
    """Generic columnar/semi-structured sink (parquet | orc | json |
    csv). ``partition_by`` lays the files out hive-style
    (``col=value/``) so downstream equality/IN filters on those
    columns prune whole directories before any IO — at 100 TB the
    partition column IS the primary index. Low-cardinality keys only:
    a high-cardinality partition column degenerates into one tiny
    file per value (the small-files problem)."""
    w = df.write.mode(mode).format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


def read_format(spark: SparkSession, path: str, fmt: str = "parquet",
                schema: StructType | str | None = None,
                **options) -> DataFrame:
    """Generic source for the same formats. Pass ``schema`` for JSON/CSV
    round-trips: schema-on-read inference is a full extra pass over the
    data AND widens types (JSON has no date/decimal), so typed layers
    always read with the explicit schema."""
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def compact_parquet(spark: SparkSession, path: str,
                    target_file_mb: int = 128,
                    partition_cols: list[str] | None = None) -> dict:
    """Rewrite a parquet directory into ~``target_file_mb`` files.

    The small-files problem is the top operational failure mode of a
    long-running 100 TB lake: streaming foreachBatch sinks and
    per-batch MERGE rewrites leave thousands of KB-sized files, and
    scan throughput collapses under per-file open/footer overhead
    long before data volume matters. Compaction = read, coalesce to
    ceil(bytes / target), rewrite as one ``sources/commit.py`` batch,
    so readers never observe a half-written table.

    ``partition_cols`` preserves hive partitioning: rows are
    repartitioned on (partition key, salt) so each hive partition's
    rewrite parallelizes across ~bytes/target tasks instead of
    serializing into one, and ``maxRecordsPerFile`` (derived from the
    measured average row size) caps every output file at ~target_mb
    even for skewed hot partitions — a global coalesce across
    partitions would interleave partition values into every task and
    defeat partition pruning's file-level locality.

    Returns {"files_before", "files_after", "bytes"} for the caller's
    maintenance log. On real object storage this job is IO-bound and
    embarrassingly parallel; schedule it per-partition so one hot
    partition doesn't serialize the sweep. (Lakehouse formats run the
    same rewrite as OPTIMIZE/rewrite_data_files; this is the
    engine-neutral form over plain parquet.)
    """
    import math
    import os

    def _stats(p):
        files, total = 0, 0
        for root, _dirs, names in os.walk(p):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    total += os.path.getsize(os.path.join(root, n))
        return files, total

    with commit.Batch(path) as batch:
        files_before, total_bytes = _stats(path)
        n_files = max(1, math.ceil(total_bytes / (target_file_mb << 20)))
        df = spark.read.parquet(path)
        tmp = batch.stage()
        if partition_cols:
            # repartition on the partition key ALONE would hash every row
            # of one hive partition into a single task and emit exactly
            # one file per value regardless of size. A salt spreads each
            # value over ~its-bytes/target tasks (average-based), and
            # maxRecordsPerFile (from measured avg row size) hard-caps
            # file size even when one partition is far above average.
            # one aggregate pass yields both stats (row count + distinct
            # partition values) instead of two full-table actions
            stats_row = (df.groupBy(*partition_cols).count()
                         .agg(F.sum("count").alias("__rows"),
                              F.count("*").alias("__vals")).first())
            n_rows = stats_row["__rows"] or 0
            n_values = max(1, stats_row["__vals"])
            n_salt = max(1, math.ceil(total_bytes / n_values
                                      / (target_file_mb << 20)))
            rpf = max(1, int(n_rows * (target_file_mb << 20)
                             / max(total_bytes, 1)))
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                          F.lit(n_salt))
            (df.repartition(max(n_files, n_values), *partition_cols, salt)
             .write.mode("overwrite")
             .option("maxRecordsPerFile", rpf)
             .partitionBy(*partition_cols)
             .parquet(tmp))
        else:
            df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    files_after, _ = _stats(path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total_bytes}


def erase_keys(spark: SparkSession, path: str, key_col: str,
               keys: DataFrame,
               partition_cols: list[str] | None = None) -> dict:
    """Key-scoped deletion over a parquet table — the right-to-be-
    forgotten maintenance job (GDPR Art. 17 / CCPA): remove every row
    whose ``key_col`` appears in ``keys``, rewriting as little of the
    table as possible.

    Plain parquet has no row-level delete, so erasure is a rewrite —
    the whole game at 100 TB is bounding WHAT gets rewritten:

    - ``partition_cols`` set (the production shape): a semi join of
      the table against the (broadcast — erasure batches are small)
      key set finds the AFFECTED partitions; only those directories
      are rewritten and swapped in as one journaled
      ``sources/commit.py`` batch, and every untouched partition's
      files are left byte-identical (asserted by the s17 probe). Cost
      ∝ data under affected partitions, not table size. Partitioning
      the table by a key bucket (e.g. ``key div N``) makes erasure's
      rewrite set minimal BY LAYOUT — the same locality argument as
      partition pruning for reads.
    - no ``partition_cols``: whole-table anti-join rewrite behind one
      atomic swap (small tables / the fallback).

    A fully erased partition (or table) is removed outright: hive has
    no directory for an empty partition, and an empty parquet dir
    cannot be re-read.

    The anti join broadcasts the key set; nothing shuffles the table.
    Returns {"rows_erased", "partitions_rewritten"} for the erasure
    audit log the regulation requires. Lakehouse formats express the
    same job as DELETE WHERE + VACUUM; this is the engine-neutral
    form over plain parquet (files rewritten immediately — no
    tombstoned copies linger, which IS the compliance semantics).
    """
    import os

    # distinct so the before/kept counts can share ONE left-join job
    # (duplicate keys would multiply left-join rows); also shrinks the
    # broadcast. The anti-join semantics never cared about dups.
    kdf = (keys.select(F.col(keys.columns[0]).alias("__erase_key"))
           .distinct())

    def _hive_seg(c, v):
        # Spark/Hadoop partition-path encoding: NULL →
        # __HIVE_DEFAULT_PARTITION__; special chars percent-escaped
        # (Hadoop's escapePathName set — the characters unsafe in a
        # path segment or ambiguous in key=value parsing)
        if v is None:
            return f"{c}=__HIVE_DEFAULT_PARTITION__"
        out = []
        for ch in str(v):
            if ch in '"#%\'*/:=?\\{[]^' or ord(ch) < 0x20 \
                    or ord(ch) == 0x7F:
                out.append(f"%{ord(ch):02X}")
            else:
                out.append(ch)
        return f"{c}={''.join(out)}"

    with commit.Batch(path) as batch:
        df = spark.read.parquet(path)
        if not partition_cols:
            # (total, kept) in ONE left-join job, rows with no key match
            # being kept: the no-op exit must decide before any write
            row = (df.join(F.broadcast(kdf),
                           df[key_col] == kdf["__erase_key"], "left")
                   .agg(F.count(F.lit(1)).alias("__all"),
                        F.coalesce(F.sum(F.isnull("__erase_key")
                                         .cast("bigint")), F.lit(0))
                        .alias("__kept"))
                   .first())
            before, kept_cnt = int(row["__all"]), int(row["__kept"])
            if kept_cnt == before:          # no key present: true no-op,
                return {"rows_erased": 0,   # zero IO, layout untouched
                        "partitions_rewritten": -1}
            tmp = batch.stage()
            if kept_cnt:                    # else the table is removed
                (df.join(F.broadcast(kdf),
                         df[key_col] == kdf["__erase_key"], "left_anti")
                 .write.mode("overwrite").parquet(tmp))
            return {"rows_erased": before - kept_cnt,
                    "partitions_rewritten": -1}

        affected = [tuple(r) for r in
                    (df.join(F.broadcast(kdf),
                             df[key_col] == kdf["__erase_key"], "left_semi")
                     .select(*partition_cols).distinct().collect())]
        parts = []
        for values in affected:
            part = os.path.join(*[_hive_seg(c, v) for c, v in
                                  zip(partition_cols, values)])
            # a value whose on-disk encoding we failed to reproduce must
            # fail the whole call before anything is staged
            if not os.path.isdir(os.path.join(path, part)):
                raise ValueError(
                    f"erase_keys: derived partition path does not exist: "
                    f"{os.path.join(path, part)} (partition value "
                    f"encoding mismatch?)")
            parts.append(part)
        if not parts:
            return {"rows_erased": 0, "partitions_rewritten": 0}

        # ALL affected partitions are rewritten by ONE partitioned-write
        # job into the staged copy, of which only they swap in: a
        # rewrite-per-partition loop would serialize one Spark job per
        # affected partition — measured at sf0.1 that is ~0.85 s of
        # fixed job latency EACH (64 partitions: 54.6 s looped vs one
        # job), and at cluster scale a 1000-partition erasure batch must
        # fan its rewrite across executors, not the driver's loop. A
        # partition with no kept row gets no staged subdir, so the
        # commit removes it.
        part_df = spark.read.option("basePath", path).parquet(
            *[os.path.join(path, p) for p in parts])
        # an affected set that is ONLY null partitions (the
        # __HIVE_DEFAULT_PARTITION__ dir) infers its partition column as
        # VOID, which the partitioned write rejects — re-type it from the
        # full-table read (string if the whole table is null-only; the
        # null dir name is type-independent, so the layout is unchanged)
        tbl_types = dict(df.dtypes)
        for c, dt in part_df.dtypes:
            if c in partition_cols and dt == "void":
                want = tbl_types.get(c, "string")
                part_df = part_df.withColumn(
                    c, F.col(c).cast("string" if want == "void" else want))
        # The before/kept counts ride the staged write itself, as an
        # Observation on the pre-filter join: no separate count job, and
        # no second pass over the affected partitions. left join +
        # filter(isnull) ≡ left_anti because kdf is deduplicated (no row
        # multiplication) and a NULL key matches nothing on either form.
        from pyspark.sql import Observation
        obs = Observation("erase_counts")
        joined = (part_df.join(F.broadcast(kdf),
                               part_df[key_col] == kdf["__erase_key"], "left")
                  .observe(obs,
                           F.count(F.lit(1)).alias("__all"),
                           F.coalesce(F.sum(F.isnull("__erase_key")
                                            .cast("bigint")), F.lit(0))
                           .alias("__kept")))
        (joined.filter(F.isnull("__erase_key")).drop("__erase_key")
         .write.mode("overwrite").partitionBy(*partition_cols)
         .parquet(batch.stage(parts=parts)))
        return {"rows_erased": int(obs.get["__all"]) - int(obs.get["__kept"]),
                "partitions_rewritten": len(affected)}
