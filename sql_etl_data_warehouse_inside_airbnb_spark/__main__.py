"""CLI: run the full ETL over a directory of Inside-Airbnb-shaped
csv.gz files (the reference's `python main.py` menu option 4), or
profile raw files before loading (menu option 1).

    python -m sql_etl_data_warehouse_inside_airbnb_spark [--incremental] [--reviews-cap] <data_dir> [output_dir]
    python -m sql_etl_data_warehouse_inside_airbnb_spark --profile <file.csv.gz> [...]
    python -m sql_etl_data_warehouse_inside_airbnb_spark --sql [--dialect tsql|spark] <warehouse_dir> "<query>"

``--incremental`` re-loads into an existing warehouse at output_dir
(MERGE listings, append-if-absent reviews/calendar weeks, stable
date_ids) instead of rebuilding, and needs output_dir. Either load
commits all-or-nothing: a failed run leaves the previous warehouse.
``--reviews-cap`` reproduces the reference's >200k-row 80% reviews
sampling cap (off by default — it drops data; see
plans/pipeline.py:cap_reviews). ``--profile`` prints
a per-column EDA profile (nulls, distincts, min/max) of each given
raw csv.gz, schema-on-read, one Spark job per file. ``--sql`` queries
a previously built warehouse (the reference's analysis-script menu
entries): its six dim_*/fact_* tables and rejects_listings register as
views, the three vw_* analytical views are created, and the statement runs
in the chosen dialect. The default ``--dialect tsql`` translates the
reference's own analysis surface (SELECT TOP, CONVERT, LEN, ISNULL,
DATEADD/DATEDIFF) through functions/tsql.py — T-SQL NAMES get T-SQL
SEMANTICS there (LEN ignores trailing spaces; 3-arg DATEDIFF counts
boundary crossings; Spark's own 2-arg datediff passes through), and
anything outside the shim's scope raises rather than mistranslating.
Pass ``--dialect spark`` to run untranslated Spark SQL. A warehouse
with a pending commit journal (a load killed mid-commit) is refused with
exit 2 until the next load completes it.
"""

from __future__ import annotations

import sys

from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
    CORE_TABLES,
    run_pipeline,
)
from sql_etl_data_warehouse_inside_airbnb_spark.session import get_spark


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__.strip())
        return 0 if argv else 2

    if argv[0] == "--profile":
        from sql_etl_data_warehouse_inside_airbnb_spark.operators.quality import (
            profile_csv_file,
        )
        paths = argv[1:]
        if not paths:
            print(__doc__.strip())
            return 2
        spark = get_spark("sql-etl-dw-inside-airbnb-profile")
        spark.sparkContext.setLogLevel("ERROR")
        for p in paths:
            print(f"== {p}")
            prof = profile_csv_file(spark, p)
            # one output row per COLUMN — show() would cap at 20 and
            # silently hide the rest of a wide listings file
            prof.show(n=10_000, truncate=32)
        spark.stop()
        return 0

    if argv[0] == "--sql":
        args = argv[1:]
        dialect = "tsql"
        if args and args[0] == "--dialect":
            if len(args) < 2 or args[1] not in ("tsql", "spark"):
                print(__doc__.strip())
                return 2
            dialect = args[1]
            args = args[2:]
        if len(args) != 2:
            print(__doc__.strip())
            return 2
        import os

        from sql_etl_data_warehouse_inside_airbnb_spark.functions.sqlfns import (
            register_sql_functions,
        )
        from sql_etl_data_warehouse_inside_airbnb_spark.functions.tsql import (
            run_tsql,
        )
        from sql_etl_data_warehouse_inside_airbnb_spark.plans.pipeline import (
            register_views,
        )
        from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit
        wh, query = args
        journal = commit.pending(wh)
        if journal:
            # its tables may be mid-swap: some of the batch in, some not
            print(f"{wh}: a load is mid-commit (journal {journal}); the "
                  "next load into it completes the commit", file=sys.stderr)
            return 2
        spark = get_spark("sql-etl-dw-inside-airbnb-sql")
        spark.sparkContext.setLogLevel("ERROR")
        register_sql_functions(spark)
        for name in (*CORE_TABLES, "rejects_listings"):
            spark.read.parquet(os.path.join(wh, name)) \
                .createOrReplaceTempView(name)
        register_views(spark, spark.table("dim_listings"))
        out = (run_tsql(spark, query) if dialect == "tsql"
               else spark.sql(query))
        out.show(n=100, truncate=32)
        spark.stop()
        return 0

    incremental = "--incremental" in argv
    reviews_cap = "--reviews-cap" in argv
    argv = [a for a in argv if a not in ("--incremental", "--reviews-cap")]
    if not argv or (incremental and len(argv) < 2):
        # --incremental reloads the warehouse at output_dir: without one
        # there is nothing to reload
        print(__doc__.strip())
        return 2
    data_dir = argv[0]
    output_dir = argv[1] if len(argv) > 1 else None
    spark = get_spark("sql-etl-dw-inside-airbnb-etl")
    spark.sparkContext.setLogLevel("ERROR")
    tables = run_pipeline(spark, data_dir, output_dir,
                          incremental=incremental, reviews_cap=reviews_cap)
    for name in ("dim_listings", "dim_listing_id_map", "dim_hosts",
                 "dim_dates", "fact_calendar", "fact_reviews"):
        n = (tables.stats[name] if name in tables.stats
             else getattr(tables, name).count())
        print(f"{name}: {n} rows")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
