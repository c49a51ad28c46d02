"""Source/sink format matrix: JSON and ORC round-trips, and hive-style
partition pruning — the layout behavior that IS the primary index at
100 TB (SURVEY §2.1 extensions; the reference only speaks CSV)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
    csv_header,
    read_csv_raw,
    read_format,
    read_table,
    write_format,
)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in
                  df.select(*sorted(df.columns)).collect())


def test_json_round_trip_with_schema(spark, sf_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_json")
    write_format(nation, path, fmt="json")
    back = read_format(spark, path, fmt="json", schema=nation.schema)
    assert back.schema == nation.schema
    assert _rows(back) == _rows(nation)


def test_orc_round_trip(spark, sf_dir, tmp_path):
    cust = read_table(spark, sf_dir, "customer")
    path = str(tmp_path / "customer_orc")
    write_format(cust, path, fmt="orc")
    back = read_format(spark, path, fmt="orc")
    assert back.schema == cust.schema
    assert _rows(back) == _rows(cust)


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    orders = read_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    write_format(orders, path, fmt="parquet",
                 partition_by=["o_orderstatus"])
    back = read_format(spark, path, fmt="parquet")
    hit = back.filter(F.col("o_orderstatus") == "F")
    plan = hit._jdf.queryExecution().executedPlan().toString()
    # the equality filter must become a PartitionFilter (directory
    # pruning), never a post-scan row filter
    assert "PartitionFilters" in plan
    pf_line = [ln for ln in plan.splitlines()
               if "PartitionFilters" in ln][0]
    assert "o_orderstatus" in pf_line
    # and the data content survives the round-trip + pruning
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert hit.count() == want


def test_morton16_hand_checked(spark):
    from sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_io import (
        _morton16,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], ["a", "b"])
    got = [r[0] for r in
           df.select(_morton16(F.col("a"), F.col("b"))).collect()]

    def model(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    want = [model(a, b) for a, b in
            [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)]]
    assert got == want
    assert want[1] == 1 and want[2] == 2   # bit placement
    assert want[4] == (1 << 32) - 1        # full 16+16 interleave


def test_pipe_csv_roundtrip_rfc4180_hazards(spark):
    """Embedded newlines, delimiters, quotes, and backslashes must
    survive the pipe-gzip sink -> multiLine scan pair byte-for-byte.
    Spark's CSV writer default (backslash escaping) disagrees with
    the RFC-style reader and SHEARS rows containing a quote — the
    writer pins escape='"' so both sides speak RFC-4180 (found via
    the s16 probe; real Inside-Airbnb reviews carry all four
    hazards)."""
    import tempfile

    from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
        read_pipe_csv,
        write_pipe_csv,
    )

    vals = ['line1\nline2', 'has "quotes" inside', 'pipe|inside',
            'quote" and\nnewline', 'plain', 'trailing\\backslash\\',
            '""', '|', '\n']
    df = spark.createDataFrame(list(enumerate(vals)),
                               "id bigint, txt string")
    d = tempfile.mkdtemp() + "/rfc"
    write_pipe_csv(df, d)
    back = {int(r.id): r.txt
            for r in read_pipe_csv(spark, d, columns=["id", "txt"])
            .collect()}
    assert back == dict(enumerate(vals))


@pytest.mark.parametrize("name, text, want", [
    # BOM, empty name, case-insensitive duplicate, quoted comma and
    # quoted newline in one header
    ("hazards.csv.gz",
     '\ufeffid,,name,Name,"we,ird","multi\nline"\n1,2,3,4,5,6\n',
     ["id", "_c1", "name2", "Name3", "we,ird", "multi\nline"]),
    ("header_only.csv.gz", "listing_id,date\n", ["listing_id", "date"]),
    ("empty.csv.gz", "", []),
    ("zero_byte.csv", None, []),
])
def test_csv_header_matches_spark_header_inference(spark, tmp_path, name,
                                                   text, want):
    """csv_header is the Python twin of the header row Spark infers:
    the ETL passes it as ``columns=`` to skip a header job per file."""
    path = str(tmp_path / name)
    if text is None:
        open(path, "wb").close()
    else:
        with gzip.open(path, "wt", encoding="utf-8", newline="") as f:
            f.write(text)
    assert read_csv_raw(spark, path).columns == want
    assert csv_header(path) == want
