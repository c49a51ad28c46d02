"""Sources & sinks (SURVEY §2.1 S1–S12)."""

from sql_etl_data_warehouse_inside_airbnb_spark.sources.io import (
    csv_header,
    read_csv_raw,
    read_pipe_csv,
    read_table,
    split_quarantine,
    write_pipe_csv,
)

__all__ = [
    "csv_header",
    "read_csv_raw",
    "read_pipe_csv",
    "read_table",
    "split_quarantine",
    "write_pipe_csv",
]
