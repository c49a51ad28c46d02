"""ETL command line: argument errors print the usage and exit 2 before a
Spark session starts."""

from __future__ import annotations

import pytest

from sql_etl_data_warehouse_inside_airbnb_spark import __main__ as cli
from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import run_pipeline


@pytest.mark.parametrize("args", [["--incremental"],
                                  ["--incremental", "data_dir"],
                                  ["--reviews-cap"]])
def test_etl_usage_errors_exit_2_without_spark(args, monkeypatch, capsys):
    def no_session(*_a, **_k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(cli, "get_spark", no_session)
    assert cli.main(args) == 2
    assert "--incremental" in capsys.readouterr().out


def test_incremental_without_output_dir_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="output_dir"):
        run_pipeline(spark, str(tmp_path), incremental=True)
