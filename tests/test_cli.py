"""ETL command line: argument errors print the usage and exit 2 before a
Spark session starts; ``--sql`` attaches only the warehouse's tables and
refuses a warehouse that is mid-commit."""

from __future__ import annotations

import os
import shutil

import pytest
from killpoints import Killed, kill_points

from sql_etl_data_warehouse_inside_airbnb_spark import __main__ as cli
from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import run_pipeline
from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit


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


def test_sql_attaches_only_the_warehouse_tables(spark, tmp_path, monkeypatch,
                                                capsys):
    """Stray copies of a table beside the live ones, under a staging name
    of an earlier layout or the hidden one a killed load leaves, are not
    tables: ``--sql`` attaches the six core tables and rejects_listings."""
    from test_etl_robustness import _day1

    out = tmp_path / "wh"
    t1 = run_pipeline(spark, str(_day1(tmp_path)), str(out))
    for stray in ("dim_dates.__tmp", commit.staged(out / "dim_dates")):
        shutil.copytree(out / "dim_dates", out / stray)
    monkeypatch.setattr(cli, "get_spark", lambda *_a, **_k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    capsys.readouterr()
    assert cli.main(["--sql", "--dialect", "spark", str(out),
                     "SELECT count(*) AS n FROM dim_dates"]) == 0
    assert f"|{t1.stats['dim_dates']:>3}|" in capsys.readouterr().out


def test_sql_refuses_a_warehouse_with_a_pending_journal(tmp_path, monkeypatch,
                                                        capsys):
    """A load killed after its journal was written leaves the warehouse
    mid-swap: ``--sql`` exits 2 naming the journal, before any Spark
    session starts."""
    out = tmp_path / "wh"
    with pytest.raises(Killed), kill_points(
            tmp_path, when=lambda op, p: p.endswith(".__tmp")):
        with commit.Batch(out) as batch:
            os.makedirs(batch.stage("dim_dates"))

    def no_session(*_a, **_k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(cli, "get_spark", no_session)
    assert cli.main(["--sql", str(out), "SELECT 1"]) == 2
    assert commit.journal(out) in capsys.readouterr().err
