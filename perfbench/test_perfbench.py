"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os

import pytest

import corpus
import run
import tables
import warehouse
import workloads
from stats import NAME_RE, UNIT_RE, Ledger, Op, percentile, \
    result_line, tail_percentile

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.mark.parametrize("n, pct", [(9, None), (19, None), (20, 50.0),
                                    (39, 50.0), (40, 75.0), (99, 75.0),
                                    (100, 90.0), (199, 90.0), (200, 95.0),
                                    (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        xs = list(range(1, n + 1))
        assert sum(x > percentile(xs, pct) for x in xs) >= 10


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert [percentile(xs, p) for p in (20, 50, 90, 100)] == [1, 3, 5, 5]


def test_metric_names_and_units_fit_the_charset():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME_RE.fullmatch(m["name"]), m["name"]
        assert UNIT_RE.fullmatch(m["unit"]), m["unit"]
    for bad in ("", "_x", "a b", "x" * 65, "ms:p50"):
        assert not NAME_RE.fullmatch(bad)
    with pytest.raises(ValueError):
        result_line(Ledger(), {"bad name": (1.0, "s")})


def test_benchmark_json_matches_the_harness():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] \
        == list(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_failed_frac_counts_raised_and_checked_ops_once():
    ledger = Ledger()
    ok = ledger.add("query", "a", 0.1)
    ledger.add("query", "b", 0.2, error="raised ValueError")
    checked = ledger.add("query", "c", 0.3)
    ledger.fail(checked, "differs from DuckDB")
    ledger.fail(checked, "second reason")
    assert (ledger.attempted, ledger.failed) == (3, 2)
    assert ledger.failed_frac == pytest.approx(2 / 3)
    assert checked.error == "differs from DuckDB" and ok.error is None
    line = json.loads(result_line(ledger, {"cold_s": (1.5, "s")}))
    assert line == {"correct": False, "attempted": 3, "failed": 2,
                    "metrics": {"cold_s": {"value": 1.5, "unit": "s"}}}
    assert Ledger().failed_frac == 1.0


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


@pytest.mark.parametrize("make", [
    lambda root, seed: corpus.generate(root, seed, n_listings=400),
    lambda root, seed: tables.generate(root, seed, sf=0.001),
    lambda root, seed: warehouse.build(root, seed, n_listings=200),
], ids=["corpus", "tables", "warehouse"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_corpus_expected_counts_follow_the_load_semantics(tmp_path):
    c = corpus.generate(str(tmp_path), 3, n_listings=2000)
    d1, d2 = c.day1.tables, c.day2.tables
    assert c.day1.rejects == 2 and c.day2.rejects == 1
    assert d1["dim_listings"] == 2000 - 2
    assert d2["dim_listing_id_map"] > d1["dim_listing_id_map"]
    for t in ("dim_listings", "dim_dates", "fact_calendar", "fact_reviews"):
        assert d2[t] > d1[t]


def test_tsql_week_starts_sunday_in_the_next_week():
    sunday, monday = dt.date(2025, 6, 8), dt.date(2025, 6, 9)
    assert corpus.tsql_week_start(sunday) == monday
    assert corpus.tsql_week_start(dt.date(2025, 6, 7)) == dt.date(2025, 6, 2)


def test_value_hash_ignores_row_order_and_float_noise():
    rows = [(1, 0.1 + 0.2, "a"), (2, None, "b")]
    assert workloads.value_hash(rows) == workloads.value_hash(
        [(2, None, "b"), (1, 0.3, "a")])
    assert workloads.value_hash(rows) != workloads.value_hash(rows[:1])


def test_sql_pass_count_is_fixed_by_seconds_alone():
    assert workloads.SqlWorkload.pass_count(1) == 6
    assert workloads.SqlWorkload.pass_count(10) == 6
    assert workloads.SqlWorkload.pass_count(60) == 31
    assert workloads.EtlWorkload.pass_count(60) == 2
    assert workloads.RegistryWorkload.pass_count(60) == 5


def test_warm_s_sums_each_operations_median_over_the_warm_passes():
    def one_pass(**seconds):
        return [Op("query", name, s) for name, s in seconds.items()]
    passes = [one_pass(a=9.0, b=9.0),
              one_pass(a=1.0, b=2.0), one_pass(a=5.0, b=2.2),
              one_pass(a=1.2, b=2.4)]
    assert workloads._e2e(passes) == {"cold_s": 18.0,
                                      "warm_s": pytest.approx(1.2 + 2.2)}
