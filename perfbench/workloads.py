"""The three workloads. Each has ``prepare`` (input generation in plain
Python, repeatable), ``attach`` (the set-up steps that need the session,
run once), ``run`` (the timed region), ``check`` (output checks,
untimed) and ``layers`` (per-layer metrics of a traced run).

A workload's timed region is a sequence of passes. ``cold_s`` is the
first pass; ``warm_s`` sums each operation's median over the later ones,
so a stall in one pass moves only the operations it hit. The pass count is
fixed from ``--seconds`` before timing starts, never from measured time,
so a faster program does not get more (and warmer) passes:

- etl_day1_day2: exactly two passes, a full ``run_pipeline`` of the
  day-1 batch into an empty warehouse, then
  ``run_pipeline(..., incremental=True)`` of the day-2 batch.
- warehouse_sql: one pass is every query template once, with seeded
  parameters, sent by one closed-loop client through ``run_tsql`` and
  collected; the first pass runs in name order, later ones in seeded
  orders.
- registry_sf0.01: exactly five passes over the ``SUITE`` headline
  entries, the first (cold) one in name order, later ones in seeded
  orders; the cold one is followed by the maintenance entries, which are
  offline builds and run once; each entry is timed as ``build()`` plus a
  noop write.

Each call is one operation in the ledger.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from decimal import Decimal

import corpus
import tables
import tracing
import warehouse
from stats import Ledger, median, percentile, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passes(wl, seconds: float, one_pass) -> list[list]:
    """Run ``one_pass(index, pass_span) -> [Op]`` ``wl.pass_count(seconds)``
    times; returns the ops of each pass."""
    passes = []
    for i in range(wl.pass_count(seconds)):
        span = wl.tracer.open(f"pass{i}")
        passes.append(one_pass(i, span))
        wl.tracer.close(span)
    return passes


def _warm(passes: list[list]) -> float:
    """Each operation's median over ``passes``, summed."""
    seconds: dict[str, list[float]] = {}
    for p in passes:
        for op in p:
            seconds.setdefault(op.name, []).append(op.seconds)
    return sum(median(s) for s in seconds.values())


def _e2e(passes: list[list]) -> dict[str, float]:
    """cold_s: the first pass; warm_s: _warm of the later passes."""
    return {"cold_s": sum(op.seconds for op in passes[0]),
            "warm_s": _warm(passes[1:])}


def _describe(err: Exception | None) -> str | None:
    return None if err is None else f"raised {type(err).__name__}: {err}"


def _groups_cost(jobs: dict, groups: list[str]) -> list:
    wanted = set(groups)
    return [j for j in jobs.values() if j.group in wanted]


# --------------------------------------------------------------- ETL


class EtlWorkload:
    @staticmethod
    def pass_count(seconds: float) -> int:
        return 2

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.calls: list[tuple] = []   # (op, span, kind, expected, stats)
        self.breakdown: dict[str, float] = {}

    def prepare(self) -> None:
        shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
        self.corpus = corpus.generate(os.path.join(self.work, "in"),
                                      self.seed)

    def attach(self, spark) -> None:
        pass

    def run(self, spark, ledger: Ledger, seconds: float) -> dict:
        from sql_etl_data_warehouse_inside_airbnb_spark import run_pipeline

        c = self.corpus
        out = os.path.join(self.work, "warehouse")
        loads = (("full", c.day1_dir, c.day1, False),
                 ("incremental", c.day2_dir, c.day2, True))

        def one_pass(i, parent):
            kind, src, exp, incr = loads[i]
            tb, span, err = self.tracer.call(
                f"run_pipeline.{kind}",
                lambda: run_pipeline(spark, src, out, incremental=incr),
                parent)
            op = ledger.add(kind, "run_pipeline", span.seconds,
                            _describe(err))
            self.calls.append((op, span, kind, exp,
                               tb.stats if tb is not None else {}))
            if tb is not None:
                # untimed: the day-1 snapshot must be read before the
                # day-2 load rewrites the warehouse
                self._check_batch(ledger, op, tb.stats, out, exp, kind)
            return [op]

        self.passes = _passes(self, seconds, one_pass)
        return _e2e(self.passes)

    def _check_batch(self, ledger: Ledger, op, stats: dict, out: str, exp,
                     kind: str) -> None:
        import duckdb

        bad = [f"{t}: {stats.get(t)} != {n}" for t, n in exp.tables.items()
               if stats.get(t) != n]
        if stats.get("rejects_listings") != exp.rejects:
            bad.append(f"rejects {stats.get('rejects_listings')} != "
                       f"{exp.rejects}")
        con = duckdb.connect()

        def scan(t):
            return (f"read_parquet('{out}/{t}/**/*.parquet', "
                    "hive_partitioning=true)")
        for t, n in exp.tables.items():
            got = con.execute(f"SELECT count(*) FROM {scan(t)}").fetchone()[0]
            if got != n:
                bad.append(f"parquet {t}: {got} != {n}")
        dups = con.execute(
            f"SELECT (SELECT count(*) - count(DISTINCT (listing_id, "
            f"week_start_date)) FROM {scan('fact_calendar')}), "
            f"(SELECT count(*) - count(DISTINCT review_id) FROM "
            f"{scan('fact_reviews')})").fetchone()
        if dups != (0, 0):
            bad.append(f"duplicate calendar weeks / review ids: {dups}")
        dates = set(con.execute(f"SELECT date_id, full_date FROM "
                                f"{scan('dim_dates')}").fetchall())
        raw_ids = con.execute(f"SELECT listing_raw_id, count(*) FROM "
                              f"{scan('dim_listing_id_map')} GROUP BY 1"
                              ).fetchall()
        if kind == "full":
            self.day1_dates, self.day1_ids = dates, dict(raw_ids)
        else:
            if not self.day1_dates <= dates:
                bad.append("day-1 date_ids changed after day 2")
            now = dict(raw_ids)
            if any(now.get(k, 0) < n for k, n in self.day1_ids.items()):
                bad.append("id map lost day-1 rows")
        con.close()
        if bad:
            ledger.fail(op, "; ".join(bad))

    def check(self, spark, ledger: Ledger) -> None:
        """Each batch was checked right after its load (see run)."""

    def breakdown_run(self, spark) -> None:
        """Traced runs only: each public stage function of run_pipeline,
        in its order, on the day-1 batch, timed as build plus noop; the
        quarantine span times ``split_quarantine``'s reject branch."""
        import sql_etl_data_warehouse_inside_airbnb_spark as eng
        from sql_etl_data_warehouse_inside_airbnb_spark.plans.etl import (
            discover_files,
        )

        files = discover_files(self.corpus.day1_dir)
        tr, parent = self.tracer, self.tracer.open("breakdown")

        def timed(name, build):
            def go():
                df = build()
                noop(df)
                return df
            df, span, err = tr.call(name, go, parent)
            if err is not None:
                raise err
            self.breakdown[name] = span.seconds
            return df

        def union(kind):
            dfs = [eng.read_csv_raw(spark, p) for p, _, _ in files[kind]]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out

        scan_s = 0.0
        for kind in ("listings", "calendar", "reviews"):
            timed(f"scan.{kind}", lambda: union(kind))
            scan_s += self.breakdown[f"scan.{kind}"]
        self.breakdown["sources.csv_scan_s"] = scan_s

        def cleaned():
            out = None
            for p, city, country in files["listings"]:
                c = eng.clean_listings(eng.read_csv_raw(spark, p),
                                       property_city=city,
                                       property_country=country)
                out = c if out is None else out.unionByName(c)
            return out
        cl = timed("pipeline.clean_listings_s", cleaned)
        timed("sources.quarantine_s",
              lambda: eng.split_quarantine(cl, "id")[1])
        dim = timed("pipeline.dim_listings_s", lambda: eng.pretreat_listings(
            eng.build_dim_listings(cl, count_actions=False)[0].df))
        timed("pipeline.dim_hosts_s", lambda: eng.pretreat_hosts(
            eng.build_dim_hosts(dim)))
        cal, rev = union("calendar"), union("reviews")
        dates = timed("pipeline.dim_dates_s",
                      lambda: eng.build_dim_dates(cal, rev))
        timed("pipeline.fact_calendar_s",
              lambda: eng.build_fact_calendar(cal, dim))
        fr = timed("pipeline.fact_reviews_s",
                   lambda: eng.build_fact_reviews(rev, dim, dates))
        timed("enrich.review_lang_s", lambda: eng.add_review_lang(fr))
        tr.close(parent)

    def layers(self, jobs: dict, out: dict) -> None:
        for key in ("sources.csv_scan_s", "sources.quarantine_s",
                    "pipeline.clean_listings_s",
                    "pipeline.dim_listings_s", "pipeline.dim_hosts_s",
                    "pipeline.dim_dates_s", "pipeline.fact_calendar_s",
                    "pipeline.fact_reviews_s", "enrich.review_lang_s"):
            out[key] = self.breakdown.get(key, 0.0)
        scans = _groups_cost(jobs, [s.group for s in self.tracer.spans
                                    if s.name.startswith("scan.")])
        out["sources.csv_input_bytes"] = sum(j.input_bytes for j in scans)
        etl_groups, rows = [], {"full": [], "incremental": []}
        for op, span, kind, exp, stats in self.calls:
            out[f"etl.{kind}.jobs"] += span.attrs.get("jobs", 0)
            out["sources.quarantined_rows"] += stats.get("rejects_listings",
                                                         0)
            etl_groups.append(span.group)
            rows[kind].append(exp.input_rows / span.seconds)
        for kind in rows:
            if rows[kind]:
                out[f"etl.{kind}_rows_per_s"] = median(rows[kind])
        etl = _groups_cost(jobs, etl_groups)
        writes = [j for j in etl if j.writes]
        out["etl.count_jobs"] = sum(j.count_job for j in etl)
        out["etl.write_job_frac"] = len(writes) / len(etl) if etl else 0.0
        out["etl.write_s"] = sum(j.wall_ms for j in writes) / 1000
        out["etl.shuffle_write_bytes"] = sum(j.shuffle_write_bytes
                                             for j in etl)
        out["etl.output_bytes"] = sum(j.output_bytes for j in etl)


# --------------------------------------------------------------- SQL


class SqlWorkload:
    @staticmethod
    def pass_count(seconds: float) -> int:
        """The cold pass and at least five warm ones; a warm pass takes
        about 2 s on a 4-vCPU host."""
        return 1 + max(5, round(seconds / 2))

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.results: list[tuple] = []   # (op, span, name, params, rows)

    def prepare(self) -> None:
        root = os.path.join(self.work, "warehouse")
        shutil.rmtree(root, ignore_errors=True)
        self.wh = warehouse.build(root, self.seed)

    def attach(self, spark) -> None:
        from sql_etl_data_warehouse_inside_airbnb_spark import register_views

        for name in ("dim_listings", "dim_dates", "fact_calendar",
                     "fact_reviews"):
            spark.read.parquet(os.path.join(self.wh.root, name)) \
                .createOrReplaceTempView(name)
        register_views(spark, spark.table("dim_listings"))
        # the session's first query pays JVM-wide warm-up (class loading,
        # JIT of the SQL engine) whatever it is; take it here so cold_s
        # is the per-template cold cost
        spark.sql("SELECT count(*) FROM dim_listings").collect()

    def run(self, spark, ledger: Ledger, seconds: float) -> dict:
        from sql_etl_data_warehouse_inside_airbnb_spark.functions.tsql import (
            run_tsql,
            tsql_to_spark_sql,
        )

        rng = random.Random(self.seed)

        def one_pass(i, parent):
            ops = []
            # the cold pass runs in name order: which template meets a
            # cold engine first moves cold_s by ~10%
            for name, params in warehouse.query_mix(self.wh, rng,
                                                    shuffle=bool(i)):
                text = warehouse.TEMPLATES[name][0].format(**params)
                translate_ms = None
                if self.tracer.enabled:
                    t0 = time.perf_counter()
                    tsql_to_spark_sql(text)
                    translate_ms = 1000 * (time.perf_counter() - t0)
                holder = {}

                def query():
                    holder["df"] = run_tsql(spark, text)
                    return holder["df"].collect()
                rows, span, err = self.tracer.call(name, query, parent)
                op = ledger.add("query", name, span.seconds, _describe(err))
                if self.tracer.enabled and err is None:
                    span.attrs["translate_ms"] = translate_ms
                    span.attrs["catalyst"] = tracing.catalyst_ms(holder["df"])
                ops.append(op)
                self.results.append((op, span, name, params, rows))
            return ops

        self.passes = _passes(self, seconds, one_pass)
        return _e2e(self.passes)

    def check(self, spark, ledger: Ledger) -> None:
        con = warehouse.duck_connect(self.wh)
        oracle: dict[str, list] = {}
        for op, _, name, params, rows in self.results:
            if rows is None:
                continue
            _, duck, ordered = warehouse.TEMPLATES[name]
            sql = duck.format(**params)
            if sql not in oracle:
                oracle[sql] = con.execute(sql).fetchall()
            if not warehouse.rows_match(rows, oracle[sql], ordered):
                ledger.fail(op, f"{name} {params}: differs from DuckDB")
        con.close()

    def layers(self, jobs: dict, out: dict) -> None:
        spans = [s for _, s, _, _, rows in self.results if rows is not None]
        if not spans:
            return
        lat = [1000 * s.seconds for s in spans]
        out["sql.p50_ms"] = median(lat)
        p = tail_percentile(len(lat))
        if p is not None:
            out["sql.tail_pct"] = p
            out["sql.tail_ms"] = percentile(lat, p)
        out["functions.tsql_translate_ms"] = median(
            [s.attrs["translate_ms"] for s in spans])
        for ph in tracing.PHASES:
            out[f"catalyst.{ph}_ms"] = sum(
                s.attrs["catalyst"][ph] for s in spans) / len(spans)
        per_q = [_groups_cost(jobs, [s.group]) for s in spans]
        out["sql.exec_ms"] = median([sum(j.wall_ms for j in q)
                                     for q in per_q])
        out["sql.jobs_per_query"] = sum(s.attrs["jobs"]
                                        for s in spans) / len(spans)
        out["sql.tasks_per_query"] = sum(j.tasks for q in per_q
                                         for j in q) / len(spans)
        out["sql.input_bytes_per_query"] = sum(
            j.input_bytes for q in per_q for j in q) / len(spans)


# ---------------------------------------------------------- registry

# The suite: a fixed slice of bench.py's HEADLINE and MAINTENANCE lists,
# one entry per layer, with the layer each entry's time is charged to.
# The full 75-entry suite takes ~80 s cold even at sf0.001, beyond one
# run's budget.
SUITE: dict[str, tuple[str, str]] = {
    "a7_weekly_rollup": ("headline", "relational"),
    "ext_dedup_exact": ("headline", "operators.dedup"),
    "ext_ann_lsh_topk": ("headline", "operators.similarity"),
    "ext_bm25_topk": ("headline", "operators.search"),
    "ext_trigram_familiarity": ("headline", "operators.curation"),
    "e5_sessionization": ("headline", "operators.events"),
    "stream_tumbling": ("headline", "streaming"),
    "g7_bfs_hops": ("maintenance", "operators.graph"),
    "ext_bpe_train_portable": ("maintenance", "operators.tokenizer"),
}
DATA_SEED = 20250601
SF = 0.01
GOLDEN = os.path.join(HERE, "golden_registry.json")


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, Decimal):
        return format(float(v), ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def value_hash(rows) -> str:
    """Order-insensitive hash of collected rows; floats compared to nine
    significant digits, so summation order cannot flip it."""
    lines = sorted("\x1f".join(_canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class RegistryWorkload:
    @staticmethod
    def pass_count(seconds: float) -> int:
        """The cold pass and four warm ones; a warm headline pass takes
        about 4 s on a 4-vCPU host."""
        return 5

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.last_df: dict[str, object] = {}
        self.executions: list[tuple] = []   # (op, span, build, exec, leak)

    def prepare(self) -> None:
        self.data = os.path.join(self.work, "tables")
        shutil.rmtree(self.data, ignore_errors=True)
        tables.generate(self.data, DATA_SEED, SF)

    def attach(self, spark) -> None:
        pass

    def run(self, spark, ledger: Ledger, seconds: float) -> dict:
        from sql_etl_data_warehouse_inside_airbnb_spark.plans.full_registry import (  # noqa: E501
            REGISTRY,
        )

        rng = random.Random(self.seed)
        tr = self.tracer

        def one_pass(i, parent):
            # headline entries cold, then the offline maintenance builds
            # once; later passes run the headline entries warm. The cold
            # pass runs in name order: its first entries pay the session's
            # one-time costs (Python workers, streaming start), so a seeded
            # order would make cold_s depend on the seed
            names = []
            for kind in ("headline", "maintenance")[:1 if i else 2]:
                group = sorted(n for n, (k, _) in SUITE.items() if k == kind)
                if i:
                    rng.shuffle(group)
                names += group
            ops = []
            for name in names:
                before = tracing.persisted_rdds(spark) if tr.enabled else 0
                span = tr.open(name, parent)
                df, b, err = tr.call("build", lambda: REGISTRY[name].build(
                    spark, self.data), span)
                if tr.enabled and err is None:
                    # the noop write plans df's analyzed plan in a
                    # QueryExecution of its own, out of reach from here;
                    # planning df's own one first, with caches as cold
                    # as the write would find them, is its twin
                    span.attrs["catalyst"] = tracing.catalyst_ms(df)
                x = None
                if err is None:
                    _, x, err = tr.call("exec", lambda: noop(df), span)
                tr.close(span)
                op = ledger.add(SUITE[name][0], name, span.seconds,
                                _describe(err))
                if err is None:
                    self.last_df[name] = df
                leak = 0
                if tr.enabled and err is None:
                    leak = max(0, tracing.persisted_rdds(spark) - before)
                self.executions.append((op, span, b, x, leak))
                ops.append(op)
            return ops

        self.passes = _passes(self, seconds, one_pass)
        return _e2e(self.passes)

    def outputs(self) -> dict[str, dict]:
        """Row count and value hash of each entry's last output."""
        out = {}
        for name, df in sorted(self.last_df.items()):
            rows = df.collect()
            out[name] = {"rows": len(rows), "hash": value_hash(rows)}
        return out

    def check(self, spark, ledger: Ledger) -> None:
        with open(GOLDEN) as f:
            golden = json.load(f)["entries"]
        got = self.outputs()
        for op, *_ in self.executions:
            if op.name not in got:
                continue
            if got[op.name] != golden.get(op.name):
                ledger.fail(op, f"{op.name}: {got[op.name]} != golden "
                                f"{golden.get(op.name)}")

    def layers(self, jobs: dict, out: dict) -> None:
        ok = [e for e in self.executions if e[0].error is None]
        head = [e for e in ok if e[0].kind == "headline"]
        maint = [e for e in ok if e[0].kind == "maintenance"]
        out["registry.build_s"] = sum(b.seconds for _, _, b, _, _ in head)
        out["registry.build_jobs"] = sum(b.attrs["jobs"]
                                         for _, _, b, _, _ in head)
        out["maintenance.build_jobs"] = sum(b.attrs["jobs"]
                                            for _, _, b, _, _ in maint)
        out["registry.exec_s"] = sum(x.seconds for _, _, _, x, _ in head)
        groups = [s.group for _, _, b, x, _ in head for s in (b, x)]
        cost = _groups_cost(jobs, groups)
        out["registry.jobs"] = sum(s.attrs["jobs"] for _, _, b, x, _ in head
                                   for s in (b, x))
        out["registry.tasks"] = sum(j.tasks for j in cost)
        out["registry.failed_tasks"] = sum(j.failed_tasks for j in cost)
        out["registry.shuffle_write_bytes"] = sum(j.shuffle_write_bytes
                                                  for j in cost)
        out["registry.spill_bytes"] = sum(j.spill_bytes for j in cost)
        out["registry.gc_s"] = sum(j.gc_ms for j in cost) / 1000
        out["registry.executor_cpu_s"] = sum(j.cpu_ns for j in cost) / 1e9
        out["registry.persisted_rdds_leaked"] = sum(e[4] for e in ok)
        for op, span, *_ in ok:
            key = SUITE[op.name][1] + ".s"
            out[key] += span.seconds
        if head:
            for ph in tracing.PHASES:
                out[f"catalyst.{ph}_ms"] = sum(
                    e[1].attrs["catalyst"][ph] for e in head) / len(head)

        def total(p, kind):
            return sum(op.seconds for op in p if op.kind == kind)
        out["registry.headline_cold_s"] = total(self.passes[0], "headline")
        out["registry.headline_s"] = _warm(self.passes[1:])
        out["registry.maintenance_s"] = total(self.passes[0], "maintenance")


WORKLOADS = {
    "etl_day1_day2": EtlWorkload,
    "warehouse_sql": SqlWorkload,
    "registry_sf0.01": RegistryWorkload,
}
