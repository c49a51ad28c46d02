"""Repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The program under test is the
``sql_etl_data_warehouse_inside_airbnb_spark`` package next to this
directory, driven through its public entry points on one Spark
``local[N]`` session by one closed-loop client. N is one less than the
host's cores, at most 3: the spare core runs the client, the JVM's JIT
and GC threads and Spark's own threads. On a 4-vCPU host, warm times
spread 25-35% (IQR/median over seeds) at local[4], 10-15% at local[3]. All
inputs are generated from the seed under ``.perfbench_work/`` and removed
afterwards; traced runs leave their spans under ``.perfbench_out/``.

Workloads (workloads.py says what one pass is):

- ``etl_day1_day2``: full, then incremental ``run_pipeline`` on a seeded
  Inside-Airbnb corpus (gzip CSV scans, quarantine, MERGE, partitioned
  writes, rename-swap).
- ``warehouse_sql``: the reference's analysis queries in T-SQL through
  ``run_tsql``; per-query fixed cost (translation, Catalyst, scheduling)
  dominates.
- ``registry_sf0.01``: a 9-entry slice of bench.py's HEADLINE and
  MAINTENANCE entries, one per operator layer, on seeded TPC-H-shaped
  tables at sf0.01; the seed orders the warm passes, the data is fixed so
  outputs match a golden file.

End-to-end metrics (``--trace 0``), reported by every workload:

- ``setup_s``: wall time from process start to the start of the timed
  region, in one session: imports, JVM launch, session start, input
  generation and the workload's attach step. Input generation runs
  ``SETUP_REPS`` times and counts at its median; the rest runs once.
- ``cold_s``: the first pass, in the fresh JVM (the ETL's full load, the
  SQL mix's first pass, the cold registry headline pass plus the
  maintenance entries).
- ``warm_s``: each operation's median over the later passes, summed
  (the ETL's incremental load, the SQL mix's warm passes, the warm
  registry headline passes).
- ``driver_live_mb``: JVM heap in use after a full GC plus non-heap in
  use, after the timed region. The peak RSS (VmHWM) varied 10-23% run to
  run, so it is the per-layer ``session.peak_rss_mb``.

Failures are ``failed`` out of ``attempted`` in the result line (the
per-layer ``failed_frac``): an operation fails when it raises or when
its output check fails.

Per-layer metrics (``--trace 1``, a separate run with job groups, the
event log and Catalyst phase times on) and the end-to-end metric each
should move; a layer a workload does not reach reads zero there:

- ``session.*`` -> ``setup_s`` and ``driver_live_mb`` everywhere.
- ``sources.*``, ``pipeline.*``, ``enrich.review_lang_s``, ``etl.*`` ->
  ``cold_s`` (full load) and ``warm_s`` (incremental) on
  ``etl_day1_day2``.
- ``functions.tsql_translate_ms``, ``sql.*`` -> ``warm_s`` on
  ``warehouse_sql``.
- ``catalyst.*_ms`` -> ``cold_s`` and ``warm_s`` on ``warehouse_sql``
  and ``registry_sf0.01``.
- ``registry.*``, ``maintenance.build_jobs``, ``operators.<module>.s``,
  ``streaming.s``, ``relational.s`` -> ``cold_s`` and ``warm_s`` on
  ``registry_sf0.01``; ``registry.persisted_rdds_leaked`` ->
  ``driver_live_mb`` there.
- ``traced.<metric>``: each end-to-end metric measured with tracing on;
  against the untraced run of the same seed it gives the tracing
  overhead, which a traced run also prints when that result is present.

``bench.py``'s ``headline_query_runtime`` (materialize-only, min of 5
warm runs) is not comparable with ``registry.headline_s``: bench.py does
not time ``build()``, where entries such as ext_semantic_dedup and the
maintenance builds do most of their work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()

import tracing  # noqa: E402  (T_START must precede every import)
import workloads  # noqa: E402
from stats import Ledger, median, result_line  # noqa: E402
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
              "driver_live_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.csv_scan_s": "s",
    "sources.csv_input_bytes": "B",
    "sources.quarantine_s": "s",
    "sources.quarantined_rows": "count",
    "pipeline.clean_listings_s": "s",
    "pipeline.dim_listings_s": "s",
    "pipeline.dim_hosts_s": "s",
    "pipeline.dim_dates_s": "s",
    "pipeline.fact_calendar_s": "s",
    "pipeline.fact_reviews_s": "s",
    "enrich.review_lang_s": "s",
    "etl.full.jobs": "count",
    "etl.incremental.jobs": "count",
    "etl.count_jobs": "count",
    "etl.write_job_frac": "ratio",
    "etl.write_s": "s",
    "etl.shuffle_write_bytes": "B",
    "etl.output_bytes": "B",
    "etl.full_rows_per_s": "rows/s",
    "etl.incremental_rows_per_s": "rows/s",
    "functions.tsql_translate_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sql.exec_ms": "ms",
    "sql.jobs_per_query": "count",
    "sql.tasks_per_query": "count",
    "sql.input_bytes_per_query": "B",
    "sql.p50_ms": "ms",
    "sql.tail_ms": "ms",
    "sql.tail_pct": "%",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "maintenance.build_jobs": "count",
    "registry.exec_s": "s",
    "registry.jobs": "count",
    "registry.tasks": "count",
    "registry.failed_tasks": "count",
    "registry.shuffle_write_bytes": "B",
    "registry.spill_bytes": "B",
    "registry.gc_s": "s",
    "registry.executor_cpu_s": "s",
    "operators.dedup.s": "s",
    "operators.similarity.s": "s",
    "operators.search.s": "s",
    "operators.tokenizer.s": "s",
    "operators.curation.s": "s",
    "operators.graph.s": "s",
    "operators.events.s": "s",
    "streaming.s": "s",
    "relational.s": "s",
    "registry.persisted_rdds_leaked": "count",
    "registry.headline_s": "s",
    "registry.headline_cold_s": "s",
    "registry.maintenance_s": "s",
    "failed_frac": "ratio",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def session_conf(work: str, cores: int, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": "2g",   # every workload fits; the host is shared
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if traced:
        conf.update(tracing.event_log_conf(os.path.join(work, "eventlog")))
    return conf


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def live_mb(spark) -> float:
    """JVM heap in use after a full GC, plus non-heap (metaspace, code
    cache) in use. The first GC lets Spark's ContextCleaner release the
    broadcasts and shuffles that became unreachable; the second, half a
    second later, collects what it released."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1

    sys.path.insert(0, ROOT)
    from sql_etl_data_warehouse_inside_airbnb_spark import get_spark

    # every file the run writes, Spark's and the JVM's included, stays
    # under the checkout
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    conf = session_conf(work, cores, traced)
    run_id = f"{args.workload}-{args.seed}-{args.trace}"
    tracer = tracing.Tracer(traced, run_id)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer)

    prepare = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare()
        prepare.append(time.perf_counter() - t0)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}",
                          master=f"local[{cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_start = time.perf_counter() - t0
        wl.attach(spark)
        # the extra input generations are not part of one set-up
        setup_s = time.perf_counter() - T_START \
            - (sum(prepare) - median(prepare))
        log(f"set-up done: {setup_s:.3f} s, input generation "
            f"{[round(t, 3) for t in prepare]}")
        tracer.bind(spark)
        ledger = Ledger()
        e2e = wl.run(spark, ledger, args.seconds)
        log(f"timed region done: {e2e}")
        e2e["setup_s"] = setup_s
        peak_rss = peak_rss_mb(spark)
        e2e["driver_live_mb"] = live_mb(spark)
        if traced and hasattr(wl, "breakdown_run"):
            wl.breakdown_run(spark)
        wl.check(spark, ledger)
        log(f"checks done: {ledger.failed} of {ledger.attempted} failed")
    finally:
        if spark is not None:
            shutdown(spark)   # the JVM exits before this process does
    log("session stopped")

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    untraced = os.path.join(out_dir, f"{args.workload}-{args.seed}.json")
    if traced:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.start_s"] = session_start
        layers["session.peak_rss_mb"] = peak_rss
        layers["failed_frac"] = ledger.failed_frac
        wl.layers(tracing.read_event_log(os.path.join(work, "eventlog")),
                  layers)
        for k, v in e2e.items():
            layers[f"traced.{k}"] = v
        overhead = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            overhead = {k: e2e[k] / base[k] - 1 for k in END_TO_END}
            print(f"tracing overhead vs untraced seed {args.seed}: "
                  + json.dumps(overhead), file=sys.stderr)
        tracer.write(os.path.join(out_dir,
                                  f"{args.workload}-{args.seed}-spans.jsonl"),
                     {"layers": layers, "tracing_overhead": overhead})
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
    else:
        with open(untraced, "w") as f:
            json.dump(e2e, f)
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(result_line(ledger, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
