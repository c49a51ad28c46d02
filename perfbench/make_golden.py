"""Regenerate golden_registry.json: row count and value hash of every
registry-suite entry on the fixed sf0.01 tables.

    python3 perfbench/make_golden.py

Run from the repository root. The suite runs twice, in two seeded
orders, and the script refuses to write unless both orders give the
same outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from sql_etl_data_warehouse_inside_airbnb_spark import get_spark

    import workloads
    from run import session_conf, shutdown
    from stats import Ledger
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", "golden")
    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark("perfbench-golden", master="local[4]",
                      extra_conf=session_conf(work, 4, traced=False))
    spark.sparkContext.setLogLevel("ERROR")
    runs = []
    for seed in (1, 2):
        wl = workloads.RegistryWorkload(work, seed, Tracer(False, "golden"))
        wl.prepare()
        wl.attach(spark)
        ledger = Ledger()
        wl.run(spark, ledger, 0)
        if ledger.failed:
            print([op for op in ledger.ops if op.error], file=sys.stderr)
            return 1
        runs.append(wl.outputs())
    shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)
    if runs[0] != runs[1]:
        print("outputs depend on entry order:", runs, file=sys.stderr)
        return 1
    with open(workloads.GOLDEN, "w") as f:
        json.dump({"data_seed": workloads.DATA_SEED, "sf": workloads.SF,
                   "entries": runs[0]}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
