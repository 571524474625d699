"""Per-run profile of registry entries: wall time, plan-build time, Spark
counters and plan node counts.

    python tools/profile_runs.py [--sf-dir DIR] [--warm N] [query ...]

For each entry (default: bench.EXTENDED) one cold run and ``--warm`` warm
runs, each through ``bench.run_once`` with pinned blocks freed before it.
Counters come from the benchmark's reader (``perfbench/spans.py``): jobs,
stages and SQL executions by monotonic id, so jobs submitted from an
entry's driver threads count too, and plan nodes parsed node by node over
every SQL execution of the run.  For layer-by-layer profiling of the
catalog lifecycle use ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

COLUMNS = (
    "jobs", "sql_execs", "stages", "tasks", "exchanges", "reused_exchanges",
    "python_nodes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "exec_run_s", "gc_s", "driver_s",
)


def profile_run(spark, counters, fn, sf_dir: str) -> tuple[dict, list[str]]:
    """Run registry entry ``fn`` once; return its row (``wall_s``,
    ``plan_s``, the ``SparkCounters.delta`` counters and ``nodes``, the
    operator-name counts) and the physical plans of its SQL executions."""
    from bench import free_pinned, run_once
    from spans import plan_nodes

    free_pinned(spark)
    m0 = counters.mark()
    t0 = time.time()
    df = fn(spark, sf_dir)
    plan_s = time.time() - t0
    run_once(df)
    t1 = time.time()
    m1 = counters.mark()
    row = {"wall_s": t1 - t0, "plan_s": plan_s, **counters.delta(m0, m1, t0, t1)}
    store = spark._jsparkSession.sharedState().statusStore()
    plans = []
    for eid in range(m0.sql, m1.sql):
        ex = store.execution(eid)
        if ex.isDefined():
            plans.append(ex.get().physicalPlanDescription())
    row["nodes"] = Counter(n for p in plans for n in plan_nodes(p))
    return row, plans


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", type=int, default=2)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from bench import EXTENDED
    from eodatadown_spark.session import get_spark
    from spans import SparkCounters

    spark = get_spark("profile_runs")
    counters = SparkCounters(spark)
    qmap = entry.queries()
    print(f"{'query':38s} {'run':5s} {'wall_s':>7s} {'plan_s':>6s} "
          + " ".join(COLUMNS), flush=True)
    for name in args.queries or list(EXTENDED):
        for run in ["cold"] + [f"warm{i}" for i in range(args.warm)]:
            row, _ = profile_run(spark, counters, qmap[name], args.sf_dir)
            print(f"{name:38s} {run:5s} {row['wall_s']:7.3f} {row['plan_s']:6.3f} "
                  + " ".join(f"{row[c]:.3f}" if isinstance(row[c], float) else f"{row[c]}"
                           for c in COLUMNS), flush=True)
            print("    nodes: " + " ".join(
                f"{n}={k}" for n, k in sorted(row["nodes"].items())), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
