"""Self-tests of the benchmark itself (not part of the engine's test suite).

    python3 perfbench/selftest.py                 # everything, ~5 min
    python3 perfbench/selftest.py PlanNodes       # one class

Run from the repository root.  The Spark tests start their own small
session; the smoke tests run ``run.py --smoke`` as a subprocess.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
from operator_analytics import canonical, make_tables, matches  # noqa: E402
from run import failed_ops  # noqa: E402
from scene_queries import CALLS, SceneQueries  # noqa: E402
from spans import SparkCounters, plan_counts, plan_nodes  # noqa: E402
from workload import Op, same  # noqa: E402

# A formatted adaptive plan: a self-join whose second side reuses the first
# side's exchange, over a top-2-per-key filter (WindowGroupLimit + Window).
REUSE_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (24)
+- == Final Plan ==
   ResultQueryStage (16)
   +- * Project (15)
      +- * SortMergeJoin Inner (14)
         :- * Sort (7)
         :  +- AQEShuffleRead (6)
         :     +- ShuffleQueryStage (5)
         :        +- Exchange (4)
         :           +- * Filter (3)
         :              +- Window (2)
         :                 +- WindowGroupLimit (1)
         +- * Sort (13)
            +- AQEShuffleRead (12)
               +- ShuffleQueryStage (11)
                  +- ReusedExchange (10)
+- == Initial Plan ==
   Project (23)
   +- SortMergeJoin Inner (22)
      :- Sort (18)
      :  +- Exchange (4)
      :     +- Filter (3)
      +- Sort (21)
         +- Exchange (20)
            +- Filter (19)


(4) Exchange
Input [2]: [k#1L, id#0L]
Arguments: hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=25]

(10) ReusedExchange [Reuses operator id: 4]
Output [2]: [k#7L, id#6L]
"""


class PlanNodes(unittest.TestCase):
    def test_reused_exchange_is_not_a_second_exchange(self):
        self.assertEqual(
            plan_counts(REUSE_PLAN),
            {"exchanges": 1, "reused_exchanges": 1, "python_nodes": 0},
        )

    def test_window_group_limit_is_not_a_window(self):
        nodes = plan_nodes(REUSE_PLAN)
        self.assertEqual(nodes.count("Window"), 1)
        self.assertEqual(nodes.count("WindowGroupLimit"), 1)

    def test_final_plan_only_with_join_arguments(self):
        self.assertEqual(sorted(plan_nodes(REUSE_PLAN)), sorted([
            "AdaptiveSparkPlan", "ResultQueryStage", "Project", "SortMergeJoin",
            "Sort", "AQEShuffleRead", "ShuffleQueryStage", "Exchange", "Filter",
            "Window", "WindowGroupLimit", "Sort", "AQEShuffleRead",
            "ShuffleQueryStage", "ReusedExchange",
        ]))


class CounterReader(unittest.TestCase):
    """Deltas come from monotonic ids: they stay exact after the status
    store has rotated out old entries, and include other threads' jobs."""

    @classmethod
    def setUpClass(cls):
        from pyspark.sql import SparkSession

        cls.tmp = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_selftest_")
        cls.spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "5")
            .config("spark.ui.retainedStages", "5")
            .config("spark.sql.ui.retainedExecutions", "5")
            .config("spark.sql.shuffle.partitions", "2")
            # keep the self-join a shuffle join, so its reuse is of a shuffle
            .config("spark.sql.autoBroadcastJoinThreshold", "-1")
            .config("spark.local.dir", cls.tmp)
            .config("spark.sql.warehouse.dir", os.path.join(cls.tmp, "wh"))
            .getOrCreate()
        )
        cls.counters = SparkCounters(cls.spark)

    @classmethod
    def tearDownClass(cls):
        cls.spark.stop()
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def one_job(self):
        return self.spark.range(1000, numPartitions=2).where("id % 7 = 0").collect()

    def delta(self, fn):
        import time

        m0, t0 = self.counters.mark(), time.time()
        fn()
        t1 = time.time()
        return self.counters.delta(m0, self.counters.mark(), t0, t1)

    def test_one_job_query(self):
        for _ in range(12):  # rotate the 5-entry store several times over
            self.one_job()
        d = self.delta(self.one_job)
        self.assertEqual(
            {k: d[k] for k in ("jobs", "sql_execs", "stages", "tasks", "exchanges")},
            {"jobs": 1, "sql_execs": 1, "stages": 1, "tasks": 2, "exchanges": 0},
        )
        self.assertEqual(d["input_records"], 1000)

    def test_jobs_on_other_threads_are_counted(self):
        def three():
            with ThreadPoolExecutor(3) as pool:
                for f in [pool.submit(self.one_job) for _ in range(3)]:
                    f.result()

        self.assertEqual(self.delta(three)["jobs"], 3)

    def test_live_reused_exchange(self):
        from pyspark.sql import functions as F

        agg = self.spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
        joined = agg.join(agg.withColumnRenamed("count", "c2"), "k")
        d = self.delta(joined.collect)
        self.assertEqual(d["sql_execs"], 1)
        self.assertEqual(d["reused_exchanges"], 1)
        self.assertEqual(d["exchanges"], 1)


class Verification(unittest.TestCase):
    def test_corrupted_result_counts_as_failed(self):
        good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        ops = [Op("entry", n) for n in ("q_good", "q_bad", "q_short", "q_raised")]
        results = [
            (True, canonical(good.iloc[::-1])),
            (True, canonical(good.assign(v=[0.5, 1.5, 2.9]))),
            (True, canonical(good.iloc[:2])),
            (False, None),
        ]
        want = [canonical(good)] * 4
        self.assertEqual(failed_ops(ops, results, want, matches),
                         ["q_bad", "q_short", "q_raised"])

    def test_rounding_boundary_is_one_unit_in_the_last_place(self):
        # the same exact sum, rounded to cents after two summation orders
        want = canonical(pd.DataFrame({"n": ["a", "b"], "rev": [1234.44, 12.5]}))
        got = canonical(pd.DataFrame({"n": ["a", "b"], "rev": [1234.45, 12.5]}))
        self.assertTrue(matches(got, want))
        off = canonical(pd.DataFrame({"n": ["a", "b"], "rev": [1234.46, 12.5]}))
        self.assertFalse(matches(off, want))

    def test_corrupted_scene_page_counts_as_failed(self):
        import datetime as dt

        page = [(1, dt.date(2019, 1, 2)), (2, dt.date(2019, 1, 1))]
        ops = [Op("page", "a"), Op("page", "b"), Op("count", "c")]
        results = [(True, list(page)), (True, page[::-1]), (True, 41)]
        self.assertEqual(failed_ops(ops, results, [page, page, 42], same), ["b", "c"])


class Determinism(unittest.TestCase):
    def test_scene_ops_follow_the_seed(self):
        a, b, c = (SceneQueries(s).ops(200) for s in (7, 7, 8))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_every_scene_block_holds_each_call_once(self):
        ops = SceneQueries(7).ops(5 * len(CALLS))
        for i in range(0, len(ops), len(CALLS)):
            block = ops[i:i + len(CALLS)]
            self.assertEqual(sorted((o.kind, o.name) for o in block), sorted(CALLS))

    def test_scene_index_follows_the_seed(self):
        a, b, c = (gen.scene_index(np.random.default_rng(s), 2000, 4) for s in (7, 7, 8))
        pd.testing.assert_frame_equal(a, b)
        self.assertFalse(a.equals(c))

    def test_analytics_tables_follow_the_seed(self):
        a, b, c = (make_tables(s, 0.001) for s in (7, 7, 8))
        for name in a:
            pd.testing.assert_frame_equal(a[name], b[name])
        self.assertFalse(a["orders"].equals(c["orders"]))
        self.assertFalse(a["events"].equals(c["events"]))
        # the documents behind the pinned oracle answers never move
        pd.testing.assert_frame_equal(a["documents"], c["documents"])


def bench_run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        command = json.load(fh)["command"]
    return subprocess.run(
        command + list(args), cwd=cwd, capture_output=True, text=True, timeout=600
    )


class Smoke(unittest.TestCase):
    """Every metric BENCHMARK.json names is printed, with its unit."""

    def check(self, workload: str, trace: int, section: str):
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
            declared = {m["name"]: m["unit"] for m in json.load(fh)[section]}
        proc = bench_run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", str(trace), "--smoke")
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, declared)

    def test_scene_queries(self):
        self.check("scene_queries", 0, "end_to_end")
        self.check("scene_queries", 1, "per_layer")

    def test_operator_analytics(self):
        self.check("operator_analytics", 0, "end_to_end")
        self.check("operator_analytics", 1, "per_layer")

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = bench_run(tmp, "--workload", "scene_queries", "--seed", "1",
                             "--seconds", "1", "--trace", "0")
        self.assertNotEqual(proc.returncode, 0)
        self.assertNotIn("metrics", proc.stdout)


if __name__ == "__main__":
    unittest.main()
