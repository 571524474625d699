"""tools/profile_runs.py: one run's counters come from the benchmark's reader
and cover every SQL execution the run started."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "profile_runs", os.path.join(ROOT, "tools", "profile_runs.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_run_counts_every_execution(spark):
    import __spark_entry__ as E

    tool = _load_tool()
    from spans import SparkCounters, plan_counts, plan_nodes

    fn = E.queries()["q01_pricing_summary"]
    row, plans = tool.profile_run(
        spark, SparkCounters(spark), fn, "/root/testdata/sf0.001"
    )
    assert row["jobs"] >= 1
    assert row["sql_execs"] >= 1
    assert len(plans) == row["sql_execs"]
    assert row["exchanges"] == sum(plan_counts(p)["exchanges"] for p in plans)
    assert sum(row["nodes"].values()) == sum(len(plan_nodes(p)) for p in plans)
    assert row["nodes"]["HashAggregate"] >= 1
    assert row["wall_s"] >= row["plan_s"] >= 0
