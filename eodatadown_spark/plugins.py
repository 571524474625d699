"""User-analysis plugin surface (P1).

Reference API (eodatadownuseranalysis.py:40-173): plugins subclass an
abstract class with `perform_analysis(scn_db_obj, sens_obj) ->
(success, out_dict, outputs)`, registered via JSON config and dynamically
imported; the runner records a plugin_results row per (scene, plugin)
(eodatadownlandsatgoogsensor.py:1679-1814).

Spark-first: a plugin is a plain Python callable `fn(scene: dict) ->
(success: bool, out: dict, outputs: bool)` executed on executors via
mapInPandas over the scheduled scenes; every (scene, plugin) run yields one
plugin_results row, appended in ONE batch.
"""

from __future__ import annotations

import json
import traceback
from typing import Callable, Mapping

from pyspark.sql import DataFrame

from eodatadown_spark import schemas
from eodatadown_spark.queries import get_scnlist_usr_analysis

PluginFn = Callable[[dict], tuple[bool, dict, bool]]


def run_plugins(
    scenes: DataFrame,
    plugin_results: DataFrame,
    plugins: Mapping[str, PluginFn],
) -> DataFrame:
    """Run every configured plugin on every scheduled scene (J2 scheduling),
    returning NEW plugin_results rows (caller appends to the catalog).

    The error path matches the reference: an exception produces a row with
    completed=True, success=False, error=True and {error, traceback} in
    extended_info (eodatadownlandsatgoogsensor.py:1760-1790).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    todo_pids = get_scnlist_usr_analysis(scenes, plugin_results, list(plugins))
    # per-scene pending plugin list computed SET-BASED (the completed pairs
    # stay distributed — no driver collect of the results table)
    plugin_df = scenes.sparkSession.createDataFrame(
        [(p,) for p in plugins], "plugin_name string"
    )
    completed = plugin_results.where(F.col("completed") == True).select(  # noqa: E712
        F.col("scene_pid").alias("pid"), "plugin_name"
    )
    pending = (
        todo_pids.crossJoin(F.broadcast(plugin_df))
        .join(completed, ["pid", "plugin_name"], "left_anti")
        .groupBy("pid")
        .agg(F.collect_list("plugin_name").alias("__pending"))
    )
    todo = scenes.join(pending, "pid")
    plugin_fns = dict(plugins)

    def _runner(batches):
        import datetime as dt

        rows = []
        for pdf in batches:
            for scene in pdf.to_dict("records"):
                pending_names = set(scene.pop("__pending"))
                for name, fn in plugin_fns.items():
                    if name not in pending_names:
                        continue
                    start = dt.datetime.utcnow()
                    try:
                        success, out, outputs = fn(scene)
                        info = json.dumps(out) if out else None
                        err = False
                    except Exception as exc:  # error row, not task failure
                        success, outputs, err = False, False, True
                        info = json.dumps(
                            {"error": str(exc), "traceback": traceback.format_exc()}
                        )
                    rows.append(
                        {
                            "scene_pid": scene["pid"],
                            "plugin_name": name,
                            "start_date": start,
                            "end_date": dt.datetime.utcnow(),
                            "completed": True,
                            "success": success,
                            "outputs": outputs,
                            "error": err,
                            "extended_info": info,
                        }
                    )
        yield pd.DataFrame(rows) if rows else pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in schemas.PLUGIN_RESULTS.fields}
        )

    return todo.mapInPandas(_runner, schema=schemas.PLUGIN_RESULTS)
