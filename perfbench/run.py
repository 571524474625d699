"""Repository benchmark: one workload, one closed-loop client, one JSON line.

    python3 perfbench/run.py --workload scene_queries --seed 1 --seconds 10 --trace 0

Run from the repository root.  The benchmark makes the workload's inputs
and oracle answers from ``--seed`` under ``.perfbench_work/`` (deleted on
exit, untimed), starts a Spark session on ``local[<cpus>]`` through the
engine's own ``get_spark``, sets the workload up, then sends one op at a
time — each after the previous one returned — until ``--seconds`` have
passed, and finally checks every op's output.  ``setup_s`` is the session
start plus the workload's set-up: engine work only.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer counters with
``--trace 1``.  The line before it carries workload detail (per-kind
latencies; per-op counters and the tracing overhead in a traced run).  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = ("sensor", "catalog", "pipeline", "queries", "reports", "operators")
LAYER_COUNTERS = (
    "calls", "busy_s", "plan_s", "driver_s", "jobs", "sql_execs", "stages",
    "tasks", "failed_tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "exec_run_s", "gc_s", "exchanges",
    "reused_exchanges", "python_nodes",
)
SPARK_COUNTERS = ("jobs", "sql_execs", "stages", "tasks", "driver_s", "exec_run_s", "gc_s")
EXTRA_METRICS = (
    "catalog.bytes_written", "catalog.files_written", "catalog.versions_on_disk",
    "catalog.read_files", "sensor.new_per_offered",
    "queries.rows_scanned_per_row_returned",
)


def unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes") or counter == "bytes_written":
        return "bytes"
    if counter in ("new_per_offered", "rows_scanned_per_row_returned"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{c}" for layer in LAYERS for c in LAYER_COUNTERS]
    names += ["session.calls", "session.busy_s"]
    names += [f"spark.{c}" for c in SPARK_COUNTERS] + ["spark.job_floor_s"]
    return names + list(EXTRA_METRICS)


def make_workload(name: str, seed: int, smoke: bool):
    if name == "scene_queries":
        from scene_queries import SceneQueries
        return SceneQueries(seed, smoke)
    if name == "operator_analytics":
        from operator_analytics import OperatorAnalytics
        return OperatorAnalytics(seed, smoke)
    raise ValueError(f"unknown workload {name!r}")


def failed_ops(done, results, expected, matches) -> list[str]:
    """Names of the ops that raised or whose output does not match the
    expected one; each counts as failed."""
    return [
        op.name for op, (ok, res), want in zip(done, results, expected)
        if not ok or not matches(res, want)
    ]


def configure_env(work: str) -> None:
    """Keep every file Spark or Python writes inside ``work`` and size the
    session to the CPUs this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    # Python workers unpickle task functions defined in perfbench modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the counter reader resolves every job, stage and SQL execution of a
        # traced span; keep them all for the length of one run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM it drives."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def job_floor_s(spark, n: int = 15) -> float:
    """Median wall time of a trivial one-task ``noop`` job."""
    times = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def call_medians(done, lat: list[float]) -> list[float]:
    """The median latency of each call (op name) over the run, one value
    per call; every block holds each call once."""
    by_call: dict[str, list[float]] = {}
    for op, x in zip(done, lat):
        by_call.setdefault(op.name, []).append(x)
    return [statistics.median(xs) for xs in by_call.values()]


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def layer_metrics(tracer, extras: dict, session_s: float, floor_s: float) -> dict:
    out = dict.fromkeys(per_layer_names(), 0)
    for sp in tracer.spans:
        out[f"{sp.layer}.calls"] += 1
        if not sp.counters:  # nested span: its work is booked on its parent
            continue
        layer = sp.layer
        # the session layer keeps only calls and busy_s
        for k, v in {"busy_s": sp.end - sp.start, "plan_s": sp.plan_s,
                     **sp.counters}.items():
            if f"{layer}.{k}" in out:
                out[f"{layer}.{k}"] += v
            if f"spark.{k}" in out:
                out[f"spark.{k}"] += v
    out["session.calls"] += 1
    out["session.busy_s"] += session_s
    out["spark.job_floor_s"] = floor_s
    out.update(extras)
    return out


def trace_overhead(tracer, lat: list[float]) -> dict:
    """Time the traced ops spent on tracing (reading counters, counting
    files), absolute and as a share of the same ops' untraced latency."""
    traced = [op for op in tracer.overhead if op is not None]
    spent = sum(tracer.overhead[op] for op in traced)
    busy = sum(lat[op] for op in traced)
    return {"trace_overhead_s": spent,
            "trace_overhead_frac": spent / (busy - spent) if busy > spent else 0.0}


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "eodatadown_spark", "__init__.py")):
        print("perfbench: eodatadown_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        configure_env(work)
        from eodatadown_spark.session import get_spark
        from spans import SparkCounters, Tracer

        wl = make_workload(args.workload, args.seed, args.smoke)
        wl.prepare(os.path.join(work, "inputs"))  # inputs and oracles: not engine work

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        session_s = time.perf_counter() - t
        tracer = Tracer(SparkCounters(spark) if args.trace else None)
        t = time.perf_counter()
        wl.setup(spark, tracer, os.path.join(work, "setup"))
        setup_s = session_s + time.perf_counter() - t

        floor_s = job_floor_s(spark) if args.trace else 0.0
        ops = wl.ops(wl.max_ops)
        done, lat, results = [], [], []
        cursors: dict = {}
        t_loop = time.perf_counter()
        for i, op in enumerate(ops):
            tracer.enabled = bool(args.trace) and i < wl.traced_ops
            ok, res = True, None
            t = time.perf_counter()
            try:
                with tracer.op(i):
                    res = wl.run(op, cursors)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            lat.append(time.perf_counter() - t)
            done.append(op)
            results.append((ok, res))
            wl.between_ops()
            # stop on a block boundary, so every run has the same op mix
            elapsed = time.perf_counter() - t_loop
            if (elapsed >= args.seconds and len(done) % wl.block == 0
                    and len(done) >= max(wl.min_ops, wl.traced_ops if args.trace else 0)):
                break
        loop_s = time.perf_counter() - t_loop
        tracer.enabled = False
        # results are put in comparable form after the loop, so that
        # neither this nor freeing blocks between ops is timed
        results = [(ok, wl.digest(res) if ok else None) for ok, res in results]

        wrong = failed_ops(done, results, wl.expected(done), wl.matches)
        attempted, failed = len(done), len(wrong)

        # each call's median latency over the run's blocks: a slow window
        # of the host that covers a minority of the blocks does not move it
        typical = call_medians(done, lat)
        details = {
            "workload": args.workload, "seed": args.seed, "ops": attempted,
            "blocks": attempted // wl.block,
            "failed_frac": failed / attempted, "failed_ops": wrong[:20],
            "session_start_s": session_s, "setup_s": setup_s,
            "loop_s": loop_s, "op_p50_s": statistics.median(lat),
            "op_geomean_s": statistics.geometric_mean(typical),
            # ops per second of a block made of every call's median latency
            "ops_per_s": len(typical) / sum(typical),
        }
        kinds: dict[str, list[float]] = {}
        for op, x in zip(done, lat):
            kinds.setdefault(op.kind, []).append(x)
        for kind, xs in kinds.items():
            details[f"{kind}_p50_s"] = statistics.median(xs)
            details[f"{kind}_n"] = len(xs)
        if attempted >= 100:
            details["op_p90_s"] = quantile(lat, 0.9)
        details["peak_rss_mb"] = peak_rss_mb(spark)
        details.update(wl.details())

        if args.trace:
            metrics = layer_metrics(tracer, wl.layer_extras(), session_s, floor_s)
            details["per_op"] = wl.per_op(tracer)
            details.update(trace_overhead(tracer, lat))
            units = {k: unit(k) for k in metrics}
        else:
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": details["ops_per_s"],
                "op_geomean_s": details["op_geomean_s"],
            }
            units = {"setup_s": "s", "ops_per_s": "1/s", "op_geomean_s": "s"}
        print(json.dumps(details, default=str))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (3k scenes, sf0.001) for the self-test")
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
