"""``operator_analytics``: batch analytics through the registry entries.

The op is one ``__spark_entry__.queries()`` entry run to completion over
generated TPC-H-shaped, event and document tables: the 13 headline entries
(one per operator family) plus the four whose time is spent at action
barriers (q120 BM25, q150/q154 incremental dedup, q156 clusters through a
stored index).  A run executes whole passes over the 17 entries, at least
one, freeing pinned blocks between ops.  The pass order is fixed: the first
entries of a fresh JVM pay its warm-up, and a seeded order would move that
cost from entry to entry and with it the median; the seed picks the
inputs.  The catalog code is never called.

Preparation, untimed, writes the tables and computes each entry's answer
from its ``oracle_sql()`` twin in DuckDB.  The twins of q24, q150 and q156
are quadratic or recursive and take minutes in DuckDB, so for those three
the answer was computed once by ``perfbench/pin_oracles.py`` and is pinned
in ``oracle_pins.json``; that is why the ``documents`` table, the only one
they read, is the same for every seed.  Set-up, timed, is the engine's own
table registration (``load_tables``).  Each entry's output is collected and
checked, order-insensitively, against its answer.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

import gen
from workload import Op

SF = 0.01
DOCS_SEED = 20_240_101
N_DOCS = 500
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
ENTRIES = (
    "q01_pricing_summary", "q02_date_range_page", "q05_inlist_month",
    "q07_keep_latest", "q10_revenue_by_nation", "q13_summary_stats",
    "q17_obs_date_rollup", "q20_text_profile", "q23_cosine_topk",
    "q24_minhash_neardup", "q26_window_rollup", "q29_sessionize",
    "q31_topk_per_group", "q120_bm25", "q150_incremental_clusters",
    "q154_incremental_simhash", "q156_clusters_via_stored_index",
)
PINNED = ("q24_minhash_neardup", "q150_incremental_clusters", "q156_clusters_via_stored_index")
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_pins.json")


def canonical(df: pd.DataFrame) -> dict:
    """A result as ``{"columns", "rows"}``, independent of row order, of
    column order and of how each engine types its integers, dates and
    timestamps.  Floats keep all their digits; :func:`matches` compares
    them."""
    cols = sorted(df.columns)
    data = []
    for col in cols:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).astype("datetime64[us]").astype(str)
        data.append([_cell(v) for v in s])
    rows = sorted((list(r) for r in zip(*data)), key=_row_key)
    return {"columns": cols, "rows": rows}


def _cell(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v) + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_cell(x) for x in v]
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _row_key(row: list) -> tuple:
    # floats sort on 6 significant digits, so that two engines' last-bit
    # differences cannot order the rows differently
    return tuple(
        (v is None, float(f"{v:.6g}") if isinstance(v, float) else 0 if v is None else v)
        for v in row
    )


def _last_place(values: list) -> float:
    """One unit in the last decimal place of a float column whose values all
    have 1-4 decimals (an engine rounded them), else 0."""
    floats = [v for v in values if isinstance(v, float)]
    if not floats or all(v == round(v) for v in floats):
        return 0.0
    for k in range(1, 5):
        if all(round(v, k) == v for v in floats):
            return 10.0 ** -k
    return 0.0


def _close(got, want, unit: float) -> bool:
    if isinstance(got, list) and isinstance(want, list):
        return len(got) == len(want) and all(_close(g, w, unit) for g, w in zip(got, want))
    numbers = (int, float)
    if (isinstance(got, numbers) and isinstance(want, numbers)
            and not isinstance(got, bool) and not isinstance(want, bool)):
        return abs(got - want) <= max(unit * (1 + 1e-6), 1e-9 * max(1.0, abs(got), abs(want)))
    return got == want


def matches(got: dict, want: dict) -> bool:
    """Same columns and rows; numbers equal to 1e-9 relative, or to one unit
    in the last place where the oracle's column is rounded: two engines sum
    floats in different orders, so ``round(sum(x), 2)`` can land one cent
    apart when the exact sum sits on a rounding boundary."""
    if got["columns"] != want["columns"] or len(got["rows"]) != len(want["rows"]):
        return False
    units = [_last_place([r[i] for r in want["rows"]]) for i in range(len(want["columns"]))]
    return all(
        _close(g, w, u)
        for grow, wrow in zip(got["rows"], want["rows"])
        for g, w, u in zip(grow, wrow, units)
    )


def make_tables(seed: int, sf: float = SF) -> dict[str, pd.DataFrame]:
    return gen.analytics_tables(
        np.random.default_rng(seed), sf, np.random.default_rng(DOCS_SEED), N_DOCS
    )


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


class OperatorAnalytics:
    block = min_ops = traced_ops = len(ENTRIES)
    max_ops = 10 * len(ENTRIES)

    def __init__(self, seed: int, smoke: bool = False):
        self.seed = seed
        self.sf = 0.001 if smoke else SF

    def prepare(self, work: str) -> None:
        import __spark_entry__ as E

        self.sf_dir = os.path.join(work, "sf")
        gen.write_tables(make_tables(self.seed, self.sf), self.sf_dir)
        with open(PINS_PATH, encoding="utf-8") as fh:
            pins = json.load(fh)
        oracles = E.oracle_sql()
        con = duckdb_views(self.sf_dir)
        self.want = {
            name: pins[name] if name in PINNED
            else canonical(con.execute(oracles[name]).df())
            for name in ENTRIES
        }
        con.close()
        self.entries = E.queries()

    def setup(self, spark, tracer, work: str) -> None:
        from eodatadown_spark.sources.testdata import load_tables

        self.spark, self.tracer = spark, tracer
        with tracer.span("session", "load_tables"):
            load_tables(spark, self.sf_dir)

    def ops(self, n: int) -> list[Op]:
        return [Op("entry", ENTRIES[i % len(ENTRIES)]) for i in range(n)]

    def run(self, op: Op, cursors: dict):
        with self.tracer.span("operators", op.name) as sp:
            df = sp.plan(lambda: self.entries[op.name](self.spark, self.sf_dir))
            return df.toPandas()

    def digest(self, result):
        return canonical(result)

    matches = staticmethod(matches)

    def between_ops(self) -> None:
        """Free the blocks an entry pinned, so the next op starts clean."""
        for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)

    def expected(self, executed: list[Op]) -> list:
        return [self.want[op.name] for op in executed]

    def details(self) -> dict:
        return {"sf": self.sf, "entries": len(ENTRIES), "documents": N_DOCS}

    def layer_extras(self) -> dict:
        return {}

    def per_op(self, tracer) -> dict:
        """Counters of each traced entry: q150's action chain reads here."""
        return {
            sp.name: {k: sp.counters[k] for k in ("sql_execs", "jobs", "stages", "exchanges")}
            | {"busy_s": sp.end - sp.start}
            for sp in tracer.spans if sp.counters
        }
