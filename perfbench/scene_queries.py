"""``scene_queries``: the reference's read surface against a prepared
scene catalog.

Preparation, untimed, generates the four-year scene index.  Set-up, timed,
builds a Landsat catalog from it the way a deployment does: the index is
ingested with ``check_new_scns`` (one ``p_year`` partition per year), then
``run_stage`` marks a seeded half of the scenes downloaded, which rewrites
every partition through ``merge_updates`` and leaves merge-written files
beside the ingest's; one block of every call then warms the query surface.
The timed loop is one closed-loop client issuing every call of the query
surface once per block, in seeded order, each against a fresh
``read_clean`` of the catalog as a service request would.
Every result is checked afterwards, untimed, against DuckDB over the same
catalog snapshot.

No deployment trace of this surface exists, so the traffic takes the
assumption with no tuned shares: each call equally often, scenes staged
by a fair coin, and arguments drawn uniformly over their domains, except
that a date window is a calendar month ``k`` months back with probability
proportional to ``1 / (k + 1)``, so recent months are asked for most and
repeat.  See perfbench/README.md, "Traffic".
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter
from contextlib import contextmanager

import duckdb
import numpy as np

import gen
from workload import Op, same

N_SCENES = 50_000
YEARS = 4
PAGE = 20
TABLE = "landsat_scenes"
SENSOR = "LandsatGOOG"

# (kind, call): one block holds each call once, shuffled; the kind groups
# calls for the per-kind medians of the detail line
CALLS = (
    ("page", "query_scn_records_date"), ("page", "query_scn_records_date_bbox"),
    ("keyset", "query_scn_records_date_keyset"),
    ("count", "query_scn_records_date_count"),
    ("count", "query_scn_records_date_bbox_count"),
    ("lookup", "get_scn_record"), ("lookup", "has_scn_download"),
    ("dates", "find_unique_scn_dates"), ("dates", "get_scns_for_date"),
    ("todo", "get_scnlist_download"), ("todo", "get_scnlist_con2ard"),
    ("report", "sensor_summary_counts"), ("report", "column_stats"),
    ("report", "build_obs_date_records"),
)


class SceneQueries:
    max_ops = 100 * len(CALLS)
    block = len(CALLS)
    # at least three blocks, so that every call's median has three samples
    # even on a host slow enough to pass --seconds early
    min_ops = 3 * len(CALLS)
    traced_ops = 2 * len(CALLS)  # a traced run books counters for this fixed prefix

    def __init__(self, seed: int, smoke: bool = False):
        self.seed = seed
        self.n_scenes = 3_000 if smoke else N_SCENES

    # -- preparation and set-up --------------------------------------------
    def prepare(self, work: str) -> None:
        self.index_path = os.path.join(work, "index.parquet")
        gen.write_parquet(
            gen.scene_index(np.random.default_rng(self.seed), self.n_scenes, YEARS),
            self.index_path,
        )

    def setup(self, spark, tracer, work: str) -> None:
        from pyspark.sql import functions as F

        from eodatadown_spark.catalog import ParquetCatalog
        from eodatadown_spark.sensor import get_sensor_obj
        from eodatadown_spark.sources.index_adapters import landsat_index_scenes

        self.spark, self.tracer = spark, tracer
        self.bytes_written = self.files_written = 0
        self.read_files = self.rows_returned = 0
        self.cat = ParquetCatalog(spark, os.path.join(work, "catalog"))
        self.sensor = get_sensor_obj(SENSOR, self.cat)
        with tracer.span("sensor", "init_sensor_db"), self._writes():
            self.sensor.init_sensor_db()
        raw = spark.read.parquet(self.index_path)
        with tracer.span("sensor", "check_new_scns") as sp, self._writes():
            offered = sp.plan(lambda: landsat_index_scenes(raw))
            self.n_new = self.sensor.check_new_scns(offered)
        self.n_offered = self.n_scenes
        # a seeded fair coin per scene
        coin = F.pmod(F.xxhash64(F.lit(self.seed), F.col("scene_id")), F.lit(2)) == 0
        with tracer.span("pipeline", "run_stage") as sp, self._writes():
            todo = sp.plan(lambda: self.cat.read_clean(TABLE).where(coin).select("pid"))
            self.sensor.run_stage(
                todo, _mark_downloaded,
                "pid long, downloaded boolean, download_path string",
            )
        # a service answers warm: one untraced block of every call, with
        # its own arguments, compiles the query surface before the loop
        traced, tracer.enabled = tracer.enabled, False
        try:
            cursors: dict = {}
            for op in self.ops(len(CALLS), stream=2):
                self.run(op, cursors)
        finally:
            tracer.enabled = traced

    @contextmanager
    def _writes(self):
        """Book the parquet files a call creates (hard links to files of an
        earlier version are not new bytes) while tracing."""
        if not self.tracer.enabled:
            yield
            return
        with self.tracer.bookkeeping():
            before = _parquet_inodes(self.cat.root)
        yield
        with self.tracer.bookkeeping():
            new = {k: v for k, v in _parquet_inodes(self.cat.root).items() if k not in before}
        self.files_written += len(new)
        self.bytes_written += sum(new.values())

    # -- the op list ------------------------------------------------------
    def ops(self, n: int, stream: int = 1) -> list[Op]:
        """``n`` ops in shuffled blocks that hold every call in ``CALLS``
        once.  The seed decides the order, the windows and the keys.

        * OFFSET pages: a month window, a cloud threshold uniform over
          0-100, and a page one deeper than the last request for the same
          call and month, as a client paging on would;
        * keyset pages: one chain through one month window, each page from
          the previous page's cursor;
        * boxes: corners uniform over the globe; lookups: a uniform pid;
          ``get_scns_for_date``: a uniform day of a month window."""
        rng = np.random.default_rng([self.seed, stream])
        months = YEARS * 12
        recency = 1.0 / np.arange(1, months + 1)
        recency /= recency.sum()
        keyset_window = _month(int(rng.choice(months, p=recency)))
        asked: Counter = Counter()
        out: list[Op] = []
        while len(out) < n:
            for i in rng.permutation(len(CALLS)):
                kind, name = CALLS[i]
                recent, older = _month(int(rng.choice(months, p=recency)))
                args: dict = {}
                if kind == "page":
                    args = dict(recent=recent, older=older,
                                cloud=float(rng.integers(0, 101)),
                                start_rec=asked[name, recent] * PAGE,
                                bbox=_bbox(rng) if "bbox" in name else None)
                    asked[name, recent] += 1
                elif kind == "keyset":
                    args = dict(recent=keyset_window[0], older=keyset_window[1])
                elif kind == "count":
                    args = dict(recent=recent, older=older,
                                bbox=_bbox(rng) if "bbox" in name else None)
                elif kind == "lookup":
                    args = dict(pid=int(rng.integers(0, self.n_scenes)))
                elif name == "get_scns_for_date":
                    first = dt.date.fromisoformat(older)
                    days = (dt.date.fromisoformat(recent) - first).days + 1
                    args = dict(day=(first + dt.timedelta(days=int(rng.integers(0, days)))).isoformat())
                out.append(Op(kind, name, args))
        return out[:n]

    # -- running one op ---------------------------------------------------
    def run(self, op: Op, cursors: dict):
        from eodatadown_spark import queries as Q
        from eodatadown_spark import reports as R

        tr, a = self.tracer, op.args
        if op.name == "has_scn_download":  # the facade reads the catalog itself
            with tr.span("sensor", op.name):
                return self.sensor.has_scn_download(a["pid"])
        with tr.span("catalog", "read_clean") as sp:
            scenes = sp.plan(lambda: self.cat.read_clean(TABLE))
        if tr.enabled:
            with tr.bookkeeping():
                self.read_files += len(_parquet_inodes(self.cat.data_path(TABLE)))
        layer = "reports" if op.kind == "report" else "queries"
        with tr.span(layer, op.name) as sp:
            if op.kind == "report":
                if op.name == "build_obs_date_records":
                    obs, bridge = sp.plan(lambda: R.build_obs_date_records(scenes, SENSOR))
                    return ([r[0] for r in obs.select("obs_date").orderBy("obs_date").collect()],
                            bridge.count())
                fn = {"sensor_summary_counts": lambda: R.sensor_summary_counts(scenes),
                      "column_stats": lambda: R.column_stats(scenes, "total_size")}[op.name]
                return tuple(sp.plan(fn).first())
            df = sp.plan(lambda: _query(Q, scenes, op, cursors))
            rows = df.collect()
        if tr.enabled:
            self.rows_returned += len(rows)
        if op.kind == "keyset" and rows:
            cursors["keyset"] = (rows[-1][0], rows[-1][1])
        if op.kind == "count":
            return rows[0][0]
        return [tuple(r) for r in rows]

    def digest(self, result):
        return result

    matches = staticmethod(same)

    def between_ops(self) -> None:
        pass

    # -- reporting ----------------------------------------------------------
    def details(self) -> dict:
        return {"scenes": self.n_scenes, "years": YEARS}

    def layer_extras(self) -> dict:
        scanned = sum(sp.counters.get("input_records", 0)
                      for sp in self.tracer.spans if sp.layer == "queries")
        versions = [d for d in os.listdir(os.path.join(self.cat.root, TABLE))
                    if d.startswith("v_")]
        return {
            "catalog.bytes_written": self.bytes_written,
            "catalog.files_written": self.files_written,
            "catalog.versions_on_disk": len(versions),
            "catalog.read_files": self.read_files,
            "sensor.new_per_offered": self.n_new / self.n_offered,
            "queries.rows_scanned_per_row_returned": scanned / max(1, self.rows_returned),
        }

    def per_op(self, tracer) -> dict:
        """Jobs and SQL executions per call, by op name, over the traced ops."""
        out: dict = {}
        for sp in tracer.spans:
            if sp.op is None or not sp.counters:
                continue
            row = out.setdefault(f"{sp.layer}.{sp.name}", {"calls": 0, "jobs": 0, "sql_execs": 0})
            row["calls"] += 1
            row["jobs"] += sp.counters["jobs"]
            row["sql_execs"] += sp.counters["sql_execs"]
        return out

    # -- checking ---------------------------------------------------------
    def expected(self, executed: list[Op]) -> list:
        """DuckDB answers for the executed ops, over the catalog's current
        version (the loop never writes, so it is the snapshot the ops read)."""
        con = duckdb.connect()
        con.execute("SET threads=2")
        path = os.path.join(self.cat.data_path(TABLE), "**", "*.parquet")
        con.execute(
            f"CREATE VIEW s AS SELECT * EXCLUDE (p_year) FROM "
            f"read_parquet('{path}', hive_partitioning=true)"
        )
        cursors: dict = {}
        out = []
        for op in executed:
            out.append(_duck(con, op, cursors))
        con.close()
        return out


def _parquet_inodes(root: str) -> dict[int, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[st.st_ino] = st.st_size
    return out


def _mark_downloaded(scene: dict) -> dict:
    return {"pid": scene["pid"], "downloaded": True,
            "download_path": f"/data/landsat/{scene['pid']}"}


def _month(back: int) -> tuple[str, str]:
    """The calendar month ``back`` months before the newest one, as the
    ``(recent, older)`` bounds the date queries take."""
    m = (gen.SCENE_FIRST_YEAR + YEARS) * 12 - 1 - back
    first = dt.date(m // 12, m % 12 + 1, 1)
    last = dt.date((m + 1) // 12, (m + 1) % 12 + 1, 1) - dt.timedelta(days=1)
    return last.isoformat(), first.isoformat()


def _bbox(rng) -> tuple[float, float, float, float]:
    """(west, east, south, north), corners uniform over the globe."""
    w, e = sorted(float(x) for x in rng.uniform(-180.0, 180.0, 2).round(2))
    s, n = sorted(float(x) for x in rng.uniform(-90.0, 90.0, 2).round(2))
    return (w, e, s, n)


_COLS = ("pid", "date_acquired")


def _query(Q, scenes, op: Op, cursors: dict):
    a = op.args
    if op.name == "query_scn_records_date":
        return Q.query_scn_records_date(
            scenes, a["recent"], a["older"], cloud_thres=a["cloud"],
            start_rec=a["start_rec"], n_recs=PAGE).select(*_COLS)
    if op.name == "query_scn_records_date_bbox":
        return Q.query_scn_records_date_bbox(
            scenes, a["recent"], a["older"], a["bbox"], cloud_thres=a["cloud"],
            start_rec=a["start_rec"], n_recs=PAGE).select(*_COLS)
    if op.name == "query_scn_records_date_keyset":
        return Q.query_scn_records_date_keyset(
            scenes, a["recent"], a["older"], after=cursors.get("keyset"),
            n_recs=PAGE).select("date_acquired", "pid")
    if op.name == "query_scn_records_date_count":
        return Q.query_scn_records_date_count(scenes, a["recent"], a["older"])
    if op.name == "query_scn_records_date_bbox_count":
        return Q.query_scn_records_date_bbox_count(
            scenes, a["recent"], a["older"], a["bbox"])
    if op.name == "get_scn_record":
        return Q.get_scn_record(scenes, a["pid"]).select(
            "pid", "scene_id", "product_id", "downloaded")
    if op.name == "find_unique_scn_dates":
        return Q.find_unique_scn_dates(scenes)
    if op.name == "get_scns_for_date":
        return Q.get_scns_for_date(scenes, a["day"]).select("pid")
    if op.name == "get_scnlist_download":
        return Q.get_scnlist_download(scenes)
    if op.name == "get_scnlist_con2ard":
        return Q.get_scnlist_con2ard(scenes)
    raise ValueError(op.name)


def _duck(con, op: Op, cursors: dict):
    a = op.args
    rows = lambda sql, *p: con.execute(sql, list(p)).fetchall()  # noqa: E731
    win = "NOT invalid AND date_acquired <= ?::DATE AND date_acquired >= ?::DATE"
    box = ("east_lon > ? AND ? > west_lon AND north_lat > ? AND ? > south_lat")
    if op.kind == "page":
        sql = f"SELECT pid, date_acquired FROM s WHERE {win} AND cloud_cover <= ?"
        params = [a["recent"], a["older"], a["cloud"]]
        if a["bbox"] is not None:
            sql += f" AND {box}"
            params += list(a["bbox"])
        sql += f" ORDER BY date_acquired DESC, pid LIMIT {PAGE} OFFSET {a['start_rec']}"
        return [tuple(r) for r in rows(sql, *params)]
    if op.kind == "keyset":
        cur = cursors.get("keyset")
        sql = f"SELECT date_acquired, pid FROM s WHERE {win}"
        params = [a["recent"], a["older"]]
        if cur is not None:
            sql += " AND (date_acquired, pid) > (?::DATE, ?)"
            params += [cur[0].isoformat(), cur[1]]
        got = rows(sql + f" ORDER BY date_acquired, pid LIMIT {PAGE}", *params)
        if got:
            cursors["keyset"] = got[-1]
        return [tuple(r) for r in got]
    if op.kind == "count":
        sql = f"SELECT count(*) FROM s WHERE {win}"
        params = [a["recent"], a["older"]]
        if a["bbox"] is not None:
            sql += f" AND {box}"
            params += list(a["bbox"])
        return rows(sql, *params)[0][0]
    if op.name == "get_scn_record":
        return [tuple(r) for r in rows(
            "SELECT pid, scene_id, product_id, downloaded FROM s WHERE pid = ?", a["pid"])]
    if op.name == "has_scn_download":
        return bool(rows("SELECT downloaded FROM s WHERE pid = ?", a["pid"])[0][0])
    if op.name == "find_unique_scn_dates":
        return [tuple(r) for r in rows(
            "SELECT DISTINCT date_acquired FROM s WHERE NOT invalid ORDER BY 1 DESC")]
    if op.name == "get_scns_for_date":
        return [tuple(r) for r in rows(
            "SELECT pid FROM s WHERE NOT invalid AND date_acquired = ?::DATE ORDER BY pid",
            a["day"])]
    if op.name == "get_scnlist_download":
        return [tuple(r) for r in rows(
            "SELECT pid FROM s WHERE NOT downloaded AND NOT invalid "
            "ORDER BY date_acquired, pid")]
    if op.name == "get_scnlist_con2ard":
        return [tuple(r) for r in rows(
            "SELECT pid FROM s WHERE downloaded AND NOT ardproduct AND NOT invalid "
            "ORDER BY date_acquired, pid")]
    if op.name == "sensor_summary_counts":
        return tuple(rows(
            "SELECT count(*), sum(CASE WHEN NOT invalid THEN 1 ELSE 0 END), "
            "sum(CASE WHEN invalid THEN 1 ELSE 0 END), "
            "sum(CASE WHEN downloaded THEN 1 ELSE 0 END), "
            "sum(CASE WHEN ardproduct THEN 1 ELSE 0 END), "
            "sum(CASE WHEN dcloaded THEN 1 ELSE 0 END), "
            "sum(CASE WHEN archived THEN 1 ELSE 0 END) FROM s")[0])
    if op.name == "column_stats":
        return tuple(rows(
            "SELECT count(total_size), round(sum(total_size), 4), round(avg(total_size), 4), "
            "round(min(total_size), 4), round(max(total_size), 4), "
            "round(stddev_samp(total_size), 4), "
            "round(quantile_cont(total_size, 0.25), 4), round(quantile_cont(total_size, 0.5), 4), "
            "round(quantile_cont(total_size, 0.75), 4) FROM s WHERE total_size IS NOT NULL")[0])
    if op.name == "build_obs_date_records":
        dates = [r[0] for r in rows(
            "SELECT DISTINCT date_acquired FROM s WHERE NOT invalid ORDER BY 1")]
        n = rows("SELECT count(*) FROM (SELECT DISTINCT spacecraft_id, date_acquired, pid "
                 "FROM s WHERE NOT invalid)")[0][0]
        return (dates, n)
    raise ValueError(op.name)
