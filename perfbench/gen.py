"""Seeded input generation for the benchmark workloads.

Everything the engine reads in a benchmark run is made here from the
workload seed: a Landsat-index-shaped scene table (the shape of the
reference's BigQuery ``landsat_index`` payload, every column a string) and
the TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables the registry queries read.  The same seed gives
byte-identical inputs; the engine sees only the parquet files written here.

The table shapes follow the repository's test data (TESTDATA.md): same column
names and types, same value domains, ~5% copied documents of which most
carry an appended ``dup`` token, and row counts that scale with ``sf``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SCENE_FIRST_YEAR = 2016

_ORDER_T0 = np.datetime64("1995-01-01")
_ORDER_DAYS = int((np.datetime64("2001-08-01") - _ORDER_T0).astype(int))
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _day_strings(t0: np.datetime64, n_days: int, fmt: str) -> np.ndarray:
    """``fmt`` of every day in ``[t0, t0 + n_days)``, indexable by day offset."""
    stamps = pd.to_datetime(t0 + np.arange(n_days).astype("timedelta64[D]"))
    return np.asarray(stamps.strftime(fmt), dtype=object)


def scene_index(
    rng: np.random.Generator, n: int, years: int, first_id: int = 0
) -> pd.DataFrame:
    """``n`` distinct scenes acquired over ``years`` calendar years from
    ``SCENE_FIRST_YEAR``, sorted by acquisition date.  The ``product_id``'s
    field 4 is the processing date that keep-latest dedup parses: here the
    acquisition date plus 0–20 days."""
    t0 = np.datetime64(f"{SCENE_FIRST_YEAR}-01-01")
    span = int((np.datetime64(f"{SCENE_FIRST_YEAR + years}-01-01") - t0).astype(int))
    iso = _day_strings(t0, span + 400, "%Y-%m-%d")
    compact = _day_strings(t0, span + 400, "%Y%m%d")
    acq = np.sort(rng.integers(0, span, n))
    proc = acq + rng.integers(0, 21, n)
    ids = range(first_id, first_id + n)
    path = rng.integers(1, 234, n)
    row = rng.integers(1, 249, n)
    lat = rng.uniform(-75.0, 75.0, n).round(4)
    lon = rng.uniform(-178.0, 178.0, n).round(4)
    sid = [f"LC08_{i:07d}" for i in ids]
    acq_d = iso[acq]
    return pd.DataFrame(
        {
            "scene_id": sid,
            "product_id": [
                f"LC08_L1TP_{p:03d}{r:03d}_{a}_{c}_01_T1_{i}"
                for p, r, a, c, i in zip(path, row, compact[acq], compact[proc], ids)
            ],
            "spacecraft_id": "LANDSAT_8",
            "sensor_id": "OLI_TIRS",
            "date_acquired": acq_d,
            "sensing_time": [f"{d}T10:00:00.000000Z" for d in acq_d],
            "collection_number": "01",
            "collection_category": np.where(rng.random(n) < 0.8, "T1", "T2"),
            "data_type": "L1TP",
            "wrs_path": path.astype(str),
            "wrs_row": row.astype(str),
            "cloud_cover": rng.integers(0, 100, n).astype(str),
            "north_lat": (lat + 1.0).round(4).astype(str),
            "south_lat": (lat - 1.0).round(4).astype(str),
            "east_lon": (lon + 1.5).round(4).astype(str),
            "west_lon": (lon - 1.5).round(4).astype(str),
            "total_size": rng.integers(100_000_000, 1_500_000_000, n).astype(str),
            "base_url": [f"gs://gcp-public-data-landsat/{s}" for s in sid],
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False, compression="snappy")


def _n(base: int, sf: float, floor: int = 5) -> int:
    return max(floor, int(round(base * sf)))


def analytics_tables(
    rng: np.random.Generator, sf: float, docs_rng: np.random.Generator, n_docs: int
) -> dict[str, pd.DataFrame]:
    """The ten registry tables at scale factor ``sf`` (sf0.1: 150k orders,
    ~600k lineitems, 100k events, 2k embeddings).  The ``n_docs``-row
    ``documents`` table comes from ``docs_rng`` alone, so a caller can hold
    it fixed while the other tables follow the workload seed and scale."""
    n_cust, n_part, n_supp = _n(150_000, sf), _n(200_000, sf), _n(10_000, sf)
    n_ord = _n(1_500_000, sf)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
        "c_mktsegment": rng.choice(
            ["BUILDING", "FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"], n_cust
        ),
    })
    adjectives = ["large", "hot", "blue", "small", "green", "red", "old", "new"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(adjectives, n_part), " "), rng.choice(nouns, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (900.0 + (np.arange(n_part) % 1000) * 0.1).round(2),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
    })
    odays = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": rng.uniform(1000.0, 500_000.0, n_ord).round(2),
        "o_orderdate": pd.to_datetime(_ORDER_T0 + odays.astype("timedelta64[D]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(900.0, 2100.0, n_li)).round(2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pd.to_datetime(
            _ORDER_T0 + (np.repeat(odays, lines_per) + rng.integers(1, 122, n_li))
            .astype("timedelta64[D]")
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": _events(rng, sf),
        "documents": _documents(docs_rng, n_docs),
        "embeddings": _embeddings(rng, max(500, _n(20_000, sf))),
    }


def _events(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    n, n_users = _n(1_000_000, sf), _n(15_000, sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": rng.exponential(40.0, n).round(2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    copy = rng.random(n) < 0.05
    for i in range(n):
        if copy[i] and i > 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.95 else src)
        else:
            texts.append(" ".join(rng.choice(_VOCAB, lengths[i])))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + 0.6 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    for name, df in tables.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))

