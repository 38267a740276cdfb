"""Seeded benchmark inputs. The same seed always gives the same files.

- ``sensor_csv``: the wide 15-minute sensor CSV for ``qc_pipeline``,
  with a ground-truth manifest of every injected anomaly.
- ``catalog_tables``: the parquet tables the catalog entries read
  (``region`` .. ``embeddings``), drawn with the same schemas and value
  ranges as the engine's synthetic TPC-H-style test tables.

Only numpy, pandas and pyarrow are used: no Spark job runs here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STEP = pd.Timedelta(minutes=15)
SENTINEL = -9999.0


# ------------------------------------------------------------------ sensor CSV
def sensor_csv(out_dir: str, seed: int, stations: int, variables: int, days: int) -> dict:
    """Write ``out_dir/sensors.csv`` (columns timestamp, station, v0..)
    and return its manifest.

    Every series gets, on disjoint stretches of its timeline: sentinel
    readings, flat runs of 4-8 h, zero runs of 3-5 h, single-point
    spikes, and data gaps of 3-6 h (rows dropped). Some rows are written
    twice (duplicate timestamps). Anomalies never touch each other or a
    gap, so each one stays visible to its detector.
    """
    rng = np.random.default_rng(seed)
    n = days * 96
    ts = pd.date_range("2023-01-01", periods=n, freq=STEP)
    names = [f"v{j}" for j in range(variables)]
    manifest = {"stations": [], "variables": names, "series": [], "distinct_rows": 0}
    frames = []
    for s in range(stations):
        station = f"st{s:02d}"
        manifest["stations"].append(station)
        # one shared timeline per station: gaps and duplicate rows are
        # row-level, so they are drawn once per station
        slots = _slots(n, variables, rng)
        keep = np.ones(n, dtype=bool)
        gaps = []
        for a, b in slots.pop("gap"):
            keep[a:b] = False
            gaps.append([_iso(ts[a]), _iso(ts[b - 1])])
        df = pd.DataFrame({"timestamp": ts, "station": station})
        for j, var in enumerate(names):
            phase = rng.uniform(0, 2 * np.pi)
            base = 10.0 + 5.0 * j
            x = base + 3.0 * np.sin(np.arange(n) * 2 * np.pi / 96 + phase)
            x = np.round(x + rng.normal(0.0, 0.3, n), 3)
            series = {"station": station, "variable": var, "sentinels": [], "flat_runs": [],
                      "zero_runs": [], "spikes": []}
            for a, b in slots["flat"][j]:
                x[a:b] = np.round(base + rng.uniform(-1, 1), 3)
                series["flat_runs"].append([_iso(ts[a]), _iso(ts[b - 1])])
            for a, b in slots["zero"][j]:
                x[a:b] = 0.0
                series["zero_runs"].append([_iso(ts[a]), _iso(ts[b - 1])])
            for i in slots["sentinel"][j]:
                x[i] = SENTINEL
                series["sentinels"].append(_iso(ts[i]))
            for i in slots["spike"][j]:
                x[i] = np.round(x[i] + 40.0, 3)
                series["spikes"].append(_iso(ts[i]))
            df[var] = x
            series["gaps"] = gaps
            manifest["series"].append(series)
        df = df[keep]
        dup = df.iloc[slots["dup_rows"]].copy()
        frames.append(pd.concat([df, dup]).sort_values("timestamp", kind="stable"))
        manifest["distinct_rows"] += int(keep.sum())
    wide = pd.concat(frames, ignore_index=True)
    wide["timestamp"] = wide["timestamp"].dt.strftime("%Y-%m-%d %H:%M:%S")
    path = os.path.join(out_dir, "sensors.csv")
    wide.to_csv(path, index=False)
    manifest["csv"] = path
    manifest["rows"] = len(wide)
    manifest["long_rows"] = len(wide) * variables
    return manifest


def _slots(n: int, variables: int, rng: np.random.Generator) -> dict:
    """Carve a station's timeline into disjoint anomaly stretches,
    each padded by 12 clean points on both sides."""
    pad = 12
    weeks = n // (7 * 96)
    free = [(i * 7 * 96, (i + 1) * 7 * 96) for i in range(weeks)]
    rng.shuffle(free)
    if weeks < max(1, weeks // 13) + 5 * variables + 1:
        raise ValueError(f"{n} points are too few for {variables} variables")
    out = {"gap": [], "flat": {}, "zero": {}, "sentinel": {}, "spike": {}}

    def take(length: int) -> tuple[int, int]:
        a, b = free.pop()
        start = int(rng.integers(a + pad, b - pad - length))
        return start, start + length

    for _ in range(max(1, weeks // 13)):
        out["gap"].append(take(int(rng.integers(12, 25))))
    # every variable gets its own stretches, drawn from the weeks left
    for j in range(variables):
        out["flat"][j] = [take(int(rng.integers(16, 33))) for _ in range(2)]
        out["zero"][j] = [take(int(rng.integers(12, 21)))]
        a, b = take(60)
        out["sentinel"][j] = list(range(a, b, 10))
        a, b = take(40)
        out["spike"][j] = [a + 20]
    # duplicate rows come from one more clean week
    a, b = free.pop()
    out["dup_rows"] = list(range(a + pad, a + pad + 30))
    return out


def _iso(t: pd.Timestamp) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


# ------------------------------------------------------------ catalog tables
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
LANGS = (("en", 0.44), ("es", 0.14), ("zh", 0.14), ("de", 0.14), ("fr", 0.14))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def catalog_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten catalog tables as ``out_dir/<name>.parquet`` and
    return their row counts. ``scale`` plays the role of the TPC-H
    scale factor for the relational tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = 500
    n_vec = 500
    day0 = np.datetime64("1995-01-01")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def key(k):
        return np.arange(k, dtype=np.int64)

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": key(n_cust),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        "supplier": {"s_suppkey": key(n_supp),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
    }
    colors = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = {
        "p_partkey": key(n_part),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    }
    tables["orders"] = {
        "o_orderkey": key(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(day0, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.9, 1.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(day0, rng.integers(1, 2499, n_line)),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": key(n_ev),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(49.6, n_ev) + 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_vec)

    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        if name == "embeddings":
            t = t.set_column(1, "embedding", pa.array(cols["embedding"], pa.list_(pa.float32())))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def _days(day0: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    """Midnight timestamps (not dates: the tables store TIMESTAMP)."""
    return (day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-bag documents; about 5% are an earlier document plus " dup",
    so the dedup entries find near-duplicate pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(9, 100))
        texts.append(" ".join(rng.choice(WORDS, k)))
    langs, probs = zip(*LANGS)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n, p=probs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Unit vectors around ten label centres; about 5% are a tiny
    perturbation of an earlier vector (embedding near-duplicates)."""
    centres = rng.normal(0.0, 0.02, (10, dim))
    labels = rng.integers(0, 10, n)
    v = centres[labels] + rng.normal(0.0, 0.125, (n, dim))
    for i in range(20, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            v[i] = v[j] + rng.normal(0.0, 1e-3, dim)
            labels[i] = labels[j]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in v],
        "label": labels.astype(np.int32),
    }
