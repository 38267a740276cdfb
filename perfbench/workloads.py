"""The three workloads: what one pass runs, and how its outputs are checked.

A pass is one full run of the workload:

- ``qc_pipeline``: the CLI's ``--full-suite --figs`` path over the
  generated sensor CSV — ``read_wide_csv`` -> ``melt_wide`` ->
  ``run_qc_pipeline`` -> ``write_outputs`` -> ``render_qc_figures``.
  One operation per pass.
- ``catalog_dedup`` / ``catalog_relational``: every listed catalog
  entry once, each built and then collected. One operation per entry.

Output checks run outside the timers.
"""

from __future__ import annotations

import decimal
import glob
import math
import os

import pandas as pd

DEDUP = ("dedup_clusters", "keepone_removal", "pagerank_purchases", "minhash_lsh_pairs")
RELATIONAL = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "rel_cube", "cdc_merge_on_read", "scd2_intervals",
)
CATALOGS = {"catalog_dedup": DEDUP, "catalog_relational": RELATIONAL}


# ------------------------------------------------------------------ qc_pipeline
def qc_pass(spark, manifest: dict, out_dir: str, tr) -> dict:
    """One CLI-equivalent pipeline run; returns what the check needs."""
    from wq_data_pipeline_spark.plans.qc_pipeline import (
        QCConfig,
        run_qc_pipeline,
        write_outputs,
    )
    from wq_data_pipeline_spark.report import render_qc_figures
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    with tr.span("sources.read_wide_csv"):
        wide = read_wide_csv(spark, manifest["csv"])
    with tr.span("sources.melt_wide"):
        readings = melt_wide(wide, manifest["variables"], station_col="station")
    with tr.span("plans.build"):
        out = run_qc_pipeline(readings, QCConfig(full_suite=True))
    with tr.span("plans.sink"):
        write_outputs(out, out_dir)
    with tr.span("report.figures") as sp:
        paths = render_qc_figures(
            out.timeseries, out.events, out.seasonal, os.path.join(out_dir, "figs")
        )
        sp["count"] = len(paths)
    # the pipeline caches its cleaned table; a CLI process would exit here
    spark.catalog.clearCache()
    return {"out_dir": out_dir, "figures": paths}


def check_qc(manifest: dict, result: dict) -> list[str]:
    """Problems found in one pass's outputs (empty list: correct)."""
    import pyarrow.dataset as ds

    from wq_data_pipeline_spark.report.figures import HAVE_MPL

    out_dir = result["out_dir"]
    problems = []
    wide = ds.dataset(
        os.path.join(out_dir, "qc_timeseries_wide"), format="parquet", partitioning="hive"
    ).to_table().to_pandas()
    wide["ts"] = _naive_utc(wide["ts"])
    wide["station"] = wide["station"].astype(str)
    if wide.duplicated(["station", "ts"]).any():
        problems.append("wide output has more than one row for some (station, ts)")
    if len(wide) != manifest["distinct_rows"]:
        problems.append(f"wide output has {len(wide)} rows, expected {manifest['distinct_rows']}")
    wide = wide.set_index(["station", "ts"])

    events = _read_csv_dir(os.path.join(out_dir, "events"))
    events["start"] = _naive_utc(events["start"])
    events["end"] = _naive_utc(events["end"])
    flat = events[events["type"] == "flat_values"]
    step = pd.Timedelta(minutes=15)
    for s in manifest["series"]:
        st, var = s["station"], s["variable"]
        col = f"{var}__clean"
        for t in s["sentinels"]:
            v = wide[col].get((st, pd.Timestamp(t)))
            if v is None or not pd.isna(v):
                problems.append(f"sentinel at {st}/{var}/{t} is not NULL in {col}")
        mine = flat[(flat["station"] == st) & (flat["variable"] == var)]
        for a, b in s["flat_runs"] + s["zero_runs"]:
            a, b = pd.Timestamp(a), pd.Timestamp(b)
            if not ((mine["start"] <= a + step) & (mine["end"] >= b)).any():
                problems.append(f"flat run {st}/{var} {a}..{b} has no flat_values event")
    for name in ("seasonal", "meta"):
        if _read_csv_dir(os.path.join(out_dir, name)).empty:
            problems.append(f"{name} output is empty")
    n_series = len(manifest["series"])
    expected = n_series * (9 if HAVE_MPL else 8)
    figs = result["figures"]
    if len(figs) != expected or not all(os.path.getsize(p) > 0 for p in figs):
        problems.append(f"{len(figs)} figures written, expected {expected} non-empty")
    return problems


def _read_csv_dir(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    frames = [pd.read_csv(p) for p in parts if os.path.getsize(p) > 0]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _naive_utc(col: pd.Series) -> pd.Series:
    return pd.to_datetime(col, utc=True).dt.tz_convert(None)


# ------------------------------------------------------------------ catalogs
def catalog_op(spark, fn, data_dir: str, tr) -> tuple[list[str], list]:
    """Build one catalog entry and collect its rows."""
    with tr.span("plans.build"):
        df = fn(spark, data_dir)
    with tr.span("plans.sink"):
        return df.columns, df.collect()


def check_entry(entry: str, columns: list[str], rows: list, sql: str, con) -> list[str]:
    """Compare collected rows with the entry's DuckDB oracle: same
    column names, row count and values, ignoring row order. Floats
    agree to 1e-9 relative."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(c.lower() for c in columns) != sorted(c.lower() for c in d_cols):
        return [f"{entry}: columns {sorted(columns)} vs oracle {sorted(d_cols)}"]
    if len(rows) != len(d_rows):
        return [f"{entry}: {len(rows)} rows vs oracle {len(d_rows)}"]
    a, b = _canon(columns, rows), _canon(d_cols, d_rows)
    bad = sum(1 for x, y in zip(a, b) if not _same_row(x, y))
    return [f"{entry}: {bad} rows differ from the oracle"] if bad else []


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, _sort_key(x)) for x in t))


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, tuple):
        return repr(tuple(_sort_key(x) for x in v))
    return f"{type(v).__name__}:{v}"


def _same_row(x, y) -> bool:
    return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, (str, bool)) or isinstance(b, (str, bool)):
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return _same_row(a, b)
    return a == b


def duck_con(data_dir: str, tables: dict[str, int]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
