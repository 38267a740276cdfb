"""CLI entry point — the engine's EP1 (reference: scripts/cli.py:4-16,
``wq-pipeline --csv --station --out --vars --wrtds-q-col``).

Usage:
    python -m wq_data_pipeline_spark.cli \
        --csv data.csv --station stn1 --out out/ --vars o2 ph \
        [--range VAR LO HI ...] [--wrtds-q-col discharge]
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="wq-spark-pipeline")
    p.add_argument("--csv", required=True, help="wide sensor CSV path")
    p.add_argument("--station", default=None, help="station filter value")
    p.add_argument("--station-field", default="station")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--vars", nargs="+", required=True, help="variable columns")
    p.add_argument(
        "--range",
        nargs=3,
        action="append",
        metavar=("VAR", "LO", "HI"),
        default=[],
        help="physical range bounds per variable (repeatable)",
    )
    p.add_argument("--timestamp-col", default="timestamp")
    p.add_argument("--wrtds-q-col", default=None)
    p.add_argument(
        "--full-suite",
        action="store_true",
        help="run the reference's complete 9-detector fallback flag "
        "suite (constants/plateau/variance/zscore/jumps/isolated/"
        "uniLOF at the reference's parameters) instead of the lean "
        "range+missing+robust-z set",
    )
    p.add_argument(
        "--figs",
        action="store_true",
        help="emit the per-variable figure set (S7; reference figs/ dir) "
        "to OUT/figs — PNG with matplotlib, SVG otherwise",
    )
    p.add_argument(
        "--tz",
        default=None,
        metavar="ZONE",
        help="treat CSV timestamps as naive wall-clock in ZONE and "
        "localize to UTC with the reference's DST policy "
        "(ambiguous/nonexistent -> dropped, i.e. tz_localize NaT)",
    )
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from wq_data_pipeline_spark.plans.qc_pipeline import (
        QCConfig,
        run_qc_pipeline,
        write_outputs,
    )
    from wq_data_pipeline_spark.session import get_spark
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    spark = get_spark(app_name="wq-spark-pipeline")
    wide = read_wide_csv(
        spark,
        args.csv,
        timestamp_col=args.timestamp_col,
        station_field=args.station_field if args.station else None,
        station_value=args.station,
    )
    if args.tz:
        from wq_data_pipeline_spark.sources.csv_source import localize_naive_timestamps

        wide = localize_naive_timestamps(wide, args.timestamp_col, args.tz)
        wide = wide.filter(wide[args.timestamp_col].isNotNull())  # NaT policy drops
    station_col = args.station_field if args.station_field in wide.columns else None
    readings = melt_wide(
        wide,
        args.vars,
        timestamp_col=args.timestamp_col,
        station_col=station_col,
        station_literal=args.station or "",
    )
    cfg = QCConfig(
        range_map={v: (float(lo), float(hi)) for v, lo, hi in args.range},
        full_suite=args.full_suite,
    )
    out = run_qc_pipeline(readings, cfg)
    if args.wrtds_q_col and args.wrtds_q_col in wide.columns:
        from wq_data_pipeline_spark.operators.wrtds import wrtds_buster, wrtds_residuals

        q_long = melt_wide(
            wide, [args.wrtds_q_col], timestamp_col=args.timestamp_col,
            station_col=station_col, station_literal=args.station or "",
        ).withColumnRenamed("value", "q").drop("variable")
        joined = out.timeseries.select(
            "station", "variable", "ts", "clean"
        ).withColumnRenamed("clean", "value").join(q_long, ["station", "ts"], "left")
        res = wrtds_residuals(joined, q_col="q")
        wrtds_buster(res).write.mode("overwrite").option("header", True).csv(
            f"{args.out}/wrtds_spikes"
        )
    write_outputs(out, args.out)
    if args.figs:
        from wq_data_pipeline_spark.report import render_qc_figures

        paths = render_qc_figures(
            out.timeseries, out.events, out.seasonal, f"{args.out}/figs"
        )
        print(f"wrote {len(paths)} figures to {args.out}/figs")
    out.unpin()
    print(f"wrote QC outputs to {args.out}")


if __name__ == "__main__":
    main()
