"""EP3 standalone SentemQC CLI — the engine's equivalent of running
``python scripts/sentemqc.py`` in the reference
(run_sentemqc_on_file -> run_sentemqc_on_dataframe -> CSV export,
scripts/sentemqc.py:173-185).

Usage:
    python -m wq_data_pipeline_spark.sentem_cli \
        --csv data.csv --out out_dir \
        --var o2 400 [--var no3 157787 ...] \
        [--nitrate no3] [--calibration o2 0.06] \
        [--start "2024-01-01" --end "2024-06-30"]

Output: ``OUT/sentemqc_wide`` — one header CSV with the original
wide columns joined to the reference's QC export columns
(``{var}__flag_global`` .. ``{var}__masked``, scripts/sentemqc.py:159-164).
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="wq-spark-sentemqc")
    p.add_argument("--csv", required=True, help="wide sensor CSV path")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument(
        "--var",
        nargs=2,
        action="append",
        metavar=("NAME", "CODE"),
        required=True,
        help="variable column + SentemQC sensor code (repeatable; codes "
        "400, 410, 157787, 2477034, 2477787 carry the reference's "
        "published pass parameters)",
    )
    p.add_argument(
        "--nitrate",
        action="append",
        default=[],
        metavar="NAME",
        help="variables measured as NO3 (converted to N for flagging, "
        "bands exported back in NO3 units)",
    )
    p.add_argument(
        "--calibration",
        nargs=2,
        action="append",
        metavar=("NAME", "OFFSET"),
        default=[],
        help="additive calibration offset per variable",
    )
    p.add_argument("--start", default=None, help="inclusive slice start")
    p.add_argument("--end", default=None, help="inclusive slice end")
    p.add_argument("--timestamp-col", default="timestamp")
    p.add_argument("--station", default="", help="station label for the long table")
    return p


def _var_map(parser: argparse.ArgumentParser, args: argparse.Namespace) -> list:
    """The SentemVar list of the parsed arguments; every bad value is a
    usage error, raised before Spark starts."""
    from wq_data_pipeline_spark.plans.sentem_pipeline import SENTEMQC_CONFIG, SentemVar

    known = ", ".join(str(c) for c in sorted(SENTEMQC_CONFIG))
    codes = {}
    for name, code in args.var:
        if name in codes:
            parser.error(f"--var {name} is given twice")
        try:
            codes[name] = int(code)
        except ValueError:
            parser.error(f"--var {name}: CODE {code!r} is not an integer (known codes: {known})")
        if codes[name] not in SENTEMQC_CONFIG:
            parser.error(f"--var {name}: unknown sensor code {code} (known codes: {known})")
    offsets = {}
    for name, offset in args.calibration:
        try:
            offsets[name] = float(offset)
        except ValueError:
            parser.error(f"--calibration {name}: OFFSET {offset!r} is not a number")
    for flag, names in (("--nitrate", args.nitrate), ("--calibration", offsets)):
        for name in names:
            if name not in codes:
                parser.error(f"{flag} {name}: no --var names {name!r}")
    return [
        SentemVar(
            variable=name,
            code=code,
            is_nitrate=name in args.nitrate,
            calibration_offset=offsets.get(name, 0.0),
        )
        for name, code in codes.items()
    ]


def main(argv: list[str] | None = None) -> None:
    parser = build_parser()
    args = parser.parse_args(argv)
    var_map = _var_map(parser, args)

    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.plans.sentem_pipeline import run_sentemqc_plan, sentemqc_wide
    from wq_data_pipeline_spark.session import get_spark
    from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

    spark = get_spark(app_name="wq-spark-sentemqc")
    wide = read_wide_csv(spark, args.csv, timestamp_col=args.timestamp_col)
    readings = melt_wide(
        wide,
        [v.variable for v in var_map],
        timestamp_col=args.timestamp_col,
        station_col=None,
        station_literal=args.station,
    )
    start = F.lit(args.start).cast("timestamp") if args.start else None
    end = F.lit(args.end).cast("timestamp") if args.end else None
    out_long = run_sentemqc_plan(readings, var_map, start_time=start, end_time=end)
    qc_wide = sentemqc_wide(out_long, [v.variable for v in var_map])
    # reference export: the full base frame with QC columns alongside
    # (scripts/sentemqc.py:182-184) — join original wide columns back
    # on ts. Duplicate-timestamp input rows are collapsed first: the
    # long pipeline already emits one row per ts, and an un-deduped
    # raw side would re-expand the QC rows (the reference dedups in
    # ensure_time_index; which duplicate survives here is arbitrary —
    # see the README duplicate-policy divergence note).
    raw = wide.withColumnRenamed(args.timestamp_col, "ts").dropDuplicates(["ts"])
    full = raw.join(qc_wide.drop("station"), on="ts", how="right")
    full.orderBy("ts").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(f"{args.out}/sentemqc_wide")
    print(f"wrote SentemQC export to {args.out}/sentemqc_wide")


if __name__ == "__main__":
    main()
