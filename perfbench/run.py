"""Benchmark entry point.

    python3 perfbench/run.py --workload qc_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. One run: generate the seeded inputs, set
up the Spark session three times (the first set-up launches the JVM),
time the workload's passes until ``--seconds`` have elapsed (at least
one, the first of them cold), stop the JVM, check the outputs, and
print one JSON line as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` attaches Spark jobs to spans and
reports the per-layer metrics instead. See perfbench/README.md for the
metric definitions.
"""

from __future__ import annotations

import argparse
import functools
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("qc_pipeline", "catalog_dedup", "catalog_relational")
# qc_pipeline input: stations x variables x days of 15-minute readings
QC_SHAPE = (1, 1, 60)
CATALOG_SCALE = 0.001
# set-ups per run; setup_s is their median
SETUPS = 3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "wq_data_pipeline_spark", "__init__.py")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    _confine_scratch(tmp)
    try:
        result = run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _confine_scratch(tmp: str) -> None:
    """Keep every temp file of this process, the JVM and the Python
    workers inside the checkout."""
    import tempfile

    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a fixed heap, so memory figures do not follow the host's free RAM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


# ------------------------------------------------------------------ session
def spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        # a heap committed up front, so peak RSS does not hinge on when
        # the JVM decides to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def set_up(tmp: str) -> tuple[object, dict[str, float]]:
    """Session start + ship_package + JVM and Python-worker warm-ups."""
    from wq_data_pipeline_spark.session import get_spark, ship_package

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(tmp))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ship_package(spark)
    t2 = time.perf_counter()
    _warm_up(spark)
    t3 = time.perf_counter()
    return spark, {"start": t1 - t0, "ship": t2 - t1, "warmup": t3 - t2, "total": t3 - t0}


def _warm_up(spark) -> None:
    """One JVM job (scan, shuffle, exact median, window, noop sink) and
    one pandas job whose workers import the engine package."""
    from pyspark.sql import Window, functions as F

    cores = spark.sparkContext.defaultParallelism
    (
        spark.range(0, 20_000, 1, cores)
        .select((F.col("id") % 13).alias("k"), (F.col("id") * 0.5).alias("v"))
        .groupBy("k")
        .agg(F.median("v").alias("m"), F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(Window.orderBy("k")))
        .write.format("noop").mode("overwrite").save()
    )

    def _import_engine(batches):
        import wq_data_pipeline_spark.plans.qc_pipeline  # noqa: F401

        yield from batches

    spark.range(0, 4 * cores, 1, cores).mapInPandas(_import_engine, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the Spark JVM, in MiB."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(_java_pid(proc.pid))
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kb / 1024.0


def _java_pid(pid: int) -> int:
    """The launcher execs into the JVM; if it has not, find the JVM child."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            return pid
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{entry}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if int(fields[1]) == pid and comm == "java":
                return int(entry)
    return pid


# ------------------------------------------------------------------ run
def run(args, work: str, tmp: str) -> dict:
    import gen
    import spans as tracing
    import workloads as W

    data = os.path.join(work, "data")
    os.makedirs(data)
    qc = args.workload == "qc_pipeline"
    if qc:
        manifest = gen.sensor_csv(data, args.seed, *QC_SHAPE)
        source_rows = {"csv": manifest["rows"]}
        input_rows = manifest["long_rows"]
    else:
        manifest = None
        source_rows = gen.catalog_tables(data, args.seed, CATALOG_SCALE)
        input_rows = sum(source_rows.values())

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spark, setups = None, []
    try:
        # later set-ups restart the session in the running JVM
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, s = set_up(tmp)
            setups.append(s)
        sc = spark.sparkContext
        tr = tracing.Tracer(run_id, sc if args.trace else None)
        passes, op_times, checks = measure(args, spark, tr, work, data, manifest)
        rss = peak_rss_mb()
        snap = tracing.rest_snapshot(sc) if args.trace else None
    finally:
        shut_down(spark)
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    setup["cold"] = setups[0]["total"]
    con = None if qc else W.duck_con(data, source_rows)
    problems = [check(con) for check in checks]
    for p in (p for ps in problems for p in ps):
        print(f"check failed: {p}", file=sys.stderr)
    attempted, failed = len(checks), sum(1 for ps in problems if ps)

    if args.trace:
        work_done = tracing.SparkWork(snap)
        tracing.attach_jobs(tr.spans, work_done)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        metrics = per_layer(tr.spans, work_done, passes, setup, cores, source_rows)
        _write_trace(tr.spans, run_id)
    else:
        walls = [p["end"] - p["start"] for p in passes]
        metrics = end_to_end(walls, op_times, setup, rss, attempted, failed, input_rows)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def measure(args, spark, tr, work, data, manifest) -> tuple[list, list, list]:
    """Time passes until ``args.seconds`` have elapsed, at least one.
    The first pass runs cold, as in a fresh CLI process or Spark
    application; on 4 cores one pass of either declared workload
    outlasts the run's ``--seconds``, so a run times exactly that pass.

    Returns the pass spans, the seconds of each operation, and one
    check per operation: ``check(duckdb_connection)`` returns the
    operation's problems. Checks run after the Spark session is gone,
    so neither their time nor their memory is measured. ``qc_pipeline``
    checks every pass; each catalog entry meets its oracle once, on the
    first pass, and later passes count an entry as failed if it raises.
    """
    import spans as tracing
    import workloads as W

    def failed(problem: str):
        return lambda con: [problem]

    if manifest is not None:
        def one_pass(i: int):
            out_dir = os.path.join(work, f"out{i}")
            with tr.span("pass", index=i) as sp:
                try:
                    res = W.qc_pass(spark, manifest, out_dir, tr)
                    verify = lambda con: W.check_qc(manifest, res)  # noqa: E731
                except Exception as e:  # counted as a failed operation
                    verify = failed(f"pipeline raised {type(e).__name__}: {e}")
            return sp, [(sp["end"] - sp["start"], verify)]
    else:
        from wq_data_pipeline_spark.plans.queries import ORACLES, QUERIES

        def one_pass(i: int):
            ops = []
            with tr.span("pass", index=i) as sp:
                for entry in W.CATALOGS[args.workload]:
                    with tr.span("entry", entry=entry) as es:
                        try:
                            cols, rows = W.catalog_op(spark, QUERIES[entry], data, tr)
                            verify = functools.partial(
                                W.check_entry, entry, cols, rows, ORACLES[entry]
                            ) if i == 0 else (lambda con: [])
                        except Exception as e:  # counted as a failed operation
                            verify = failed(f"{entry}: raised {type(e).__name__}: {e}")
                    ops.append((es["end"] - es["start"], verify))
            return sp, ops

    passes, op_times, checks = [], [], []
    undo = tracing.patch_layers(tr) if args.trace else []
    try:
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            sp, ops = one_pass(len(passes))
            passes.append(sp)
            op_times += [t for t, _ in ops]
            checks += [check for _, check in ops]
            gc.collect()
    finally:
        tracing.unpatch(undo)
    return passes, op_times, checks


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(walls, op_times, setup, rss, attempted, failed, input_rows) -> dict:
    wall = statistics.median(walls)
    p90 = (
        statistics.quantiles(op_times, n=10, method="inclusive")[-1]
        if len(op_times) > 1
        else op_times[0]
    )
    return {
        "setup_s": _m(setup["total"], "s"),
        "wall_s": _m(wall, "s"),
        "rows_per_s": _m(input_rows / wall, "1/s"),
        "entry_p50_s": _m(statistics.median(op_times), "s"),
        "entry_p90_s": _m(p90, "s"),
        "ok_frac": _m(1.0 - failed / attempted, "fraction"),
        "peak_rss_mb": _m(rss, "MiB"),
    }


def per_layer(spans, work, passes, setup, cores, source_rows) -> dict:
    """Per-layer metrics, each per timed pass of the workload."""
    import spans as tracing

    n = len(passes)
    timed = tracing.subtree_ids(spans, passes)

    def named(*names):
        return [s for s in spans if s["name"] in names and s["id"] in timed]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) / n

    def spark(ss):
        return work.totals(tracing.subtree_ids(spans, ss))

    src = named("sources.load_table", "sources.read_wide_csv", "sources.melt_wide")
    build, sink, pins, figs = (named(x) for x in (
        "plans.build", "plans.sink", "operators.pin", "report.figures"))
    src_w, build_w, sink_w, fig_w, all_w = (spark(x) for x in (src, build, sink, figs, passes))
    rows_read = sum(
        source_rows[s.get("table", "csv")] for s in src if s["name"] != "sources.melt_wide"
    )
    wall = dur(passes)
    return {
        "session.cold_setup_s": _m(setup["cold"], "s"),
        "session.start_s": _m(setup["start"], "s"),
        "session.ship_s": _m(setup["ship"], "s"),
        "session.warmup_s": _m(setup["warmup"], "s"),
        "sources.calls": _m(len(src) / n, "count"),
        "sources.s": _m(dur(src), "s"),
        "sources.jobs": _m(src_w["jobs"] / n, "count"),
        "plans.build_s": _m(dur(build), "s"),
        "plans.build_jobs": _m(build_w["jobs"] / n, "count"),
        "plans.build_tasks": _m(build_w["tasks"] / n, "count"),
        "plans.sink_s": _m(dur(sink), "s"),
        "plans.sink_jobs": _m(sink_w["jobs"] / n, "count"),
        "plans.sink_output_bytes": _m(sink_w["output_bytes"] / n, "bytes"),
        "operators.pin_calls": _m(len(pins) / n, "count"),
        "operators.pin_s": _m(dur(pins), "s"),
        "operators.jobs": _m(all_w["jobs"] / n, "count"),
        "operators.stages": _m(all_w["stages"] / n, "count"),
        "operators.tasks": _m(all_w["tasks"] / n, "count"),
        "operators.failed_tasks": _m(all_w["failed_tasks"] / n, "count"),
        "operators.utilization": _m(all_w["run_s"] / n / (wall * cores), "ratio"),
        "operators.executor_run_s": _m(all_w["run_s"] / n, "s"),
        "operators.executor_cpu_s": _m(all_w["cpu_s"] / n, "s"),
        "operators.gc_s": _m(all_w["gc_s"] / n, "s"),
        "operators.shuffle_write_bytes": _m(all_w["shuffle_write_bytes"] / n, "bytes"),
        "operators.shuffle_read_bytes": _m(all_w["shuffle_read_bytes"] / n, "bytes"),
        "operators.shuffle_fetch_wait_s": _m(all_w["fetch_wait_s"] / n, "s"),
        "operators.spill_bytes": _m(all_w["spill_bytes"] / n, "bytes"),
        "operators.scan_amplification": _m(all_w["input_records"] / max(1, rows_read), "ratio"),
        "operators.python_run_s": _m(all_w["python_run_s"] / n, "s"),
        "operators.python_start_s": _m(all_w["python_start_s"] / n, "s"),
        "operators.python_bytes_sent": _m(all_w["python_bytes_sent"] / n, "bytes"),
        "report.figures_s": _m(dur(figs), "s"),
        "report.jobs": _m(fig_w["jobs"] / n, "count"),
        "report.figures": _m(sum(s.get("count", 0) for s in figs) / n, "count"),
        "trace.wall_s": _m(wall, "s"),
    }


def _write_trace(spans, run_id: str) -> None:
    """Spans (with their Spark job ids) as JSON under .perfbench_work/traces."""
    out = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{run_id}-{os.getpid()}.json"), "w") as f:
        json.dump(spans, f)


if __name__ == "__main__":
    sys.exit(main())
