"""Run the benchmark over several seeds and write one record.

    python3 perfbench/sweep.py --out rec.json --seeds 1-10 [--workloads qc_pipeline ...]
                               [--trace 0,1] [--repeat 1]

Run from the repository root. Every (workload, seed, trace) run is a
separate ``run.py`` process, made one after another. The record holds
every run's result line and, per workload, the median and quartiles of
each metric, the tracing overhead (traced ``trace.wall_s`` median minus
untraced ``wall_s`` median) and the count-stability findings (see
stability.py). ``--repeat 2`` runs each traced seed twice, which the
count-stability check needs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    """Median, quartiles (``statistics.quantiles(n=4)``) and the
    quartile distance as a share of the median."""
    med = statistics.median(values)
    if len(values) > 1:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / abs(med) if med else 0.0,
        "values": values,
    }


def summaries(runs: list[dict]) -> dict:
    """workload -> metric -> summary, over runs that printed a result."""
    vals: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        if r.get("result"):
            for name, m in r["result"]["metrics"].items():
                vals.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return {w: {k: summarize(v) for k, v in ms.items()} for w, ms in vals.items()}


def main() -> int:
    bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--trace", default="0", help="comma list of trace modes, e.g. 0,1")
    ap.add_argument("--repeat", type=int, default=1, help="runs per traced seed")
    args = ap.parse_args()

    runs = []
    for workload in args.workloads:
        for trace in [int(t) for t in args.trace.split(",")]:
            for seed in args.seeds:
                for _ in range(args.repeat if trace else 1):
                    runs.append(run_once(bench, workload, seed, trace))
                    r = runs[-1]
                    print(f"{workload} seed={seed} trace={trace} exit={r['exit']} "
                          f"{r['elapsed_s']:.1f}s correct={(r['result'] or {}).get('correct')}",
                          file=sys.stderr)

    from stability import unstable_counters

    summ = summaries(runs)
    record = {
        "benchmark": bench,
        "runs": runs,
        "summary": summ,
        "tracing_overhead_s": {
            w: s["trace.wall_s"]["median"] - s["wall_s"]["median"]
            for w, s in summ.items()
            if "trace.wall_s" in s and "wall_s" in s
        },
        "unstable_counters": unstable_counters(runs, bench),
        "total_elapsed_s": sum(r["elapsed_s"] for r in runs),
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except ValueError:
        result = None
    return {
        "workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
        "elapsed_s": elapsed, "result": result,
        "stderr_tail": p.stderr.strip().splitlines()[-5:] if result is None else [],
    }


if __name__ == "__main__":
    sys.exit(main())
