"""Count-stability check: counters must repeat exactly across runs of
the same code on the same seed.

    python3 perfbench/stability.py rec.json [rec2.json ...]

Counters are the per-layer metrics with unit ``count`` (jobs, stages,
tasks, ``sources.calls``, ``operators.pin_calls`` ...). Traced runs are
grouped by (workload, seed); a counter that takes more than one value
within a group is listed, and is unusable as evidence for a claim.
Exit code 1 when any counter is unstable.
"""

from __future__ import annotations

import json
import sys


def unstable_counters(runs: list[dict], bench: dict) -> dict[str, dict[str, list]]:
    """workload -> counter -> the distinct values seen on one seed."""
    counters = {m["name"] for m in bench["per_layer"] if m["unit"] == "count"}
    seen: dict[tuple, dict[str, set]] = {}
    for r in runs:
        if r["trace"] and r.get("result"):
            g = seen.setdefault((r["workload"], r["seed"]), {})
            for name, m in r["result"]["metrics"].items():
                if name in counters:
                    g.setdefault(name, set()).add(m["value"])
    out: dict[str, dict[str, list]] = {}
    for (workload, seed), g in sorted(seen.items()):
        for name, values in sorted(g.items()):
            if len(values) > 1:
                out.setdefault(workload, {})[name] = sorted(
                    set(out.get(workload, {}).get(name, [])) | values
                )
    return out


def main(paths: list[str]) -> int:
    runs, bench = [], None
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        runs += rec["runs"]
        bench = bench or rec["benchmark"]
    groups = {(r["workload"], r["seed"]) for r in runs if r["trace"] and r.get("result")}
    repeated = sum(
        1 for g in groups
        if sum(1 for r in runs if r["trace"] and (r["workload"], r["seed"]) == g) > 1
    )
    print(f"{len(groups)} traced (workload, seed) groups, {repeated} with repeated runs")
    bad = unstable_counters(runs, bench)
    for workload, counters in bad.items():
        for name, values in counters.items():
            print(f"UNSTABLE {workload} {name}: {values}")
    if not bad:
        print("all counters repeat exactly")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
