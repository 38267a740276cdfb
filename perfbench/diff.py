"""Compare two benchmark records side by side.

    python3 perfbench/diff.py base.json new.json

For every workload and metric present in both records, prints each
side's median with its quartiles and the change, marked:

- ``improved``: better by more than the spread (quartile distance over
  median) of either side, or every new run beats every base run;
- ``regressed``: worse by more than the metric's bound from
  BENCHMARK.json (per-layer metrics have none: more than the spread),
  and by more than the spread unless every new run is worse;
- ``unresolved``: anything else — the change is within the noise or
  within the bound.

Exit code 1 when any end-to-end metric regressed.
"""

from __future__ import annotations

import json
import sys


def verdict(a: dict, b: dict, better: str, bound: float | None) -> tuple[float, str]:
    """Relative change (positive = worse) and its mark."""
    sign = 1.0 if better == "lower" else -1.0
    base = abs(a["median"]) or 1.0
    delta = sign * (b["median"] - a["median"]) / base
    spread = max(a["spread"], b["spread"])
    worse = [sign * (y - x) for x in a["values"] for y in b["values"]]
    all_better = all(d < 0 for d in worse)
    all_worse = all(d > 0 for d in worse)
    if delta > (spread if bound is None else bound) and (delta > spread or all_worse):
        return delta, "regressed"
    if delta < 0 and (-delta > spread or all_better):
        return delta, "improved"
    return delta, "unresolved"


def main(base_path: str, new_path: str) -> int:
    with open(base_path) as f:
        base = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    bench = new["benchmark"]
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    regressed = False
    for workload in sorted(set(base["summary"]) & set(new["summary"])):
        print(f"== {workload}")
        a_s, b_s = base["summary"][workload], new["summary"][workload]
        for name in [n for n in specs if n in a_s and n in b_s]:
            spec = specs[name]
            a, b = a_s[name], b_s[name]
            delta, mark = verdict(a, b, spec["better"], spec.get("bound"))
            regressed |= mark == "regressed" and "bound" in spec
            print(
                f"  {name:32s} {_fmt(a):>30s}  {_fmt(b):>30s}  "
                f"{-delta if spec['better'] == 'higher' else delta:+8.1%}  {mark}"
            )
    for key in ("tracing_overhead_s",):
        if key in base and key in new:
            print(f"{key}: {base[key]} -> {new[key]}")
    return 1 if regressed else 0


def _fmt(s: dict) -> str:
    return f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] n={s['n']}"


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
