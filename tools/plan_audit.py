"""Plan audit for the optimization round: capture ``explain("formatted")``
for every declared query and summarize plan-shape counters (Exchange,
join strategies, Python-boundary nodes) into one JSON.

Usage:
    python tools/plan_audit.py [name ...]          # default: all queries
Env:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    PLAN_AUDIT_OUT       output dir (default records/plan_audit)
    PLAN_AUDIT_SUFFIX    file suffix (default _before)

Construction only — the query is built and explained, never executed
(iterative operators still run their eager driver-side rounds at build
time, which is part of what the audit should see).
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

NODE_PATTERNS = {
    "exchange": r"^\s*\+?-?\s*(?:\*\(\d+\)\s*)?Exchange ",
    "broadcast_exchange": r"BroadcastExchange",
    "sort_merge_join": r"SortMergeJoin",
    "broadcast_hash_join": r"BroadcastHashJoin",
    "shuffled_hash_join": r"ShuffledHashJoin",
    "broadcast_nested_loop": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "batch_eval_python": r"BatchEvalPython",
    "arrow_eval_python": r"ArrowEvalPython",
    "map_in_pandas": r"MapInPandas|MapInArrow",
    "flatmap_groups": r"FlatMapGroupsInPandas|FlatMapGroupsInArrow",
    "window": r"\bWindow\b",
    "sort": r"\bSort \[",
    "generate": r"\bGenerate\b",
    "scan_parquet": r"Scan parquet",
}


def summarize(plan: str) -> dict[str, int]:
    out = {}
    for key, pat in NODE_PATTERNS.items():
        n = len(re.findall(pat, plan, flags=re.M))
        if n:
            out[key] = n
    # single-partition (global) windows / sorts: SinglePartition exchanges
    n = plan.count("Exchange SinglePartition")
    if n:
        out["single_partition_exchange"] = n
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("PLAN_AUDIT_OUT", os.path.join(HERE, "records", "plan_audit"))
    suffix = os.environ.get("PLAN_AUDIT_SUFFIX", "_before")
    os.makedirs(out_dir, exist_ok=True)

    from wq_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="wq-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    names = sys.argv[1:] or sorted(queries)

    summary: dict[str, dict] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # record, keep going
            summary[name] = {"error": repr(e)[:200]}
            continue
        build_s = round(time.perf_counter() - t0, 3)
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        summary[name] = {"build_s": build_s, **summarize(plan)}
        del df

    sum_path = os.path.join(out_dir, f"_summary{suffix}.json")
    with open(sum_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"n": len(summary), "out": sum_path}))


if __name__ == "__main__":
    main()
