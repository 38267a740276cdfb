"""Spans around the benchmark's calls into each layer, and the Spark
work attributed to them.

A span has a name, start, end, parent and run id. With tracing on,
each span also becomes the Spark job group (``setJobGroup(span id)``)
while it is open, so every job Spark runs is attached to the innermost
open span. After the run the jobs, stages and SQL executions are read
from the application's REST API and folded into per-layer metrics.
With tracing off, spans only keep their times.

Layers are the engine's modules; ``patch_layers`` wraps the public
functions of ``sources`` and ``operators.pinning`` where the plans and
operators modules bind them, so their calls open spans too.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, sc=None):
        """``sc`` set means tracing on: spans become Spark job groups."""
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp["id"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name: str, fn, describe=None):
        """``fn`` with each call inside a span; ``describe(args, kwargs)``
        may add attributes to the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = describe(args, kwargs) if describe else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        return traced


def patch_layers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Rebind the engine's layer entry points to traced wrappers in
    every loaded engine module that imported them. Returns the undo
    list for ``unpatch``."""
    from wq_data_pipeline_spark.operators import pinning
    from wq_data_pipeline_spark.sources import testdata

    wrapped = {
        id(testdata.load_table): tracer.wrap(
            "sources.load_table", testdata.load_table, lambda a, kw: {"table": a[2]}
        ),
        id(pinning.pin): tracer.wrap("operators.pin", pinning.pin),
    }
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("wq_data_pipeline_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if id(value) in wrapped:
                setattr(mod, attr, wrapped[id(value)])
                undo.append((mod, attr, value))
    return undo


def unpatch(undo) -> None:
    for mod, attr, value in undo:
        setattr(mod, attr, value)


# ------------------------------------------------------------------ Spark side
def rest_snapshot(sc) -> dict:
    """Jobs, stage attempts and SQL executions of the live application."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    return {
        "jobs": get("/jobs"),
        "stages": get("/stages"),
        "sql": get("/sql?details=true&planDescription=false&offset=0&length=1000000"),
    }


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")

PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes_sent",
}


def parse_sql_metric(text: str) -> float:
    """Total of a SQL UI metric string: ``'2.0 s'``, ``'318.8 KiB'``,
    or the multi-task form whose second line starts with the total."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if lines and lines[0].startswith("total"):
        lines = lines[1:]
    m = _NUM.match(lines[0]) if lines else None
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkWork:
    """Jobs, executed stages and Python-UDF SQL metrics keyed by job group."""

    def __init__(self, snap: dict):
        self.jobs_by_group: dict[str, list[dict]] = {}
        stage_job: dict[int, int] = {}
        for job in sorted(snap["jobs"], key=lambda j: j["jobId"]):
            self.jobs_by_group.setdefault(job.get("jobGroup") or "", []).append(job)
            for sid in job["stageIds"]:
                stage_job.setdefault(sid, job["jobId"])
        # a stage reused by a later job appears there as skipped; count
        # each executed attempt once, under the first job that lists it
        self.stages_by_job: dict[int, list[dict]] = {}
        for st in snap["stages"]:
            if st["status"] in ("SKIPPED", "PENDING") or st["stageId"] not in stage_job:
                continue
            self.stages_by_job.setdefault(stage_job[st["stageId"]], []).append(st)
        self.py_by_job: dict[int, dict[str, float]] = {}
        for ex in snap["sql"]:
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if not jobs:
                continue
            tot = dict.fromkeys(PY_METRICS.values(), 0.0)
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PY_METRICS.get(m["name"])
                    if key:
                        tot[key] += parse_sql_metric(m["value"])
            self.py_by_job[min(jobs)] = tot

    def totals(self, groups: set[str]) -> dict[str, float]:
        t = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
             "input_records", "output_bytes", *PY_METRICS.values()),
            0.0,
        )
        for g in groups:
            for job in self.jobs_by_group.get(g, ()):
                t["jobs"] += 1
                for k, v in self.py_by_job.get(job["jobId"], {}).items():
                    t[k] += v
                for st in self.stages_by_job.get(job["jobId"], ()):
                    t["stages"] += 1
                    t["tasks"] += st["numTasks"]
                    t["failed_tasks"] += st["numFailedTasks"]
                    t["run_s"] += st["executorRunTime"] / 1e3
                    t["cpu_s"] += st["executorCpuTime"] / 1e9
                    t["gc_s"] += st["jvmGcTime"] / 1e3
                    t["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    t["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    t["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                    t["spill_bytes"] += st["diskBytesSpilled"]
                    t["input_records"] += st["inputRecords"]
                    t["output_bytes"] += st["outputBytes"]
        return t


def subtree_ids(spans: list[dict], roots: list[dict]) -> set[str]:
    """Ids of ``roots`` and all their descendants."""
    children: dict[str, list[str]] = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp["id"])
    out, todo = set(), [r["id"] for r in roots]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children.get(sid, ()))
    return out


def attach_jobs(spans: list[dict], work: SparkWork) -> None:
    """Record each span's own job ids (jobs fired while it was the
    innermost open span) for the written trace."""
    for sp in spans:
        sp["jobs"] = [j["jobId"] for j in work.jobs_by_group.get(sp["id"], ())]
