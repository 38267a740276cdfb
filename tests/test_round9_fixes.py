"""Round-9 maintenance fixes (ADVICE r8 + VERDICT r8 what's-wrong #1):

- cgroup-aware driver-memory default (session._cgroup_limit_gb)
- session-keyed, exception-safe persist stash (suffix._swap_persisted_pass)
- bench.py prior-record loader for the isolation re-run rule
- theil_sen_trend sen_slope_c rounded to 6dp in BOTH dialects
"""

from __future__ import annotations

import json

from wq_data_pipeline_spark.session import _cgroup_limit_gb
from wq_data_pipeline_spark.operators import suffix as SX


# ---------------------------------------------------------------- cgroup


def test_cgroup_limit_v2(tmp_path):
    p = tmp_path / "memory.max"
    p.write_text("8589934592\n")  # 8 GiB
    assert _cgroup_limit_gb((str(p),)) == 8


def test_cgroup_limit_v2_unlimited(tmp_path):
    p = tmp_path / "memory.max"
    p.write_text("max\n")
    assert _cgroup_limit_gb((str(p),)) is None


def test_cgroup_limit_v1_unlimited_sentinel(tmp_path):
    # v1 reports ~2^63-ish page-rounded values when unlimited
    p = tmp_path / "memory.limit_in_bytes"
    p.write_text(str(1 << 62))
    assert _cgroup_limit_gb((str(p),)) is None


def test_cgroup_limit_missing_files():
    assert _cgroup_limit_gb(("/nonexistent/memory.max",)) is None


def test_cgroup_limit_v2_preferred_over_v1(tmp_path):
    v2 = tmp_path / "memory.max"
    v2.write_text(str(4 << 30))
    v1 = tmp_path / "memory.limit_in_bytes"
    v1.write_text(str(16 << 30))
    assert _cgroup_limit_gb((str(v2), str(v1))) == 4


def test_cgroup_limit_sub_gib_floor(tmp_path):
    p = tmp_path / "memory.max"
    p.write_text(str(512 << 20))  # 512 MiB container
    assert _cgroup_limit_gb((str(p),)) == 1  # floored, never 0


# ------------------------------------------------------- persist stash


class _FakeDF:
    def __init__(self, raise_on_unpersist=False):
        self.unpersisted = False
        self._raise = raise_on_unpersist

    def unpersist(self, blocking=False):
        if self._raise:
            raise RuntimeError("SparkContext was stopped")
        self.unpersisted = True


def test_swap_persisted_pass_releases_same_session(monkeypatch):
    monkeypatch.setattr(SX, "_PERSISTED_PASSES", [])
    old, new = _FakeDF(), _FakeDF()
    SX._PERSISTED_PASSES.append(("app-1", old))
    SX._swap_persisted_pass("app-1", new)
    assert old.unpersisted
    assert SX._PERSISTED_PASSES == [("app-1", new)]


def test_swap_persisted_pass_drops_stale_session(monkeypatch):
    """A handle from a DIFFERENT (dead) session is discarded without
    calling unpersist at all (ADVICE r8)."""
    monkeypatch.setattr(SX, "_PERSISTED_PASSES", [])
    stale = _FakeDF(raise_on_unpersist=True)
    SX._PERSISTED_PASSES.append(("dead-app", stale))
    new = _FakeDF()
    SX._swap_persisted_pass("app-2", new)  # must not raise
    assert not stale.unpersisted
    assert SX._PERSISTED_PASSES == [("app-2", new)]


def test_swap_persisted_pass_swallows_stopped_context(monkeypatch):
    """Same session id but the context died between stash and swap:
    the unpersist error is swallowed, the new pass still stashed."""
    monkeypatch.setattr(SX, "_PERSISTED_PASSES", [])
    dying = _FakeDF(raise_on_unpersist=True)
    SX._PERSISTED_PASSES.append(("app-3", dying))
    new = _FakeDF()
    SX._swap_persisted_pass("app-3", new)  # must not raise
    assert SX._PERSISTED_PASSES == [("app-3", new)]


# ------------------------------------------------------ bench prior


def test_bench_prior_medians_env_override(tmp_path, monkeypatch):
    import bench

    rec = tmp_path / "prior.json"
    rec.write_text(json.dumps({"queries": {"q1": 1.5, "q2": 0.3}}))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(rec))
    assert bench._prior_medians(str(tmp_path)) == {"q1": 1.5, "q2": 0.3}


def test_bench_prior_medians_reads_canonical_record(tmp_path, monkeypatch):
    """Without the env override the prior is BENCH_LOCAL.json, whatever
    other snapshots sit next to it."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_PRIOR", raising=False)
    (tmp_path / "BENCH_LOCAL_r08.json").write_text(json.dumps({"queries": {"q": 25.0}}))
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps({"queries": {"q": 1.6}}))
    assert bench._prior_medians(str(tmp_path)) == {"q": 1.6}


def test_bench_prior_medians_absent(tmp_path, monkeypatch):
    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_PRIOR", raising=False)
    assert bench._prior_medians(str(tmp_path)) == {}


def test_sen_slope_rounded_in_both_dialects():
    """ADVICE r8: sen_slope_c must be quantized in BOTH dialects so
    the oracle doesn't depend on engine-internal median midpoint
    arithmetic."""
    from wq_data_pipeline_spark.plans import qc as QC

    assert "round(median(" in QC.SQL_THEIL_SEN_TREND
    import inspect

    src = inspect.getsource(QC.q_theil_sen_trend)
    assert 'F.round(F.median(slope), 6).alias("sen_slope_c")' in src


# ------------------------------------------- isolation re-run rule


def test_adjudicate_outliers_triggers_and_records():
    import bench

    timings = {"q_slow": 25.0, "q_ok": 2.0, "q_new": 9.9}
    prior = {"q_slow": 2.8, "q_ok": 1.9}  # q_new has no prior -> skipped
    calls = []

    def rerun(name):
        calls.append(name)
        return 2.0

    reruns = bench._adjudicate_outliers(timings, prior, rerun)
    assert calls == ["q_slow"]
    assert timings["q_slow"] == 2.0  # better of {median, isolated}
    assert reruns == {"q_slow": {"median3": 25.0, "isolated": 2.0, "prior": 2.8}}
    assert timings["q_ok"] == 2.0 and timings["q_new"] == 9.9


def test_adjudicate_outliers_keeps_median_if_isolated_worse():
    import bench

    timings = {"q": 10.0}
    reruns = bench._adjudicate_outliers(timings, {"q": 2.0}, lambda n: 14.0)
    assert timings["q"] == 10.0  # the excursion stands, but flagged
    assert reruns["q"]["isolated"] == 14.0


def test_adjudicate_outliers_small_absolute_excess_ignored():
    import bench

    # 4x ratio but only 0.6s above prior: sub-second noise, no re-run
    timings = {"q": 0.8}
    reruns = bench._adjudicate_outliers(timings, {"q": 0.2}, lambda n: 1 / 0)
    assert reruns == {} and timings["q"] == 0.8
