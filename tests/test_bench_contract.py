"""Contract tests for bench.py — the driver-facing CLI surface.

The bench artifact is the judge's per-round performance evidence; these
tests pin the parts of its shape that code review can't see breaking:
every BENCH_QUERIES name must resolve in the registry (a rename
otherwise dies mid-run after minutes of timing), and the env stamp
(round-7 verdict: cache warm/cold + loadavg attribution for timing
drift) must keep its fields.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from proof_of_concept___cdc_w_iceberg_spark import registry


def test_bench_queries_all_registered():
    qs = registry.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, f"BENCH_QUERIES not in registry: {missing}"


def test_bench_queries_unique():
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES))


def test_first_execution_warmup_contract():
    """The fresh-session warm-up set (r17 verdict item 6): every member
    must be a timed suite query (warming a name outside BENCH_QUERIES
    would burn wall-clock warming nothing), the untimed warm-up must
    run BEFORE the timed call in main()'s loop, and the set must be
    stamped into the env block so a floor re-basing after a membership
    change is attributable from the artifact alone."""
    import inspect

    assert bench.FIRST_EXECUTION_WARMUP  # non-empty: the term is real
    assert set(bench.FIRST_EXECUTION_WARMUP) <= set(bench.BENCH_QUERIES)
    assert len(set(bench.FIRST_EXECUTION_WARMUP)) == len(
        bench.FIRST_EXECUTION_WARMUP)
    src = inspect.getsource(bench.main)
    warm = src.index("if name in FIRST_EXECUTION_WARMUP")
    timed = src.index("dt = _time_query")
    assert warm < timed, "warm-up must precede the timed run"
    assert 'cache_state["first_execution_warmup"]' in src


def test_cache_state_stamp_fields(tmp_path):
    # Unknown sf_dir -> both caches cold; fields always present.
    state = bench._cache_state(str(tmp_path / "no_such_sf"))
    assert state["band_index_warm"] is False
    assert state["capped_stage_warm"] is False
    assert "loadavg_1m" in state


def test_box_stamp_fields(spark):
    """The env block names the box and session: Spark's local[] core
    count, the usable cores, the pyspark version and a host
    fingerprint; main() merges them into the artifact."""
    import inspect

    import pyspark

    stamp = bench._box_stamp(spark)
    assert stamp["cpus"] == spark.sparkContext.defaultParallelism
    assert stamp["nproc"] == len(os.sched_getaffinity(0))
    assert stamp["pyspark"] == pyspark.__version__
    assert len(stamp["host"]) == 12 and stamp == bench._box_stamp(spark)
    assert "cache_state.update(_box_stamp(spark))" in inspect.getsource(
        bench.main)


def test_cache_state_uses_real_marker_paths(tmp_path):
    # The stamp must flip warm the moment the REAL dedup marker files
    # exist — proving it probes ext/dedup.py's exported paths rather
    # than re-deriving them (round-8 advice: a silent layout drift
    # would report cold caches forever).
    from proof_of_concept___cdc_w_iceberg_spark.ext import dedup

    import shutil

    sf = str(tmp_path / "sf_fake")
    try:
        for marker in (dedup.band_index_marker(sf), dedup.capped_stage_marker(sf)):
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as f:
                f.write("ok")
        state = bench._cache_state(sf)
        assert state["band_index_warm"] is True
        assert state["capped_stage_warm"] is True
    finally:
        shutil.rmtree(dedup.band_index_dir(sf), ignore_errors=True)
        shutil.rmtree(dedup.capped_stage_dir(sf), ignore_errors=True)


def test_loadavg_never_raises():
    v = bench._loadavg()
    assert v is None or isinstance(v, float)


def test_prev_timings_tolerant():
    # Missing/garbage artifact -> {} (never raises); the real artifact,
    # when present, parses to name->seconds floats.
    prev = bench._prev_timings(0.1)
    assert isinstance(prev, dict)
    assert all(isinstance(v, float) for v in prev.values())


def test_prev_timings_non_dict_artifact(monkeypatch, tmp_path):
    # Round-9 advice: a BENCH_DETAIL.json whose top level is a JSON
    # array/string raised AttributeError on .get despite the 'never
    # raises' claim above. Point the loader at such artifacts.
    import os

    fake = tmp_path / "BENCH_DETAIL.json"
    real_join = os.path.join

    def fake_join(*parts):
        if parts[-1] == "BENCH_DETAIL.json":
            return str(fake)
        return real_join(*parts)

    monkeypatch.setattr(bench.os.path, "join", fake_join)
    for garbage in ('["not", "a", "dict"]', '"str"', "3.5", "{bad json"):
        fake.write_text(garbage)
        assert bench._prev_timings(0.1) == {}
    fake.write_text('{"queries": {"q": 1.5}}')
    assert bench._prev_timings(0.1) == {"q": 1.5}


def test_drift_report_flags_sustained_movers():
    # Round-10 verdict item 2: a kept time >1.5x above its minimum over
    # the last 3 snapshots must surface in the JSON line; the floor is
    # the MIN so one noisy historical run can only raise it.
    history = [
        {"label": "a", "queries": {"q_x": 2.0, "q_y": 1.0}},
        {"label": "b", "queries": {"q_x": 3.5, "q_y": 1.1}},
        {"label": "c", "queries": {"q_x": 2.4, "q_y": 0.9}},
    ]
    drift = bench._drift_report(history, {"q_x": 3.2, "q_y": 1.2})
    assert [e["q"] for e in drift] == ["q_x"]
    assert drift[0]["floor_3run"] == 2.0
    assert drift[0]["ratio"] == 1.6


def test_drift_report_only_last_three_snapshots():
    # An old fast snapshot outside the 3-run window must not set the
    # floor — drift is judged against the recent regime only.
    history = [
        {"label": "ancient", "queries": {"q_x": 0.1}},
        {"label": "a", "queries": {"q_x": 2.0}},
        {"label": "b", "queries": {"q_x": 2.1}},
        {"label": "c", "queries": {"q_x": 2.2}},
    ]
    assert bench._drift_report(history, {"q_x": 2.5}) == []


def test_drift_report_tolerates_garbage():
    # Missing queries, zero floors, and zero kept times must all be
    # skipped, never raise or divide by zero.
    history = [{"label": "a", "queries": {"q_x": 0.0, "q_y": "nan?"}}]
    assert bench._drift_report(history, {"q_x": 1.0, "q_y": 1.0, "q_z": 1.0}) == []


def test_load_history_tolerant(monkeypatch, tmp_path):
    # Non-list / unreadable / malformed history degrades to [] so the
    # bench never dies on its own artifact.
    import json

    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p: str(tmp_path)
    )
    assert bench._load_history() == []
    (tmp_path / "BENCH_HISTORY.json").write_text(json.dumps({"not": "a list"}))
    assert bench._load_history() == []
    (tmp_path / "BENCH_HISTORY.json").write_text(
        json.dumps([{"label": "ok", "queries": {"q_x": 1.0}}, {"bad": True}])
    )
    assert bench._load_history() == [{"label": "ok", "queries": {"q_x": 1.0}}]


def test_append_history_trims_to_six(monkeypatch, tmp_path):
    import json

    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    history = [{"label": str(i), "queries": {}} for i in range(7)]
    bench._append_history(history, {"q_x": 1.0}, 1.0, 0.1)
    with open(tmp_path / "BENCH_HISTORY.json") as f:
        saved = json.load(f)
    assert len(saved) == 6
    assert saved[-1]["label"] == "latest"
    assert saved[-1]["sf"] == 0.1
    assert saved[0]["label"] == "2"


def test_cpu_pressure_stamp():
    # steal/iowait delta as percentages; tolerant of missing samples
    assert bench._cpu_pressure(None, None) == {
        "cpu_steal_pct": None,
        "cpu_iowait_pct": None,
    }
    start = {"total": 1000, "steal": 10, "iowait": 20}
    end = {"total": 2000, "steal": 110, "iowait": 40}
    out = bench._cpu_pressure(start, end)
    assert out == {"cpu_steal_pct": 10.0, "cpu_iowait_pct": 2.0}
    # zero/negative elapsed degrades to None, never divides by zero
    assert bench._cpu_pressure(start, start)["cpu_steal_pct"] is None


def test_cpu_stat_never_raises():
    s = bench._cpu_stat()
    assert s is None or set(s) == {"total", "steal", "iowait"}


def test_settle_gate_stamp_fields(monkeypatch):
    # Uncontended regime: gate returns immediately with the full
    # stamp and contended=False (r11 verdict: a driver bench that
    # starts at loadavg ~12 must be flagged before it pollutes the
    # BENCH_HISTORY floors).
    monkeypatch.setattr(bench, "_loadavg", lambda: 0.5)
    g = bench._settle_gate()
    assert g["contended"] is False
    assert g["settle_waited_s"] == 0.0
    assert g["loadavg_at_gate"] == 0.5
    assert g["settle_threshold"] >= 4.0


def test_settle_gate_contended_flags_and_bounds_wait(monkeypatch):
    # Permanently-contended regime: the gate must give up within the
    # wait budget and stamp contended=True rather than spin forever.
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SETTLE_S", "0")
    monkeypatch.setattr(bench, "_loadavg", lambda: 99.0)
    g = bench._settle_gate()
    assert g["contended"] is True
    assert g["settle_waited_s"] == 0.0
    assert g["loadavg_after_gate"] == 99.0


def test_history_scale_isolation(tmp_path, monkeypatch):
    # An sf0.01 smoke run must neither feed the sf0.1 floors (it
    # would lower them ~10x and flag the whole next driver run as
    # drift) nor push driver-scale snapshots out of the rolling
    # window (found r12 while smoke-testing the settle gate).
    legacy = {"label": "r9", "total": 100.0, "queries": {"q": 1.0}}  # no sf stamp
    tenth = {"label": "r10", "total": 90.0, "queries": {"q": 0.9}, "sf": 0.1}
    smoke = {"label": "smoke", "total": 5.0, "queries": {"q": 0.05}, "sf": 0.01}
    hist = [legacy, tenth, smoke]
    # comparison: legacy snapshots count as the driver's 0.1 scale
    assert bench._history_at_sf(hist, 0.1) == [legacy, tenth]
    assert bench._history_at_sf(hist, 0.01) == [smoke]
    # drift vs same-scale floors only: 0.9s vs min(1.0, 0.9) is quiet,
    # while the polluted floor (0.05) would have flagged ratio 18x
    assert bench._drift_report(bench._history_at_sf(hist, 0.1), {"q": 0.95}) == []

    # retention: appending 7 sf0.1 runs keeps 6 of them AND the smoke
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _p: str(tmp_path / "bench.py")
    )
    h = hist
    for i in range(7):
        bench._append_history(h, {"q": 1.0 + i}, 10.0, 0.1)
        import json as _json

        with open(tmp_path / "BENCH_HISTORY.json") as f:
            h = _json.load(f)
    assert sum(1 for s in h if float(s.get("sf", 0.1)) == 0.1) == 6
    assert sum(1 for s in h if float(s.get("sf", 0.1)) == 0.01) == 1


def test_prev_timings_ignores_other_scale(tmp_path, monkeypatch):
    import json as _json

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _p: str(tmp_path / "bench.py")
    )
    with open(tmp_path / "BENCH_DETAIL.json", "w") as f:
        _json.dump({"queries": {"q": 0.05}, "sf": 0.01}, f)
    assert bench._prev_timings(0.1) == {}
    assert bench._prev_timings(0.01) == {"q": 0.05}


def test_parse_sf_layouts(monkeypatch):
    """r12/r13 advice: arbitrary SPARK_GRAFT_SF_DIR layouts must not
    crash startup — an sf<number> token ANYWHERE in the path counts
    (last match wins), the SPARK_GRAFT_SF override is honored, and an
    undetermined scale returns None (history/drift are skipped) rather
    than polluting the 0.1 bucket."""
    monkeypatch.delenv("SPARK_GRAFT_SF", raising=False)
    assert bench._parse_sf("/root/testdata/sf0.1") == 0.1
    assert bench._parse_sf("/root/testdata/sf0.01/") == 0.01
    assert bench._parse_sf("/data/tpch_sf1_parquet") == 1.0   # mid-path token
    assert bench._parse_sf("/sf10/tpch_sf2_parquet") == 2.0   # deepest wins
    assert bench._parse_sf("/data/no_marker_here") is None    # undetermined
    # Left boundary (review finding): an sf<digits> SUBSTRING inside an
    # unrelated token must not key the run into a wrong bucket.
    assert bench._parse_sf("/home/asdf1/tpch_data") is None
    assert bench._parse_sf("/srv/xfsf0/tpch") is None
    # Right boundary (r14 advice): a malformed token like sf2x must fall
    # through to the safe None path, not parse as sf=2; no partial match
    # via regex backtracking either (sf0.1x must not read as sf=0).
    assert bench._parse_sf("/data/sf2x_parquet") is None
    assert bench._parse_sf("/data/sf0.1x/tpch") is None
    # ...but a dot followed by a non-digit is a real boundary: the
    # extension-style dir convention must keep parsing (review finding).
    assert bench._parse_sf("/data/tpch_sf0.1.parquet") == 0.1
    assert bench._parse_sf("/data/tpch_sf1.parquet") == 1.0
    # "_" stays a boundary on BOTH sides (the r13 tpch_sf1_parquet
    # layout), so a digits-only absurd token still parses — into its
    # own empty bucket, never a real scale's.
    assert bench._parse_sf("/data/sf20240101_tpch") == 20240101.0
    monkeypatch.setenv("SPARK_GRAFT_SF", "2.5")
    assert bench._parse_sf("/data/no_marker_here") == 2.5
    monkeypatch.setenv("SPARK_GRAFT_SF", "garbage")
    assert bench._parse_sf("/root/testdata/sf0.1") == 0.1  # bad env ignored


def test_calibration_probe_and_drift_normalization():
    """r13 verdict item 1: the fixed-work probe returns a positive
    stable number, and the drift report divides box-delta out of each
    mover when both sides carry a stamp."""
    # min-of-3 like production: single-shot windows can diverge >3x
    # under a scheduler stall and made this assertion flaky (review).
    a, b = bench._calibrate(repeats=3), bench._calibrate(repeats=3)
    assert a > 0 and b > 0
    assert max(a, b) / min(a, b) < 3.0  # same box, same work

    history = [
        {"label": "r13", "queries": {"q_x": 2.0, "q_y": 1.0}, "calib_s": 0.2},
        {"label": "old", "queries": {"q_x": 2.5}},  # no stamp (pre-r14)
    ]
    # Box measured 2x slower: q_x at 3.2 is ratio 1.6 raw but 0.8
    # after normalization — the box, not the plan.
    drift = bench._drift_report(history, {"q_x": 3.2, "q_y": 1.9}, calib_now=0.4)
    rows = {e["q"]: e for e in drift}
    assert rows["q_x"]["ratio"] == 1.6
    assert rows["q_x"]["calib_ratio"] == 2.0
    assert rows["q_x"]["ratio_cal"] == 0.8
    assert rows["q_y"]["ratio_cal"] == 0.95
    # Floor from an unstamped legacy snapshot -> raw ratio only.
    hist2 = [{"label": "old", "queries": {"q_x": 1.0}}]
    d2 = bench._drift_report(hist2, {"q_x": 2.0}, calib_now=0.4)
    assert d2[0]["ratio"] == 2.0 and "ratio_cal" not in d2[0]
    # No probe this run (None) -> raw ratios, never a crash.
    d3 = bench._drift_report(history, {"q_x": 3.2}, calib_now=None)
    assert d3[0]["ratio"] == 1.6 and "calib_ratio" not in d3[0]


def test_calib_vs_floor_indicator():
    hist = [
        {"label": "old", "queries": {}},                 # unstamped
        {"label": "r14a", "queries": {}, "calib_s": 0.30},
        {"label": "r14b", "queries": {}, "calib_s": 0.36},
    ]
    assert bench._calib_vs_floor(hist, 0.45) == 1.5   # vs MIN stamp
    assert bench._calib_vs_floor(hist, 0.27) == 0.9   # faster box < 1
    assert bench._calib_vs_floor([{"label": "old", "queries": {}}], 0.3) is None
    assert bench._calib_vs_floor(hist, 0.0) is None
    # only the last three snapshots count
    hist4 = [{"label": "ancient", "queries": {}, "calib_s": 0.05}] + hist
    assert bench._calib_vs_floor(hist4, 0.45) == 1.5


def test_append_history_carries_calib(monkeypatch, tmp_path):
    import json as _json

    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    bench._append_history([], {"q_x": 1.0}, 1.0, 0.1, calib_s=0.31)
    with open(tmp_path / "BENCH_HISTORY.json") as f:
        saved = _json.load(f)
    assert saved[-1]["calib_s"] == 0.31
    # Legacy call without a stamp stays shape-compatible.
    bench._append_history(saved, {"q_x": 1.0}, 1.0, 0.1)
    with open(tmp_path / "BENCH_HISTORY.json") as f:
        saved2 = _json.load(f)
    assert "calib_s" not in saved2[-1]


def test_noop_stamp_persists_in_history(tmp_path, monkeypatch):
    """r15: the fixed-overhead stamp travels with the snapshot exactly
    like calib_s — _append_history records noop_s when given and omits
    it when None (old snapshots stay readable)."""
    import json

    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    bench._append_history([], {"q": 1.0}, 1.0, 0.1, calib_s=0.3, noop_s=0.05)
    snaps = json.loads((tmp_path / "BENCH_HISTORY.json").read_text())
    assert snaps[-1]["noop_s"] == 0.05 and snaps[-1]["calib_s"] == 0.3
    bench._append_history(snaps, {"q": 1.0}, 1.0, 0.1, calib_s=0.3)
    snaps = json.loads((tmp_path / "BENCH_HISTORY.json").read_text())
    assert "noop_s" not in snaps[-1]


def test_drift_fixed_term_annotation():
    """r16: a drift row carries the stage-count-scaled fixed-term
    prediction (fixed_delta_s = n_stages x (noop_now - noop_floor)/2)
    and the regime-adjusted ratio — and a pure-regime inflation of a
    sub-second query adjusts back to ~1.0 while a real plan regression
    stays above DRIFT_RATIO."""
    hist = [{
        "label": "floor", "queries": {"q_fast": 0.40, "q_slow": 0.40},
        "calib_s": 0.35, "noop_s": 0.08,
    }]
    # q_fast: 6 stages; inflation 0.40 -> 0.70 is EXACTLY the regime
    # term 6 x (0.18 - 0.08)/2 = 0.30 -> ratio_fixed_adj 1.0.
    # q_slow: same kept time but only 2 stages -> the regime explains
    # 0.10 of it; the residual 0.20 is a plan delta.
    drift = bench._drift_report(
        hist, {"q_fast": 0.70, "q_slow": 0.70},
        calib_now=0.35, noop_now=0.18,
        stages={"q_fast": 6, "q_slow": 2},
    )
    rows = {r["q"]: r for r in drift}
    assert rows["q_fast"]["n_stages"] == 6
    assert abs(rows["q_fast"]["fixed_delta_s"] - 0.30) < 1e-9
    assert rows["q_fast"]["ratio_fixed_adj"] == 1.0
    assert rows["q_slow"]["ratio_fixed_adj"] == 1.5
    # Missing stage count or floor noop stamp: row still reported,
    # just without the annotation (backwards compatible).
    drift2 = bench._drift_report(
        hist, {"q_fast": 0.70}, calib_now=0.35, noop_now=0.18, stages={})
    assert "fixed_delta_s" not in drift2[0]
    hist_nostamp = [{"label": "old", "queries": {"q_fast": 0.40},
                     "calib_s": 0.35}]
    drift3 = bench._drift_report(
        hist_nostamp, {"q_fast": 0.70}, calib_now=0.35, noop_now=0.18,
        stages={"q_fast": 6})
    assert "fixed_delta_s" not in drift3[0]
    # A FASTER regime than the floor's clamps at zero (never credits
    # a plan regression against a negative fixed delta).
    drift4 = bench._drift_report(
        hist, {"q_fast": 0.70}, calib_now=0.35, noop_now=0.04,
        stages={"q_fast": 6})
    assert drift4[0]["fixed_delta_s"] < 0
    assert drift4[0]["ratio_fixed_adj"] == drift4[0]["ratio"]


def test_alltime_floors_monotone(tmp_path, monkeypatch):
    """r16: BENCH_FLOORS.json keeps per-scale minima that only move
    DOWN — the rolling window re-floors in the current regime, these
    never do, so secular growth stays arithmetically visible."""
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))

    def mins(rec):
        # Project away the query-set fingerprint stamps (covered by
        # test_update_floors_resets_suite_min_on_queryset_change).
        return {k: v for k, v in rec.items() if k.endswith("_min")}

    rec = bench._update_floors(0.1, calib_s=0.35, noop_s=0.12, total=250.0)
    assert mins(rec) == {"noop_s_min": 0.12, "calib_s_min": 0.35,
                         "suite_min": 250.0}
    # A slower run cannot raise any floor.
    rec = bench._update_floors(0.1, calib_s=0.40, noop_s=0.18, total=280.0)
    assert mins(rec) == {"noop_s_min": 0.12, "calib_s_min": 0.35,
                         "suite_min": 250.0}
    # A faster run lowers exactly the fields it beats.
    rec = bench._update_floors(0.1, calib_s=0.33, noop_s=0.15, total=240.0)
    assert mins(rec) == {"noop_s_min": 0.12, "calib_s_min": 0.33,
                         "suite_min": 240.0}
    # Scales are isolated; zero/invalid samples never enter.
    rec001 = bench._update_floors(0.01, calib_s=0.35, noop_s=0.0, total=30.0)
    assert mins(rec001) == {"calib_s_min": 0.35, "suite_min": 30.0}
    assert bench._load_floors()["0.1"]["suite_min"] == 240.0


def test_stage_count_dedups_shared_and_skipped_stages(spark, sf_dir):
    """_stages_in_group counts DISTINCT stages that actually ran:
    re-running the same shuffle query inside one job group skips the
    map stage via shuffle reuse, so the group's true ran-stage count
    is strictly less than the naive per-job stageIds sum the old code
    computed (review finding r16 — the inflation over-credited
    fixed_delta_s and could mask plan regressions)."""
    import time as _time

    import bench
    from proof_of_concept___cdc_w_iceberg_spark.sources.tables import load

    sc = spark.sparkContext
    group = f"stagetest_{_time.monotonic_ns()}"
    sc.setJobGroup(group, "stage dedup law")
    df = load(spark, sf_dir, "orders").groupBy("o_orderstatus").count()
    df.count()
    df.count()  # same plan: shuffle reuse skips the exchange stage
    sc.setJobGroup(None, None)

    tracker = sc.statusTracker()
    naive = 0
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks > 0:
                naive += 1
    ran = bench._stages_in_group(sc, group)
    assert 0 < ran < naive, (ran, naive)


def test_update_floors_resets_suite_min_on_queryset_change(
        monkeypatch, tmp_path):
    """suite_min is only comparable within ONE BENCH_QUERIES
    composition: when the set changes (a rung added/removed), the old
    floor resets instead of reading as permanent secular drift —
    while noop/calib floors persist (probe-level, composition-free)."""
    import bench

    monkeypatch.setattr(bench.os.path, "dirname",
                        lambda p: str(tmp_path))
    monkeypatch.setattr(bench, "BENCH_QUERIES", ["q_a", "q_b"])
    rec = bench._update_floors(0.1, calib_s=0.4, noop_s=0.1,
                               total=100.0)
    assert rec["suite_min"] == 100.0 and rec["suite_queries_n"] == 2
    # Same set: a faster run floors lower.
    rec = bench._update_floors(0.1, calib_s=0.5, noop_s=0.2,
                               total=90.0)
    assert rec["suite_min"] == 90.0
    # Changed set: suite floor resets to the new composition's first
    # total (even though it is SLOWER); probe floors keep their minima.
    monkeypatch.setattr(bench, "BENCH_QUERIES", ["q_a", "q_b", "q_c"])
    rec = bench._update_floors(0.1, calib_s=0.6, noop_s=0.3,
                               total=120.0)
    assert rec["suite_min"] == 120.0 and rec["suite_queries_n"] == 3
    assert rec["noop_s_min"] == 0.1 and rec["calib_s_min"] == 0.4


def test_end_contamination_clean_cases():
    # The rule's margin is calibrated on MEASURED clean regimes — both
    # must stay clean:
    # (a) a strictly-alone idle-gate run ends at ~4.7 purely from the
    #     bench's own final minute of local[32] work (r17 measurement;
    #     the first-cut margin of 4.0 false-flagged exactly this);
    gate = {"settle_threshold": 8.0, "loadavg_at_gate": 0.05,
            "loadavg_after_gate": 0.05}
    out = bench._end_contamination(gate, 4.72)
    assert out["end_contaminated"] is False
    assert out["end_contamination_reason"] is None
    # (b) the committed r16 close (gate 4.08 -> end 7.35, judged
    #     regime-inflated but usable).
    gate = {"settle_threshold": 8.0, "loadavg_at_gate": 4.08,
            "loadavg_after_gate": 4.08}
    assert bench._end_contamination(gate, 7.35)["end_contaminated"] is False


def test_end_contamination_flags_co_tenant(capsys):
    # The failure mode the rule exists for: another workload joining
    # the 32-core box mid-run (the r16 discarded pytest-alongside
    # runs: gate ~4 -> end 22).
    gate = {"settle_threshold": 8.0, "loadavg_at_gate": 4.0,
            "loadavg_after_gate": 4.0}
    out = bench._end_contamination(gate, 22.0)
    assert out["end_contaminated"] is True
    assert "gate" in out["end_contamination_reason"]
    assert "WARNING" in capsys.readouterr().err


def test_end_contamination_tolerates_missing_values():
    # None loadavg (unsupported platform) and absent gate fields must
    # degrade to clean, never crash after a full timed suite.
    assert bench._end_contamination({}, None)["end_contaminated"] is False
    assert bench._end_contamination({}, 30.0)["end_contaminated"] is False
    gate = {"settle_threshold": None, "loadavg_at_gate": None,
            "loadavg_after_gate": None}
    assert bench._end_contamination(gate, 30.0)["end_contaminated"] is False


def test_append_history_tags_contaminated(monkeypatch, tmp_path):
    import json as _json
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    bench._append_history([], {"q": 1.0}, 1.0, 0.1, contaminated=True)
    bench._append_history(
        bench._load_history(), {"q": 0.5}, 0.5, 0.1, contaminated=False
    )
    with open(tmp_path / "BENCH_HISTORY.json") as f:
        snaps = _json.load(f)
    assert [s.get("contaminated", False) for s in snaps] == [True, False]
    # Comparison load excludes the tagged snapshot (it may never evict
    # a fast one from the 3-snapshot floor window) but disk keeps it.
    kept = bench._history_at_sf(snaps, 0.1)
    assert len(kept) == 1 and kept[0]["total"] == 0.5


def test_prev_timings_ignores_contaminated_artifact(tmp_path, monkeypatch):
    import json as _json
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    doc = {"sf": 0.1, "queries": {"q": 9.9},
           "env": {"end_contaminated": True}}
    with open(tmp_path / "BENCH_DETAIL.json", "w") as f:
        _json.dump(doc, f)
    assert bench._prev_timings(0.1) == {}
    doc["env"]["end_contaminated"] = False
    with open(tmp_path / "BENCH_DETAIL.json", "w") as f:
        _json.dump(doc, f)
    assert bench._prev_timings(0.1) == {"q": 9.9}


def test_append_history_contaminated_never_evicts_clean(monkeypatch, tmp_path):
    import json as _json
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    for i in range(6):
        bench._append_history(bench._load_history(), {"q": 1.0 + i},
                              1.0 + i, 0.1)
    for i in range(5):
        bench._append_history(bench._load_history(), {"q": 99.0},
                              99.0, 0.1, contaminated=True)
    with open(tmp_path / "BENCH_HISTORY.json") as f:
        snaps = _json.load(f)
    clean = [s for s in snaps if not s.get("contaminated")]
    dirty = [s for s in snaps if s.get("contaminated")]
    # All 6 clean snapshots survive a contaminated streak; the streak
    # itself is capped at 2 forensic copies.
    assert len(clean) == 6 and len(dirty) == 2
    assert bench._history_at_sf(snaps, 0.1) == clean
