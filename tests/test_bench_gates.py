"""Unit tests for the two bench regression gates (round-5 verdict items
1-2): the wall-time block's calibration-scalar preference and the
deterministic shuffle-bytes gate. Pure Python — no Spark session — so the
gate logic itself is pinned, not just observed through round artifacts."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def _dump_shuffle():
    return _load("dump_shuffle", os.path.join(REPO, "scripts", "dump_shuffle.py"))


def _mk_floor(tmp_path, round_n, queries):
    doc = {"sf_dir": "x", "unit": "MiB", "queries": queries}
    d = tmp_path / "docs"
    d.mkdir(exist_ok=True)
    with open(d / f"SHUFFLE_r{round_n:02d}.json", "w") as f:
        json.dump(doc, f)
    return str(tmp_path)


BASE = {
    "shuffle_write_mb": 10.0,
    "shuffle_read_mb": 10.0,
    "spill_disk_mb": 0,
    "spill_mem_mb": 0,
}


def test_shuffle_gate_flags_growth_and_spill(tmp_path):
    ds = _dump_shuffle()
    here = _mk_floor(tmp_path, 5, {"q_ok": BASE, "q_grew": BASE, "q_spill": BASE})
    out = {
        "q_ok": {**BASE, "shuffle_write_mb": 11.0},  # +5%: fine
        "q_grew": {**BASE, "shuffle_write_mb": 20.0},  # +50% and +10 MiB
        "q_spill": {**BASE, "spill_disk_mb": 3.0},  # new spill > 1 MiB
        "q_new": BASE,
    }
    reg = ds.shuffle_regression_block(here, 6, out)
    assert reg["counts"] == {"ok": 1, "regressed": 2, "new": 1, "missing": 0}
    assert reg["per_query"]["q_grew"].startswith("regressed:1.5x")
    assert reg["per_query"]["q_spill"].startswith("regressed:spill")
    assert reg["per_query"]["q_new"] == "new"
    assert reg["floor"] == "SHUFFLE_r05.json"


def test_shuffle_gate_ignores_subme_mib_spill_but_reports_missing(tmp_path):
    """Sub-MiB spill is host memory pressure, not plan shape — no trip;
    and a floor query absent from the audit is surfaced as `missing`
    (visible coverage shrink), not silently dropped."""
    ds = _dump_shuffle()
    here = _mk_floor(tmp_path, 5, {"q_a": BASE, "q_dropped": BASE})
    out = {"q_a": {**BASE, "spill_disk_mb": 0.4}}
    reg = ds.shuffle_regression_block(here, 6, out)
    assert reg["counts"] == {"ok": 1, "regressed": 0, "new": 0, "missing": 1}
    assert reg["per_query"]["q_dropped"].startswith("missing")


def test_shuffle_gate_absolute_floor_protects_tiny_queries(tmp_path):
    """A kilobyte-scale query tripling its shuffle is rounding noise, not
    a plan change — the +1 MiB absolute floor must hold it back."""
    ds = _dump_shuffle()
    tiny = {**BASE, "shuffle_write_mb": 0.1, "shuffle_read_mb": 0.1}
    here = _mk_floor(tmp_path, 5, {"q_tiny": tiny})
    out = {"q_tiny": {**tiny, "shuffle_write_mb": 0.6}}  # 3.5x but +0.5 MiB
    reg = ds.shuffle_regression_block(here, 6, out)
    assert reg["counts"]["regressed"] == 0


def test_shuffle_gate_uses_newest_prior_round_only(tmp_path):
    ds = _dump_shuffle()
    here = _mk_floor(tmp_path, 4, {"q": BASE})
    _mk_floor(tmp_path, 5, {"q": {**BASE, "shuffle_write_mb": 40.0}})
    # current round 6 must diff against r05 (the 40 MiB floor), not r04
    reg = ds.shuffle_regression_block(here, 6, {"q": {**BASE, "shuffle_write_mb": 41.0}})
    assert reg["floor"] == "SHUFFLE_r05.json"
    assert reg["counts"]["regressed"] == 0
    # and ignores same/future rounds entirely
    assert ds.shuffle_regression_block(here, 4, {"q": BASE}) is None


def test_walltime_gate_prefers_multicore_scalar(monkeypatch):
    import bench

    floor = {
        "queries": {"q": 1.0},
        "calibration": {"range_sum_500m_sec": 0.1, "shuffle_groupby_sec": 2.0},
    }
    monkeypatch.setattr(
        bench, "_load_floor_artifact", lambda: ("BENCH_full_rXX.json", floor)
    )
    # multicore scalar says this host is 1.5x slower; the single-threaded
    # scalar would claim 3x. A 1.6 s run is "ok" under the multicore
    # normalization (floor 1.5 s) and must use that scalar.
    reg = bench.regression_block({"q": 1.6}, calib=0.3, shuffle_calib=3.0)
    assert reg["calibration_scalar"] == "shuffle_groupby_sec"
    assert reg["host_factor"] == 1.5
    assert reg["per_query"]["q"].startswith("ok:")


def test_walltime_gate_falls_back_to_singlecore_scalar(monkeypatch):
    import bench

    floor = {"queries": {"q": 1.0}, "calibration": {"range_sum_500m_sec": 0.1}}
    monkeypatch.setattr(
        bench, "_load_floor_artifact", lambda: ("BENCH_full_r05.json", floor)
    )
    reg = bench.regression_block({"q": 1.0}, calib=0.1, shuffle_calib=5.0)
    assert reg["calibration_scalar"] == "range_sum_500m_sec"
    assert reg["host_factor"] == 1.0
    assert reg["host_factor_suspect"] is False


def test_walltime_gate_flags_suspect_host_factor(monkeypatch):
    """r10: a load-avg-14 neighbor made host_factor read 1.71 and the gate
    flagged 3 regressed / 38 improved on byte-identical plans. A factor
    far from 1.0 means the calibration itself ran under contention — the
    artifact must say so, so per-query wall verdicts on such a run are
    read as untrusted (the shuffle-bytes gate is the reliable one)."""
    import bench

    floor = {
        "queries": {"q": 1.0},
        "calibration": {"shuffle_groupby_sec": 1.0},
    }
    monkeypatch.setattr(
        bench, "_load_floor_artifact", lambda: ("BENCH_full_rXX.json", floor)
    )
    assert bench.regression_block({"q": 1.0}, 0.1, 1.71)[
        "host_factor_suspect"
    ] is True
    assert bench.regression_block({"q": 1.0}, 0.1, 0.65)[
        "host_factor_suspect"
    ] is True
    assert bench.regression_block({"q": 1.0}, 0.1, 1.2)[
        "host_factor_suspect"
    ] is False


def _mk_bench_floor(tmp_path, name, host_factor=None, **extra):
    doc = {"queries": {"q": 1.0}, "calibration": {"shuffle_groupby_sec": 1.0}}
    if host_factor is not None:
        doc["regression"] = {"host_factor": host_factor}
    doc.update(extra)
    path = tmp_path / name
    with open(path, "w") as f:
        json.dump(doc, f)
    return str(path)


def test_floor_loader_rejects_contended_artifact(tmp_path, monkeypatch):
    """Round-11 verdict item 1: the r10 floor was captured at load-avg
    17.5 / host_factor 1.286, and every later comparison would have
    inherited that contamination. An artifact whose own recorded
    host_factor is outside FLOOR_HOST_FACTOR_BAND must be skipped as
    floor in favor of the next-older in-band artifact."""
    import bench

    p9 = _mk_bench_floor(tmp_path, "BENCH_full_r09.json", host_factor=0.94)
    p10 = _mk_bench_floor(tmp_path, "BENCH_full_r10.json", host_factor=1.29)
    monkeypatch.setattr(
        bench, "_floor_candidates", lambda: [(9, 1, p9), (10, 1, p10)]
    )
    monkeypatch.setattr(bench, "_current_round", lambda: 11)
    name, doc = bench._load_floor_artifact()
    assert name == "BENCH_full_r09.json"
    assert not doc.get("_floor_ineligible_fallback")
    # FAST capture hosts are ELIGIBLE (one-sided since r12): contention
    # can only inflate times, so a below-band factor means the artifact's
    # FLOOR was the noisy capture, not this run — refusing it would pin
    # the floor at contended grade forever (exactly what happened when
    # the r12 quiet run, shuffle calib 0.79 = the known quiet level, read
    # factor 0.736 against the contended r11 driver-rerun floor)
    p9b = _mk_bench_floor(tmp_path, "BENCH_full_r09b.json", host_factor=0.77)
    monkeypatch.setattr(
        bench, "_floor_candidates", lambda: [(9, 1, p9b), (10, 1, p10)]
    )
    name, doc = bench._load_floor_artifact()
    assert name == "BENCH_full_r09b.json"
    assert not doc.get("_floor_ineligible_fallback")
    # with ONLY the contended artifact available, fall back loudly
    monkeypatch.setattr(bench, "_floor_candidates", lambda: [(10, 1, p10)])
    name, doc = bench._load_floor_artifact()
    assert name == "BENCH_full_r10.json"
    assert doc["_floor_ineligible_fallback"] is True
    # an r11-era doc refused purely for a below-band factor is re-admitted
    assert bench._floor_eligible(
        {"floor_eligible": False, "regression": {"host_factor": 0.74}}
    )
    # but an explicit refusal for an above-band (contended) capture holds
    assert not bench._floor_eligible(
        {"floor_eligible": False, "regression": {"host_factor": 1.29}}
    )


def test_floor_loader_honors_explicit_eligibility_key(tmp_path, monkeypatch):
    """r11+ artifacts carry an explicit floor_eligible bool that overrides
    the derived host_factor heuristic — a quiet-window re-measure can be
    marked eligible even when its factor vs a contaminated floor is off."""
    import bench

    p10 = _mk_bench_floor(
        tmp_path,
        "BENCH_full_r10.json",
        host_factor=1.29,
        floor_eligible=True,
    )
    monkeypatch.setattr(bench, "_floor_candidates", lambda: [(10, 1, p10)])
    monkeypatch.setattr(bench, "_current_round", lambda: 11)
    name, doc = bench._load_floor_artifact()
    assert name == "BENCH_full_r10.json"
    assert not doc.get("_floor_ineligible_fallback")
    # pre-calibration artifacts (no regression block) stay eligible
    assert bench._floor_eligible({"queries": {}}) is True
    assert bench._floor_eligible({"floor_eligible": False}) is False


def test_bench_and_audit_name_lists_resolve_in_catalog():
    """A typo'd or renamed query in bench.py's HEADLINE/EXTENDED or
    dump_shuffle's QUERIES silently drops out of measurement (both
    harnesses skip unknown names) — exactly the silent coverage shrink
    the gates exist to prevent. Pin every listed name to the catalog."""
    import bench
    from sri_spark.plans import all_queries

    ds = _dump_shuffle()
    catalog = set(all_queries())
    for lst, origin in (
        (bench.HEADLINE, "bench.HEADLINE"),
        (bench.EXTENDED, "bench.EXTENDED"),
        (ds.QUERIES, "dump_shuffle.QUERIES"),
    ):
        unknown = sorted(set(lst) - catalog)
        assert not unknown, f"{origin} names not in catalog: {unknown}"
        assert len(set(lst)) == len(lst), f"{origin} has duplicates"


def test_committed_bench_artifact_schema():
    """The committed round artifact must keep the keys the driver's tail
    parser and next round's floor loader depend on — a renamed key would
    silently disable cross-round comparability (the floor loader skips
    artifacts without `queries`) or drop a replay from the judge's view."""
    import glob

    paths = sorted(glob.glob(os.path.join(REPO, "docs", "BENCH_full_r*.json")))
    assert paths, "no committed bench artifact"
    with open(paths[-1]) as f:
        art = json.load(f)
    m = re.search(r"BENCH_full_r(\d+)\.json", paths[-1])
    artifact_round = int(m.group(1)) if m else 0
    if artifact_round >= 13:
        # r13 additions: span-dedup decade replay + the binding organic
        # ANN operating-point contract
        assert "spans_replay_10x" in art
        oc = art["ann_recall"]["organic_contract"]
        assert oc["binding"] is True
        assert oc["pass"] is True, oc
    for key in (
        "metric",
        "value",
        "unit",
        "sf",
        "queries",
        "calibration",
        "regression",
        "shuffle_regression",
        "sri_etl_replay",
        "sri_etl_replay_10x",
        "dedup_replay_10x",
        "events_replay_10x",
        "graph_replay_10x",
        "ann_replay_10x",
        "keepbest_replay_10x",
        "corpus_pipeline_replay",
        "ann_recall",
    ):
        assert key in art, f"bench artifact missing {key}"
    assert art["calibration"].keys() >= {
        "range_sum_500m_sec",
        "shuffle_groupby_sec",
    }, "both calibration scalars must be recorded for r07+ normalization"
    assert art["ann_recall"]["advisory"] is True
    assert art["ann_recall"]["planted"]["binding"] is True
    assert art["queries"], "per-query dict must be non-empty"
    # r11+: artifacts declare their own floor eligibility, and the margin
    # multiprobe curve rides in both recall blocks
    assert "floor_eligible" in art
    assert "lsh_multiprobe" in art["ann_recall"]
    assert "lsh_margin_probe16" in art["ann_recall"]["planted"]


def test_median_point_honors_single_shot_env(monkeypatch):
    """SPARK_GRAFT_REPLAY_REPEATS=1 (set by the byte audits) must make a
    replay point run exactly once with no warm-up — the stage-metrics
    consumers sum bytes across every execution, so a stray repeat would
    multiply the audited bytes and trip the cross-round gate on
    methodology (the r9 gate's first armed run fired on exactly this)."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_REPLAY_REPEATS", "1")
    calls = []
    sec, result = bench._median_point(
        lambda: calls.append(1) or "r", warmup=True, repeats=3
    )
    assert len(calls) == 1 and result == "r"

    calls.clear()
    med = bench._interleaved_medians(
        {"a": lambda: calls.append("a"), "b": lambda: calls.append("b")},
        repeats=3,
        warmup_keys=("a",),
    )
    assert calls == ["a", "b"] and set(med) == {"a", "b"}


def test_median_point_defaults_unchanged_without_env(monkeypatch):
    import bench

    monkeypatch.delenv("SPARK_GRAFT_REPLAY_REPEATS", raising=False)
    calls = []
    bench._median_point(lambda: calls.append(1), warmup=True, repeats=3)
    assert len(calls) == 4  # warm-up + 3 timed

    calls.clear()
    bench._interleaved_medians(
        {"a": lambda: calls.append("a"), "b": lambda: calls.append("b")},
        repeats=3,
        warmup_keys=("a",),
    )
    # warm-up a, then 3 interleaved cycles of (a, b)
    assert calls == ["a", "a", "b", "a", "b", "a", "b"]


def test_compile_ledger_books_every_timed_repeat(monkeypatch):
    """Each timed execution books the compile-count delta under
    "<block>.<point>"; warm-ups stay off the ledger, and an unarmed
    ledger (no probe) records nothing."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_REPLAY_REPEATS", raising=False)
    ledger = bench._CompileLedger()
    monkeypatch.setattr(bench, "_LEDGER", ledger)
    bench._median_point(lambda: None, warmup=True, repeats=3)
    assert ledger.log == {}

    compiled = [0]
    ledger.probe = lambda: compiled[0]

    def cold_once():  # compiles 5 classes on its first call only
        compiled[0] += 5 if compiled[0] == 0 else 0

    ledger.start_block("fam")
    bench._median_point(cold_once, warmup=False, repeats=3)
    bench._interleaved_medians(
        {"one_x": lambda: None, ("ten_x", "win"): lambda: None},
        repeats=2,
        warmup_keys=("one_x",),
    )
    assert ledger.log == {
        "fam.point1": [5, 0, 0],
        "fam.one_x": [0, 0],
        "fam.ten_x.win": [0, 0],
    }


def test_compact_final_line_fits_driver_tail_window():
    """Round-12 verdict item 1: the driver tail-captures the last 2,000
    chars of stdout, so the final bench line must stay under budget or
    the round envelope reads parsed:null (as it did for 12 rounds). Pin
    the invariant against the real committed artifact, not a toy dict."""
    import glob

    import bench

    paths = sorted(glob.glob(os.path.join(REPO, "docs", "BENCH_full_r*.json")))
    assert paths, "no committed bench artifact"
    with open(paths[-1]) as f:
        art = json.load(f)
    line = bench.compact_final_line(
        art, art.get("regression"), os.path.relpath(paths[-1], REPO)
    )
    assert len(line) <= bench.COMPACT_LINE_BUDGET
    doc = json.loads(line)
    # the keys the driver's parser and a human skim both need
    assert doc["metric"] == "all_queries_total"
    assert doc["unit"] == "sec"
    assert doc["queries"], "headline queries should fit the budget"
    assert set(doc["queries"]) <= set(bench.HEADLINE)
    assert doc["full_artifact"].startswith("docs/")


def test_compact_final_line_drops_queries_rather_than_overflow():
    """If headline growth ever pushes the line past budget, the fallback
    must shed the per-query dict, never emit an unparseable tail."""
    import bench

    art = {
        "queries": {n: 1.23456 for n in bench.HEADLINE},
        "value": 1.0,
        "sf": 0.1,
        "headline_total": 1.0,
        "extended_total": 1.0,
        # a calibration blob big enough to force the fallback path
        "calibration": {"pad": "x" * 2000},
        "floor_eligible": True,
    }
    line = bench.compact_final_line(art, None, "docs/x.json")
    assert len(line) <= bench.COMPACT_LINE_BUDGET
    assert "queries" not in json.loads(line)
