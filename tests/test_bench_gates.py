"""Unit tests for the two bench regression gates (round-5 verdict items
1-2): the wall-time block's calibration-scalar preference and the
deterministic shuffle-bytes gate over the bench's stage-metrics ledger.
Pure Python — no Spark session — so the gate logic itself is pinned, not
just observed through round artifacts."""

from __future__ import annotations

import contextlib
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


MIB = 2**20


def _metrics(
    write_mib=10.0, read_mib=10.0, spill_mib=0.0, evicted=0, jobs_dropped=0
) -> dict:
    """One execution's stage metrics, as the bench ledger books them."""
    return {
        "jobs": 1,
        "stages": 2,
        "tasks": 4,
        "exec_ms": 100,
        "shuffle_read": int(read_mib * MIB),
        "shuffle_write": int(write_mib * MIB),
        "spill_disk": int(spill_mib * MIB),
        "spill_mem": 0,
        "input_bytes": 0,
        "task_skew": 1.0,
        "evicted": evicted,
        "jobs_dropped": jobs_dropped,
    }


def _mk_floor(tmp_path, round_n, ledger):
    """A committed bench artifact carrying a stage-metrics ledger."""
    d = tmp_path / "docs"
    d.mkdir(exist_ok=True)
    with open(d / f"BENCH_full_r{round_n:02d}.json", "w") as f:
        json.dump({"queries": {}, "stage_metrics": ledger}, f)
    return str(tmp_path)


BASE = [_metrics()]


def test_shuffle_gate_flags_growth_and_spill(tmp_path):
    import bench

    here = _mk_floor(
        tmp_path,
        5,
        {"queries.q_ok": BASE, "queries.q_grew": BASE, "queries.q_spill": BASE},
    )
    out = {
        "queries.q_ok": [_metrics(write_mib=11.0)],  # +5%: fine
        "queries.q_grew": [_metrics(write_mib=20.0)],  # +50% and +10 MiB
        "queries.q_spill": [_metrics(spill_mib=3.0)],  # new spill > 1 MiB
        "queries.q_new": BASE,
    }
    gate = bench.shuffle_gate(out, here, 6)
    reg = gate["queries"]
    assert reg["counts"] == {"ok": 1, "regressed": 2, "new": 1, "missing": 0, "unmeasured": 0}
    assert reg["per_key"]["queries.q_grew"].startswith("regressed:1.5x")
    assert reg["per_key"]["queries.q_spill"].startswith("regressed:spill")
    assert reg["per_key"]["queries.q_new"] == "new"
    assert gate["floor"] == "BENCH_full_r05.json"


def test_shuffle_gate_ignores_subme_mib_spill_but_reports_missing(tmp_path):
    """Sub-MiB spill is host memory pressure, not plan shape — no trip;
    and a floor query absent from the run is surfaced as `missing`
    (visible coverage shrink), not silently dropped. The gate reads each
    key's median repeat, so one odd repeat does not trip it."""
    import bench

    here = _mk_floor(tmp_path, 5, {"queries.q_a": BASE, "queries.q_dropped": BASE})
    out = {
        "queries.q_a": [
            _metrics(spill_mib=0.4),
            _metrics(write_mib=30.0, spill_mib=9.0),
            _metrics(spill_mib=0.4),
        ]
    }
    reg = bench.shuffle_gate(out, here, 6)["queries"]
    assert reg["counts"] == {"ok": 1, "regressed": 0, "new": 0, "missing": 1, "unmeasured": 0}
    assert reg["per_key"]["queries.q_dropped"].startswith("missing")


def test_shuffle_gate_absolute_floor_protects_tiny_queries(tmp_path):
    """A kilobyte-scale query tripling its shuffle is rounding noise, not
    a plan change — the +1 MiB absolute floor must hold it back. Replay
    points move GiBs and are held to +100 MiB and a 1 GiB spill floor:
    +50 MiB on a replay point is fine, 1.5 GiB of new spill is not."""
    import bench

    tiny = [_metrics(write_mib=0.1, read_mib=0.1)]
    point = [_metrics(write_mib=100.0, read_mib=100.0)]
    grown = [_metrics(write_mib=150.0, read_mib=100.0)]  # 1.25x, +50 MiB
    here = _mk_floor(
        tmp_path,
        5,
        {"queries.q_tiny": tiny, "fam.one_x": point, "fam.ten_x": point},
    )
    out = {
        "queries.q_tiny": [_metrics(write_mib=0.6, read_mib=0.1)],  # 3.5x, +0.5 MiB
        "fam.one_x": grown,
        "fam.ten_x": [_metrics(write_mib=100.0, read_mib=100.0, spill_mib=1536.0)],
    }
    gate = bench.shuffle_gate(out, here, 6)
    assert gate["queries"]["counts"]["regressed"] == 0
    reps = gate["replays"]
    assert reps["counts"] == {"ok": 1, "regressed": 1, "new": 0, "missing": 0, "unmeasured": 0}
    assert reps["per_key"]["fam.one_x"].startswith("ok:1.25x")
    assert reps["per_key"]["fam.ten_x"].startswith("regressed:spill")
    # the same growth on a catalog query, at the query thresholds, regresses
    q = bench.shuffle_regression(
        {"queries.q": grown}, {"queries.q": point}, abs_mib=1.0, spill_floor_mib=1.0
    )
    assert q["counts"]["regressed"] == 1


def test_shuffle_gate_reports_truncated_reads_as_unmeasured(tmp_path):
    """A key whose run or floor lost stages or jobs to the status store's
    retention caps summed short bytes: it is neither ok nor regressed,
    however its bytes compare."""
    import bench

    here = _mk_floor(
        tmp_path,
        5,
        {
            "fam.floor_short": [_metrics(write_mib=1.0, evicted=3)],
            "fam.run_short": [_metrics(), _metrics(jobs_dropped=2), _metrics()],
            "fam.whole": [_metrics()],
        },
    )
    out = {
        "fam.floor_short": [_metrics(write_mib=900.0)],
        "fam.run_short": [_metrics(), _metrics(write_mib=1.0, jobs_dropped=2), _metrics()],
        "fam.whole": [_metrics(write_mib=900.0)],
    }
    reps = bench.shuffle_gate(out, here, 6)["replays"]
    assert reps["counts"] == {
        "ok": 0, "regressed": 1, "new": 0, "missing": 0, "unmeasured": 2
    }
    assert reps["per_key"]["fam.floor_short"].startswith("unmeasured")
    assert reps["per_key"]["fam.run_short"].startswith("unmeasured")


def test_shuffle_gate_uses_newest_prior_round_only(tmp_path):
    """The floor is the newest PRIOR-round artifact that carries stage
    metrics: artifacts from before the ledger existed are skipped, and
    same/future rounds are ignored entirely."""
    import bench

    here = _mk_floor(tmp_path, 4, {"queries.q": BASE})
    _mk_floor(tmp_path, 5, {"queries.q": [_metrics(write_mib=40.0)]})
    with open(tmp_path / "docs" / "BENCH_full_r06.json", "w") as f:
        json.dump({"queries": {"q": 1.0}}, f)  # no ledger: not a floor
    # current round 7 must diff against r05 (the 40 MiB floor), not r04
    gate = bench.shuffle_gate({"queries.q": [_metrics(write_mib=41.0)]}, here, 7)
    assert gate["floor"] == "BENCH_full_r05.json"
    assert gate["queries"]["counts"]["regressed"] == 0
    # and ignores same/future rounds entirely
    assert bench.shuffle_gate({"queries.q": BASE}, here, 4) is None


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
    """A typo'd or renamed query in bench.py's HEADLINE/EXTENDED silently
    drops out of measurement (the bench skips unknown names) — exactly
    the silent coverage shrink the gates exist to prevent. Pin every
    listed name to the catalog."""
    import bench
    from sri_spark.plans import all_queries

    catalog = set(all_queries())
    for lst, origin in (
        (bench.HEADLINE, "bench.HEADLINE"),
        (bench.EXTENDED, "bench.EXTENDED"),
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
    # r11+: artifacts declare their own floor eligibility, and the IVF
    # index rides in both recall blocks
    assert "floor_eligible" in art
    assert "ivf" in art["ann_recall"]
    assert "ivf_probe4" in art["ann_recall"]["planted"]
    # artifacts that record their session config also record what every
    # timed execution's stages did: the shuffle gate's input
    if "session_config" in art:
        assert art["stage_metrics"], "bench artifact missing stage_metrics"
        assert all(k.count(".") >= 1 for k in art["stage_metrics"])


def test_median_point_honors_single_shot_env(monkeypatch):
    """REPLAY_REPEATS = 1 (what the replay-invariant tests set) must make
    every replay point run exactly once with no warm-up, whatever repeat
    count the point asks for — those tests assert counts, so extra
    executions are pure cost."""
    import bench

    monkeypatch.setattr(bench, "REPLAY_REPEATS", 1)
    calls = []
    sec, result = bench._median_point(
        lambda: calls.append(1) or "r", "p", warmup=True
    )
    assert len(calls) == 1 and result == "r"

    calls.clear()
    med = bench._interleaved_medians(
        {"a": lambda: calls.append("a"), "b": lambda: calls.append("b")},
        repeats=5,
        warmup_keys=("a",),
    )
    assert calls == ["a", "b"] and set(med) == {"a", "b"}


def test_median_point_defaults_unchanged_without_env():
    import bench

    assert bench.REPLAY_REPEATS == 3
    calls = []
    bench._median_point(lambda: calls.append(1), "p", warmup=True)
    assert len(calls) == 4  # warm-up + 3 timed

    calls.clear()
    bench._interleaved_medians(
        {"a": lambda: calls.append("a"), "b": lambda: calls.append("b")},
        warmup_keys=("a",),
    )
    # warm-up a, then 3 interleaved cycles of (a, b)
    assert calls == ["a", "a", "b", "a", "b", "a", "b"]


def test_compile_ledger_books_every_timed_repeat(monkeypatch):
    """Each timed execution books its compile-count delta and its stage
    metrics under "<block>.<point>"; warm-ups stay off the ledger, and an
    unarmed ledger (no probe, no reader) records nothing."""
    import bench

    ledger = bench._Ledger()
    monkeypatch.setattr(bench, "_LEDGER", ledger)
    bench._median_point(lambda: None, "p", warmup=True)
    assert ledger.compiles == {} and ledger.stage_metrics == {}

    compiled = [0]
    ledger.probe = lambda: compiled[0]
    read = []

    @contextlib.contextmanager
    def reader(label):
        out = {}
        yield out
        read.append(label)  # after the body, as the real reader reads
        out["label"] = label

    ledger.reader = reader

    def cold_once():  # compiles 5 classes on its first call only
        compiled[0] += 5 if compiled[0] == 0 else 0

    ledger.start_block("fam")
    bench._median_point(cold_once, "build", warmup=False)
    bench._interleaved_medians(
        {"one_x": lambda: None, ("ten_x", "win"): lambda: None},
        repeats=2,
        warmup_keys=("one_x",),
    )
    assert ledger.compiles == {
        "fam.build": [5, 0, 0],
        "fam.one_x": [0, 0],
        "fam.ten_x.win": [0, 0],
    }
    assert {k: [m["label"] for m in v] for k, v in ledger.stage_metrics.items()} == {
        k: [k] * len(v) for k, v in ledger.compiles.items()
    }
    assert len(read) == 7  # timed executions only, not the warm-up


def test_ledger_keys_survive_an_added_leg(monkeypatch):
    """Points are keyed by what they time, not by their position in the
    block: inserting a leg ahead of the others adds its own key and leaves
    every other point's key (shuffle_gate's pairing) unchanged."""
    import bench

    def keys(legs):
        ledger = bench._Ledger()
        ledger.probe = lambda: 0
        monkeypatch.setattr(bench, "_LEDGER", ledger)
        monkeypatch.setattr(bench, "REPLAY_REPEATS", 1)
        ledger.start_block("ann_replay_10x")
        for label in legs:
            bench._median_point(lambda: None, label)
        return set(ledger.compiles)

    before = keys([("one_x", "ivf_build"), ("one_x", "ivf_probe")])
    after = keys([("one_x", "lsh_probe"), ("one_x", "ivf_build"), ("one_x", "ivf_probe")])
    assert before == {"ann_replay_10x.one_x.ivf_build", "ann_replay_10x.one_x.ivf_probe"}
    assert after - before == {"ann_replay_10x.one_x.lsh_probe"}
    assert before < after


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
