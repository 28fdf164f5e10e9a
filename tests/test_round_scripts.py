"""Round-artifact helper scripts: failure-mode semantics pinned (ADVICE r9).

compare_replay_growth.py must not pass vacuously when a replay family
crashed (error block) or only one run published a growth field; and
check_bench_artifact.py must not vouch OK from a generic few-byte
fragment. Both are exercised as subprocesses, the way
scripts/round_artifacts.sh runs them.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", script), *argv],
        capture_output=True,
        text=True,
    )


def _write(tmp_path, name: str, obj: dict) -> str:
    p = tmp_path / name
    p.write_text(json.dumps(obj))
    return str(p)


_GOOD_BLOCK = {"sec": 1.0, "time_growth": 2.0, "time_growth_10x_to_100x": 5.0}


def test_replay_growth_agreement_ok(tmp_path):
    a = _write(tmp_path, "a.json", {"dedup_replay_10x": dict(_GOOD_BLOCK)})
    b = _write(
        tmp_path,
        "b.json",
        {"dedup_replay_10x": {"sec": 1.2, "time_growth": 2.2, "time_growth_10x_to_100x": 5.5}},
    )
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 0, r.stdout + r.stderr


def test_replay_growth_beyond_tolerance_fails(tmp_path):
    a = _write(tmp_path, "a.json", {"dedup_replay_10x": dict(_GOOD_BLOCK)})
    b = _write(
        tmp_path,
        "b.json",
        {"dedup_replay_10x": {"time_growth": 4.0, "time_growth_10x_to_100x": 5.0}},
    )
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 1, r.stdout


def test_replay_growth_error_block_is_structural_failure(tmp_path):
    # a crashed family must FAIL the reproducibility gate, not be logged
    # as an informational row with exit 0
    a = _write(tmp_path, "a.json", {"dedup_replay_10x": {"error": "boom"}})
    b = _write(tmp_path, "b.json", {"dedup_replay_10x": dict(_GOOD_BLOCK)})
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 2, r.stdout
    assert "structural" in r.stdout


def test_replay_growth_one_sided_field_is_structural_failure(tmp_path):
    # run B's family lost its 100x point — set intersection must not
    # silently shrink the comparison
    a = _write(tmp_path, "a.json", {"dedup_replay_10x": dict(_GOOD_BLOCK)})
    b = _write(tmp_path, "b.json", {"dedup_replay_10x": {"time_growth": 2.0}})
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 2, r.stdout
    assert "ONE-SIDED" in r.stdout


def test_replay_growth_block_absent_from_both_is_skipped(tmp_path):
    # older artifacts legitimately predate newer replay families — absent
    # from BOTH runs is not a failure
    a = _write(tmp_path, "a.json", {"dedup_replay_10x": dict(_GOOD_BLOCK)})
    b = _write(tmp_path, "b.json", {"dedup_replay_10x": dict(_GOOD_BLOCK)})
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 0, r.stdout


def test_replay_growth_band_violation_fails(tmp_path):
    """Round-11 verdict item 2: the pinned decade-growth bands are a
    HARD check — a 100x point growing past the measured capacity
    envelope (or collapsing to ~1x, i.e. a broken point) fails even when
    the two runs agree with each other perfectly."""
    bad = {
        "sri_etl_replay_100x": {"sec": 100.0, "growth_vs_10x": 22.0},
        "graph_replay_10x": {"sec": 50.0, "time_growth_10x_to_100x": 12.0},
    }
    a = _write(tmp_path, "a.json", bad)
    b = _write(tmp_path, "b.json", bad)
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 1, r.stdout
    assert "band:sri_etl_replay_100x.growth_vs_10x" in r.stdout
    # in-band values (including IMPROVEMENTS below the observed range,
    # down to the structural floor) pass
    ok = {
        "sri_etl_replay_100x": {"sec": 100.0, "growth_vs_10x": 8.5},
        "graph_replay_10x": {"sec": 50.0, "time_growth_10x_to_100x": 12.0},
    }
    a = _write(tmp_path, "a2.json", ok)
    b = _write(tmp_path, "b2.json", ok)
    r = _run("compare_replay_growth.py", a, b)
    assert r.returncode == 0, r.stdout


# ---------------------------------------------------------------------------
# check_bench_artifact.py fragment-length guard: exercised via the module's
# main() against a fake repo layout (the script globs its own parent dir,
# so subprocess with a patched HERE is simplest via importlib).
# ---------------------------------------------------------------------------


def _run_bench_check(tmp_path, tail_line: str, full_line: str) -> tuple[int, str]:
    (tmp_path / "docs").mkdir()
    (tmp_path / "BENCH_r05.json").write_text(
        json.dumps({"rc": 0, "tail": tail_line})
    )
    (tmp_path / "docs" / "BENCH_full_r05.json").write_text(full_line)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_bench_artifact", os.path.join(REPO, "scripts", "check_bench_artifact.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.HERE = str(tmp_path)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = mod.main()
    return rc, buf.getvalue()


_FULL = json.dumps(
    {"metric": "bench_total", "value": 65.861, "unit": "sec", "queries": {f"q{i}": 0.5 for i in range(40)}}
)


def test_bench_artifact_long_fragment_containment_ok(tmp_path):
    rc, out = _run_bench_check(tmp_path, _FULL[-400:], _FULL)
    assert rc == 0 and "OK" in out


def test_bench_artifact_long_fragment_mismatch_fails(tmp_path):
    other = _FULL.replace("65.861", "99.999").replace("0.5", "0.7")
    rc, out = _run_bench_check(tmp_path, other[-400:], _FULL)
    assert rc == 1, out


def test_bench_artifact_short_generic_fragment_is_inconclusive(tmp_path):
    # '}}' is a substring of ANY bench artifact — must NOT vouch OK
    rc, out = _run_bench_check(tmp_path, "}}", _FULL)
    assert rc == 2 and "INCONCLUSIVE" in out


def test_bench_artifact_short_fragment_with_matching_value_ok(tmp_path):
    frag = '{"metric": "bench_total", "value": 65.861'
    assert len(frag) < 200
    rc, out = _run_bench_check(tmp_path, frag, _FULL)
    assert rc == 0 and "value" in out


def test_bench_artifact_short_fragment_with_wrong_value_fails(tmp_path):
    # a present-but-different 'value' is conclusive: different run
    frag = '{"metric": "bench_total", "value": 99.999'
    rc, out = _run_bench_check(tmp_path, frag, _FULL)
    assert rc == 1, out


def _gate_step() -> list[str]:
    """The shuffle-gate command round_artifacts.sh runs after bench.py."""
    with open(os.path.join(REPO, "scripts", "round_artifacts.sh")) as f:
        text = f.read()
    assert text.index("python bench.py") < text.index("check_shuffle_gate")
    code = re.search(r"python -c '([^']*check_shuffle_gate[^']*)'", text)
    return [sys.executable, "-c", code.group(1)]


def test_round_close_fails_on_a_shuffle_regression(tmp_path):
    """bench.py only records the shuffle gate's verdict; the round-close
    step after it must exit nonzero when a key regressed, and pass an
    artifact whose gate found none, or that had no floor yet."""

    def gate(scope_counts: dict) -> dict:
        return {
            "floor": "BENCH_full_r05.json",
            "queries": {"counts": {"regressed": 0}, "per_key": {}},
            "replays": {"counts": {"regressed": 0}, "per_key": {}},
            **scope_counts,
        }

    regressed = gate(
        {
            "replays": {
                "counts": {"regressed": 1},
                "per_key": {"fam.ten_x": "regressed:spill (shuffle 1->1 MiB)"},
            }
        }
    )
    for shuffle_regression, rc in ((regressed, 1), (gate({}), 0), (None, 0)):
        path = _write(tmp_path, "BENCH_full_r06.json",
                      {"shuffle_regression": shuffle_regression})
        r = subprocess.run(_gate_step() + [path], cwd=REPO,
                           capture_output=True, text=True)
        assert r.returncode == rc, r.stdout + r.stderr
        assert ("fam.ten_x" in r.stdout) == (rc == 1), r.stdout
