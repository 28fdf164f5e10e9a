"""The bench 10x replays are measurement code — if a copy-shift collided
keys or a salt leaked shingles across copies, the growth numbers would
silently measure the wrong workload. These tests pin the replica
constructions' structural invariants at sf0.001 (tiny, fast), so the
bench's growth curves stay meaningful.

Each bench replay builds 10 disjoint shifted/salted copies of a fixture
table; disjointness makes the exact 10x factors below provable:
sessions/nodes/clusters must multiply by exactly 10, while grids that
depend only on the value domain (the hourly window set) must not grow.
"""

from __future__ import annotations

import pytest

import bench

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _small_sf(monkeypatch):
    monkeypatch.setattr(bench, "SF_DIR", SF)
    # these tests assert COUNT invariants (sessions, clusters, nodes,
    # candidate disjointness), never wall times — run every replay point
    # once instead of paying for the interleaved timing cycles
    monkeypatch.setattr(bench, "REPLAY_REPEATS", 1)


def test_events_replay_copies_preserve_session_structure(spark):
    out = bench.events_replay_10x(spark)
    assert out["rows_10x"] == 10 * out["rows_1x"]
    # user ids are shifted per copy, so every copy reproduces the original
    # per-user streams: exactly 10x sessions, not one merged mess
    assert out["ten_x"]["n_sessions"] == 10 * out["one_x"]["n_sessions"]
    # the hourly window grid depends on the time domain, which copies
    # share — same (window, event_type) rows, 10x the counts inside them
    assert out["ten_x"]["n_window_rows"] == out["one_x"]["n_window_rows"]


@pytest.mark.slow  # r13: 143s — replay-harness invariant, re-proven at round close
def test_graph_replay_copies_are_disjoint(spark):
    out = bench.graph_replay_10x(spark)
    assert out["edges_10x"] == 10 * out["edges_1x"]
    # disjoint id ranges per copy: node count multiplies exactly, so the
    # measured growth is 10 independent graphs, not an accidental merge
    assert out["ten_x"]["n_nodes"] == 10 * out["one_x"]["n_nodes"]


@pytest.mark.slow  # r13: 27s — replay-harness invariant, re-proven at round close
def test_keepbest_replay_salting_keeps_duplication_rate(spark):
    out = bench.keepbest_replay_10x(spark)
    assert out["rows_10x"] == 10 * out["rows_1x"]
    # token-salted copies share no shingles, so the cluster count must be
    # ~10x (tiny tolerance: a rare cross-copy LSH band collision can merge
    # two clusters; anything below 9.5x means the salt leaked)
    assert out["cluster_growth"] == pytest.approx(10.0, abs=0.5)


@pytest.mark.slow  # r13: 43s — replay-harness invariant, re-proven at round close
def test_ann_replay_buckets_grow_tenfold(spark):
    from pyspark.sql import functions as F

    from sri_spark.sources.testdata import load_table

    # the replay copies embeddings under shifted vec_ids (jittered, so no
    # copy equals its source): disjoint ids make the corpus exactly 10x
    base = load_table(spark, SF, "embeddings")
    n = base.count()
    out = bench.ann_replay_10x(spark)
    assert out["rows_1x"] == n and out["rows_10x"] == 10 * n
    assert out["ivf_probe_time_growth"] > 0  # wall time is bench's job
    assert all(0.0 <= out[p]["ivf_recall"] <= 1.0 for p in ("one_x", "ten_x", "hundred_x"))
