"""Planted-neighbor ANN recall contract (round-4 verdict item 8).

The organic embeddings fixture has near-random neighbors (true top-10
cosines ~0.3-0.4), so its recall curve cannot catch a real ANN
regression — a broken index and a working one score similarly there.
This fixture plants the truth: 20 seeded unit-norm cluster centers, 50
points each, so every query's true top-10 are its cluster siblings by
construction. The IVF index must recover >= 90% of them at its
documented operating point (n_probe=4 of 16 cells) at two noise levels.
bench.py records the same numbers per round in the ann_recall.planted
block.
"""

from __future__ import annotations

import pytest

from bench import PLANTED_RECALL_MIN, ann_planted


@pytest.fixture(scope="module")
def planted(spark):
    return ann_planted(spark)


def test_ivf_probe_recall_on_planted_clusters(planted):
    assert planted["ivf_probe4"]["recall"] >= PLANTED_RECALL_MIN, planted


def test_ivf_probe_recall_holds_at_high_noise(planted):
    """Round-12 (r11 verdict item 7): the second planted geometry
    (sigma=0.08, noise comparable to a random hyperplane's margins) is
    where fixed sign-hyperplane probing fell to 0.38-0.62 recall. IVF's
    cells are fit to the data, so the clusters persist and the index
    must still hold the full contract here."""
    hn = planted["high_noise_sigma008"]
    assert hn["binding"] is True, hn
    assert hn["ivf_probe4"]["recall"] >= PLANTED_RECALL_MIN, hn


def test_planted_is_the_binding_gate_and_organic_is_advisory():
    """Round-5 verdict item 7: the bench artifact schema must mark the
    organic recall curve advisory and the planted block binding, so a
    regression in planted recall fails CI (the two tests above) while
    organic drift — which tracks the fixture, not the index — never
    does. Checked structurally here so a bench refactor cannot silently
    flip which block gates."""
    import inspect

    import bench

    planted_src = inspect.getsource(bench.ann_planted)
    organic_src = inspect.getsource(bench.ann_recall)
    assert '"recall_min_contract": PLANTED_RECALL_MIN' in planted_src
    assert '"binding": True' in planted_src
    assert '"advisory": True' in organic_src
