"""PCA operator contracts: the relational power iteration replays the
exact fixed recurrence (checked against a numpy replication, not against
"the true eigenvector"), and that recurrence converges to the exact top
eigenvector."""

from __future__ import annotations

import numpy as np
import pytest

from sri_spark.similarity.pca import (
    POWER_ITERS,
    covariance_long,
    top_component_relational,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _vectors_by_label(emb):
    """Vectors per label, keys stringified."""
    rows = emb.select("label", "embedding").collect()
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(str(r["label"]), []).append(
            [float(x) for x in r["embedding"]]
        )
    return {k: np.array(v) for k, v in out.items()}


def test_relational_power_iteration_matches_numpy_replication(spark, emb):
    got = {
        (str(r["label"]), r["i"]): r["loading"]
        for r in top_component_relational(
            covariance_long(emb), dims=64
        ).collect()
    }
    for label, mat in _vectors_by_label(emb).items():
        centered = mat - mat.mean(axis=0, keepdims=True)
        cov = (centered.T @ centered) / mat.shape[0]
        v = np.full(64, 1.0 / np.sqrt(64))
        for _ in range(POWER_ITERS):
            v = cov @ v
            v = v / np.linalg.norm(v)
        mine = np.array([got[(label, i)] for i in range(64)])
        assert np.allclose(mine, v, atol=1e-9), label


def test_power_recurrence_converges_to_eigh(spark, emb):
    """The catalog's recurrence converges to the exact top eigenvector:
    replicated in numpy (test 1 proved the Spark plan equals
    this replication bit-for-bit, so no cluster run is needed) and pushed
    far past the catalog's 4 feature-grade rounds. The synthetic
    fixture's eigen gap is small — hence hundreds of rounds here, and why
    the catalog output is a deterministic 4-round feature rather than
    'the' eigenvector."""
    for label, mat in _vectors_by_label(emb).items():
        centered = mat - mat.mean(axis=0, keepdims=True)
        cov = (centered.T @ centered) / mat.shape[0]
        vals, vecs = np.linalg.eigh(cov)
        top = vecs[:, -1]
        v = np.full(64, 1.0 / np.sqrt(64))
        for _ in range(500):
            v = cov @ v
            v = v / np.linalg.norm(v)
        assert abs(float(v @ top)) > 0.999, label
