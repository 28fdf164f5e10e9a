"""IVF ANN: output validity, recall vs brute force, build/probe split
equivalence."""

from __future__ import annotations

from sri_spark.similarity.cosine import cosine_topk
from sri_spark.similarity.ivf import build_ivf_index, ivf_probe, ivf_topk
from sri_spark.sources.testdata import load_table


def test_ivf_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    truth = [r["vec_id"] for r in cosine_topk(emb, query_id=0, k=10).collect()]
    approx = ivf_topk(emb, query_id=0, k=10, n_lists=8, n_probe=4).collect()
    ids = [r["vec_id"] for r in approx]
    assert len(ids) == 10
    assert len(set(ids)) == 10
    # probing half the cells should recover most of the true top-10
    recall = len(set(ids) & set(truth)) / 10
    assert recall >= 0.5, f"recall {recall} too low: {ids} vs {truth}"
    # scores must be genuine cosines (bounded, sorted desc)
    scores = [r["cosine"] for r in approx]
    assert all(-1.0 <= s <= 1.0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_ivf_probe_matches_inline_build(spark, sf_dir):
    """ivf_topk (build-per-query) and build_ivf_index + ivf_probe (the
    amortized serving shape) must return identical results for the same
    seed/params."""
    emb = load_table(spark, sf_dir, "embeddings")
    inline = ivf_topk(emb, query_id=3, k=10, n_lists=8, n_probe=4).collect()
    model, indexed = build_ivf_index(emb, n_lists=8)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    split = ivf_probe(indexed, centroids, 3, k=10, n_probe=4).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in split]

