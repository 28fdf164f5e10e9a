"""IVF ANN: output validity, recall vs brute force, build/probe split
equivalence, the sample-trained quantizer's degenerate shapes, and the
build's and probe's job budgets."""

from __future__ import annotations

from sri_spark.operators.observability import stage_metrics
from sri_spark.similarity.cosine import cosine_topk
from sri_spark.similarity.ivf import build_ivf_index, ivf_probe, ivf_topk
from sri_spark.sources.testdata import load_table
from tests.advisor import record_driver_actions


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
    centroids, indexed = build_ivf_index(emb, n_lists=8)
    split = ivf_probe(indexed, centroids, 3, k=10, n_probe=4).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in split]


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_empty_frame_gives_empty_index_and_probe(spark):
    centroids, indexed = build_ivf_index(_vectors(spark, []), n_lists=8)
    assert centroids == []
    assert indexed.collect() == []
    assert ivf_probe(indexed, centroids, 0, k=10).collect() == []


def test_one_repeated_vector_is_one_cell(spark):
    emb = _vectors(spark, [(i, [0.6, 0.8, 0.0]) for i in range(50)])
    centroids, indexed = build_ivf_index(emb, n_lists=8)
    assert [c for c, _ in centroids] == [0]
    assert {r["__cell"] for r in indexed.collect()} == {0}
    got = ivf_probe(indexed, centroids, 0, k=10, n_probe=4).collect()
    assert len(got) == 10 and all(r["cosine"] == 1.0 for r in got)


def test_cells_are_capped_by_distinct_vectors(spark):
    vecs = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    emb = _vectors(spark, [(i, vecs[i % 3]) for i in range(30)])
    centroids, indexed = build_ivf_index(emb, n_lists=8)
    assert len(centroids) == 3
    # each distinct vector is its own cell
    cells = {tuple(r["embedding"]): r["__cell"] for r in indexed.collect()}
    assert sorted(cells.values()) == [0, 1, 2]


def test_centroids_do_not_depend_on_partitioning(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    one, _ = build_ivf_index(emb.coalesce(1), n_lists=8)
    four, _ = build_ivf_index(emb.repartition(4), n_lists=8)
    assert one == four


def test_build_is_one_job_and_probe_is_one_plan(spark, sf_dir):
    """The build runs one job (sample, fit, centroid collect); ivf_probe
    issues no driver action while it builds its plan, so the probe's
    only action is the caller's own collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    with stage_metrics(spark, "ivf_build") as sm:
        centroids, indexed = build_ivf_index(emb, n_lists=8)
    assert sm["jobs"] == 1, sm
    with record_driver_actions() as calls:
        probe = ivf_probe(indexed, centroids, 0, k=10, n_probe=4)
    assert calls == []
    assert len(probe.collect()) == 10
