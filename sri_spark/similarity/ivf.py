"""IVF (inverted-file) approximate nearest neighbours — the one ANN index,
the sub-linear scale path over brute force (similarity.cosine).

Index: seeded KMeans (spark.ml, k-means|| init) partitions vectors into
`n_lists` cells; each vector stores its cell id. Query: rank cells by
centroid cosine, probe the best `n_probe` cells, exact-cosine re-rank only
those vectors. Expected scan fraction ≈ n_probe / n_lists.

Rows-only correctness (no DuckDB oracle): KMeans cell boundaries are
engine-specific; the pytest checks recall against the brute-force truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sri_spark.similarity.cosine import _as_double, _dot, _norm


class _SingleCellModel:
    """Degenerate one-cell 'index' for corpora with a single distinct
    vector — duck-types the only KMeansModel surface the IVF path uses."""

    def __init__(self, centers: list[list[float]]):
        self._centers = centers

    def clusterCenters(self) -> list[list[float]]:
        return self._centers


def build_ivf_index(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
):
    """Returns (model, indexed_df) where indexed_df = df + `__cell`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__vec", array_to_vector(_as_double(F.col(vec_col))))
    # spark.ml KMeans aborts (ArrayIndexOutOfBounds in KMeansAggregator)
    # when k exceeds the number of DISTINCT points — a guaranteed shape on
    # degenerate slices (one vector replicated). Clamp k via a BOUNDED
    # probe: distinct over the 4*k LOWEST-id rows (TakeOrderedAndProject,
    # driver-cheap, never a full-data pass) — ordered, because a bare
    # limit() samples partition-order-dependent rows and would make k_eff
    # (and therefore the built index) nondeterministic across runs. If
    # the probe under-counts a genuinely diverse corpus the index
    # degrades to fewer cells — still correct, just a larger scan
    # fraction — which is the right failure direction.
    probe = (
        feat.select(id_col, "__vec")
        .orderBy(id_col)
        .limit(4 * n_lists)
        .select("__vec")
        .distinct()
        .count()
    )
    k_eff = max(1, min(n_lists, probe))
    if k_eff < 2:
        # spark.ml KMeans rejects k=1 outright; a corpus with a single
        # distinct vector (or empty) IS one cell — skip the fit and hand
        # back a shim exposing the only surface callers use
        center = [
            [float(x) for x in r["__c"]]
            for r in feat.select(
                _as_double(F.col(vec_col)).alias("__c")
            ).limit(1).collect()
        ]
        return _SingleCellModel(center), feat.withColumn(
            "__cell", F.lit(0)
        ).drop("__vec")
    model = KMeans(
        k=k_eff, seed=seed, featuresCol="__vec", predictionCol="__cell"
    ).fit(feat)
    indexed = model.transform(feat).drop("__vec")
    return model, indexed


def ivf_topk(
    df: DataFrame,
    query_id: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Top-k cosine neighbours of `query_id`, probing `n_probe` IVF cells.

    Builds the index inline — convenient for one-off queries, but a real
    serving path builds ONCE and probes many times: use `build_ivf_index`
    + `ivf_probe` (the bench's ann_recall block measures that amortized
    shape)."""
    model, indexed = build_ivf_index(
        df, vec_col=vec_col, id_col=id_col, n_lists=n_lists, seed=seed
    )
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return ivf_probe(
        indexed,
        centroids,
        query_id,
        vec_col=vec_col,
        id_col=id_col,
        k=k,
        n_probe=n_probe,
    )


def _rank_probe_cells(
    indexed: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_id: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 4,
) -> list[int]:
    """The `n_probe` cell ids whose centroids are closest (cosine) to the
    query vector. Driver-side by design: n_lists rows — an index-metadata
    decision, not a data operation."""
    q_vec = indexed.filter(F.col(id_col) == query_id).select(
        _as_double(F.col(vec_col)).alias("__q")
    )
    spark = indexed.sparkSession
    cent_df = spark.createDataFrame(centroids, "cell int, centroid array<double>")
    ranked = (
        cent_df.join(F.broadcast(q_vec))
        .select(
            "cell",
            (
                _dot(F.col("centroid"), F.col("__q"))
                / (_norm(F.col("centroid")) * _norm(F.col("__q")))
            ).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("cell"))
        .limit(n_probe)
        .collect()
    )
    return [r["cell"] for r in ranked]


def ivf_probe(
    indexed: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_id: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a prebuilt IVF index (`build_ivf_index` output + its centroid
    list) for the top-k cosine neighbours of `query_id`. The index build —
    the expensive KMeans fit — is amortized across every probe, which is
    the actual ANN serving cost model; only cell ranking (n_lists rows)
    and the probed cells' vectors are touched per query."""
    q_vec = indexed.filter(F.col(id_col) == query_id).select(
        _as_double(F.col(vec_col)).alias("__q")
    )
    probe_cells = _rank_probe_cells(
        indexed,
        centroids,
        query_id,
        vec_col=vec_col,
        id_col=id_col,
        n_probe=n_probe,
    )

    cand = indexed.filter(F.col("__cell").isin(probe_cells)).filter(
        F.col(id_col) != query_id
    )
    return (
        cand.join(F.broadcast(q_vec))
        .select(
            id_col,
            F.round(
                _dot(_as_double(F.col(vec_col)), F.col("__q"))
                / (_norm(_as_double(F.col(vec_col))) * _norm(F.col("__q"))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def tune_n_probe(
    indexed: DataFrame,
    centroids: list[tuple[int, list[float]]],
    tuning_query_ids: list[int],
    truth: dict[int, set],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    recall_min: float = 0.9,
    candidates: tuple[int, ...] = (2, 4, 8, 12, 16),
) -> tuple[int, float]:
    """Smallest `n_probe` whose recall@k on the TUNING panel reaches
    `recall_min`, with that recall — the build-split half of the organic
    ANN contract (round-12 verdict item 2).

    The organic corpus has near-random neighbors (true top-10 cosines
    ~0.3-0.4), so no fixed n_probe is defensible a priori: the honest
    serving contract measures, on held-out tuning queries at index-build
    time, how many cells a query must probe for the target recall, and
    BINDS the evaluation-panel recall at that operating point. Falls
    back to the largest candidate (full scan when it covers n_lists —
    recall 1.0 by construction) if no smaller budget reaches the target,
    so the tuned point always exists; a gate that also bounds the tuned
    n_probe (scan fraction) is what makes degradation loud.

    `truth` maps query id -> set of true top-k neighbor ids (from the
    brute-force cosine path on the same corpus)."""
    last = (candidates[-1], 0.0)
    denom = k * len(tuning_query_ids)
    for n_probe in candidates:
        hits = 0
        for qid in tuning_query_ids:
            got = {
                r[id_col]
                for r in ivf_probe(
                    indexed,
                    centroids,
                    qid,
                    vec_col=vec_col,
                    id_col=id_col,
                    k=k,
                    n_probe=n_probe,
                ).collect()
            }
            hits += len(got & truth[qid])
        recall = hits / denom
        last = (n_probe, recall)
        if recall >= recall_min:
            return n_probe, round(recall, 4)
    return last[0], round(last[1], 4)
