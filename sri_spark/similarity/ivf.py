"""IVF (inverted-file) approximate nearest neighbours — the one ANN index,
the sub-linear scale path over brute force (similarity.cosine).

Index: a coarse quantizer of `n_lists` centroids, trained on a bounded
sample — the ≤ 256 × n_lists rows with the lowest xxhash64(id, seed),
FAISS's default cap on training points per centroid — by one Arrow numpy
kernel (seeded k-means++ init, Euclidean Lloyd rounds). The sample is
chosen by hashing the id, so the centroids do not depend on how the input
is partitioned. Each vector's cell is a column expression over the
centroids (nearest by squared distance), so assigning cells runs no job.
Query: rank cells by centroid cosine inside the plan, probe the best
`n_probe` cells, exact-cosine re-rank only those vectors. Expected scan
fraction ≈ n_probe / n_lists.

Rows-only correctness (no DuckDB oracle): cell boundaries are
engine-specific; the pytest checks recall against the brute-force truth.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sri_spark.similarity.cosine import _as_double, _dot, _norm

# training points per centroid (FAISS's default max_points_per_centroid)
_SAMPLE_PER_LIST = 256
_MAX_LLOYD_ROUNDS = 20


def _centroid_array(vectors: list[list[float]]) -> Column:
    """The vectors as one array<array<double>> constant (empty when there
    are none), written as one SQL expression: a column built from one
    `F.lit` per element costs a gateway call each, about 0.4 CPU-s for
    8 × 64 doubles, where parsing the text costs about 0.01 s."""

    def lit(x: float) -> str:
        # repr round-trips a double exactly; SQL has no nan/inf literal
        return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"

    rows = ", ".join("array(" + ", ".join(lit(float(x)) for x in v) + ")" for v in vectors)
    return F.expr(f"CAST(array({rows}) AS array<array<double>>)")


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def build_ivf_index(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Returns (centroids, indexed): `centroids` is [(cell, vector)], at
    most `n_lists` of them (fewer when the sample has fewer distinct
    vectors; none for an empty input), and `indexed` is df + `__cell`,
    the id of the nearest centroid (NULL for a NULL vector).

    The build is one job: the top-(256 × n_lists) by (xxhash64(id, seed),
    id) is a per-partition heap plus a one-partition merge, the fit kernel
    runs once over that partition, and its centroids come back in one
    collect. `indexed` is lazy."""
    vec = _as_double(F.col(vec_col))
    sample = (
        df.filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(_SAMPLE_PER_LIST * n_lists)
        .select(vec.alias("v"))
        .coalesce(1)
    )

    def fit_kernel(batches):
        """k-means over the whole sample, which arrives as the one
        partition's batches in (hash, id) order. Defined inside the
        builder, so it ships to the Python workers by value and needs no
        package import there.

        Hot-path operators stay JVM-side everywhere else (session.py);
        this kernel and the day-pair kernel in stats_regression_queries.py
        are the exceptions, because their input does not grow with the
        data: here it is at most 256 × n_lists rows. k_eff = min(n_lists,
        distinct sample rows), so a constant or tiny corpus gets as many
        cells as it has distinct vectors. Init is seeded k-means++ (each
        next centre drawn with probability ∝ squared distance to the
        nearest chosen one, so a chosen vector is never drawn twice);
        then Lloyd rounds until the assignments stop changing or
        `_MAX_LLOYD_ROUNDS` pass. A cell left empty keeps its centroid."""
        import numpy as np
        import pyarrow as pa

        cols = [b.column("v") for b in batches if b.num_rows]
        out_type = pa.list_(pa.float64())
        if not cols:
            centers = np.empty((0, 0))
        else:
            vs = pa.concat_arrays(cols)
            lens = vs.value_lengths().to_numpy(zero_copy_only=False)
            if lens.min() != lens.max():
                raise ValueError(f"IVF: vectors of {lens.min()} to {lens.max()} dims")
            x = np.asarray(vs.flatten().to_numpy(zero_copy_only=False), np.float64)
            x = x.reshape(len(vs), -1)
            k = min(n_lists, len(np.unique(x, axis=0)))
            rng = np.random.default_rng(seed)
            centers = [x[rng.integers(len(x))]]
            d2 = ((x - centers[0]) ** 2).sum(1)
            while len(centers) < k:
                cum = np.cumsum(d2)
                i = min(int(np.searchsorted(cum, rng.random() * cum[-1], "right")), len(x) - 1)
                centers.append(x[i])
                d2 = np.minimum(d2, ((x - x[i]) ** 2).sum(1))
            centers = np.array(centers)
            assign = None
            for _ in range(_MAX_LLOYD_ROUNDS):
                # ‖x − c‖² − ‖x‖²: the row term does not change the argmin
                near = ((centers * centers).sum(1) - 2.0 * x @ centers.T).argmin(1)
                if assign is not None and np.array_equal(near, assign):
                    break
                assign = near
                counts = np.bincount(assign, minlength=k)
                sums = np.zeros_like(centers)
                np.add.at(sums, assign, x)
                full = counts > 0
                centers[full] = sums[full] / counts[full, None]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(range(len(centers)), pa.int32()),
                pa.array([list(c) for c in centers], out_type),
            ],
            names=["cell", "centroid"],
        )

    rows = sample.mapInArrow(fit_kernel, "cell int, centroid array<double>").collect()
    centroids = sorted((r["cell"], [float(x) for x in r["centroid"]]) for r in rows)
    cells = F.array_min(
        F.transform(
            _centroid_array([c for _, c in centroids]),
            lambda c, i: F.struct(_sq_dist(vec, c).alias("d"), i.alias("cell")),
        )
    )
    return centroids, df.withColumn("__cell", cells["cell"])


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

    Builds the index inline (the sample-trained quantizer: one job) —
    convenient for one-off queries, but a real serving path builds ONCE
    and probes many times: use `build_ivf_index` + `ivf_probe` (the
    bench's ann_recall block measures that amortized shape)."""
    centroids, indexed = build_ivf_index(
        df, vec_col=vec_col, id_col=id_col, n_lists=n_lists, seed=seed
    )
    return ivf_probe(
        indexed,
        centroids,
        query_id,
        vec_col=vec_col,
        id_col=id_col,
        k=k,
        n_probe=n_probe,
    )


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
    """Probe a prebuilt IVF index (`build_ivf_index` output) for the top-k
    cosine neighbours of `query_id`. One lazy plan, no driver action: the
    query row carries its `n_probe` best cells by centroid cosine (a
    higher-order function over the centroid literal), is broadcast to the
    candidates on array_contains(cells, __cell), and only those cells'
    vectors are exactly re-ranked. The index build — the quantizer fit —
    is amortized across every probe."""
    unit = []
    for _, c in centroids:
        n = sum(x * x for x in c) ** 0.5
        unit.append([x / n for x in c] if n > 0 else c)
    q = (
        indexed.filter(F.col(id_col) == query_id)
        .select(_as_double(F.col(vec_col)).alias("__q"))
        .select(
            "__q",
            # cosine order = order of ĉ·q for a fixed q: no division in
            # the plan; ties go to the lower cell id
            F.slice(
                F.transform(
                    F.array_sort(
                        F.transform(
                            _centroid_array(unit),
                            lambda c, i: F.struct(
                                (-_dot(c, F.col("__q"))).alias("s"),
                                i.alias("cell"),
                            ),
                        )
                    ),
                    lambda s: s["cell"],
                ),
                1,
                n_probe,
            ).alias("__probe"),
        )
    )
    cand = indexed.filter(F.col(id_col) != query_id)
    return (
        cand.join(F.broadcast(q), F.array_contains(F.col("__probe"), F.col("__cell")))
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
