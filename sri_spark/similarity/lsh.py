"""Random-hyperplane (sign) LSH near-pair join: every pair of embeddings
whose cosine clears a threshold, without the all-pairs comparison.

H fixed pseudo-random hyperplanes (deterministic LCG-derived literals, no RNG
at import) map each embedding to an H-bit bucket; candidate pairs share a
bucket, then exact cosine filters them. Bucket computation is narrow; the
candidate self-join shuffles on the (tiny) bucket key, so the quadratic
comparison shrinks to within-bucket pairs. Top-k neighbour search is not
done here: brute force is `similarity.cosine`, the ANN index is
`similarity.ivf`.

Sign decisions are taken on the 6-decimal-rounded projection so the DuckDB
oracle (same literals, same rounding) buckets identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sri_spark.similarity.cosine import _as_double, _dot, _norm

N_PLANES = 8
DIM = 64


def _lcg_unit(i: int) -> float:
    """Deterministic pseudo-random value in [-0.5, 0.5): one LCG step."""
    x = (1103515245 * i + 12345) % 2147483648
    return x / 2147483648.0 - 0.5


# N_PLANES x DIM fixed projection matrix (literals — reproducible everywhere)
RP_PLANES: list[list[float]] = [
    [round(_lcg_unit(j * DIM + d), 6) for d in range(DIM)] for j in range(N_PLANES)
]


def _plane_col(j: int) -> Column:
    return F.array(*[F.lit(v) for v in RP_PLANES[j]])


def rp_bucket_col(vec: Column) -> Column:
    """H-bit sign bucket of an embedding column."""
    e = _as_double(vec)
    bucket = F.lit(0).cast("long")
    for j in range(N_PLANES):
        proj = F.round(_dot(e, _plane_col(j)), 6)
        bucket = bucket + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def rp_lsh_near_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """(vec_a, vec_b, cosine) for same-bucket pairs with cosine >= threshold;
    vec_a < vec_b. The all-pairs comparison collapses to within-bucket.

    Shuffle hygiene: the candidate self-join moves only (id, bucket) — two
    8-byte columns — never the embedding arrays; vectors are fetched by id
    AFTER candidate generation for the exact re-rank (AQE picks the join
    strategy). At a billion vectors the difference is shuffling ~16 B/row
    versus ~512 B/row through the quadratic-side join. The embedding+bucket
    projection is persisted: it feeds bucketing once and re-rank twice."""
    from sri_spark.operators.caching import scoped_persist

    emb = scoped_persist(
        df.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias("__e"),
            rp_bucket_col(F.col(vec_col)).alias("__bucket"),
            # norm once per VECTOR here; the re-rank runs once per candidate
            # PAIR (pairs >> vectors at scale), where it must not recompute
            _norm(_as_double(F.col(vec_col))).alias("__n"),
        )
    )
    a = emb.select(F.col(id_col).alias("vec_a"), "__bucket")
    b = emb.select(F.col(id_col).alias("vec_b"), "__bucket")
    cand = (
        a.join(b, "__bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    ea = emb.select(
        F.col(id_col).alias("vec_a"),
        F.col("__e").alias("__ea"),
        F.col("__n").alias("__na"),
    )
    eb = emb.select(
        F.col(id_col).alias("vec_b"),
        F.col("__e").alias("__eb"),
        F.col("__n").alias("__nb"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
