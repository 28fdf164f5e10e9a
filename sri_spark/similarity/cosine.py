"""Embedding cosine similarity: brute-force top-k baseline (mandate item).

All vector math is `zip_with` + `aggregate` over array<double> — JVM-side,
no UDFs, no data leaves the executors. Brute force scans every row per query
(the correct baseline and fine for one-off queries, and the truth ANN recall
is measured against); the IVF index (`similarity.ivf`) is the sub-linear
scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    # one generated-code cast, not a per-element interpreted lambda
    return arr.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    df: DataFrame,
    query_id: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k most-cosine-similar rows to the row with id == query_id
    (excluded from results). The query vector is a 1-row broadcast; ranking
    is TakeOrderedAndProject (per-partition heaps, no global sort)."""
    emb = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__e"))
    q = emb.filter(F.col(id_col) == query_id).select(F.col("__e").alias("__q"))
    return (
        emb.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q))
        .select(
            id_col,
            F.round(
                _dot(F.col("__e"), F.col("__q"))
                / (_norm(F.col("__e")) * _norm(F.col("__q"))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )
