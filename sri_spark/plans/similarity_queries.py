"""Similarity-search catalog queries over `embeddings`, with DuckDB oracles
sharing the exact projection literals and rounding rules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.plans.registry import register
from sri_spark.similarity.cosine import cosine_topk
from sri_spark.similarity.lsh import N_PLANES, RP_PLANES, rp_lsh_near_pairs
from sri_spark.sources.testdata import load_table

# calibrated to the synthetic fixture's cosine distribution (random 64-dim
# vectors top out near 0.5 pairwise) so the query exercises non-empty output;
# real near-dup pipelines would use 0.9+
NEAR_THRESHOLD = 0.3

_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
)
_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round({_DOT.format(a=a, b=b)} / "
        f"({_NORM.format(a=a)} * {_NORM.format(a=b)}), 6)"
    )


@register(
    "similarity_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, {_cos_sql('e.embedding', 'q.qe')} AS cosine
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbours of vec_id=0 (broadcast query
    vector, TakeOrderedAndProject ranking)."""
    return cosine_topk(load_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


def _bucket_sql(vec: str) -> str:
    terms = []
    for j in range(N_PLANES):
        plane = "[" + ", ".join(repr(v) for v in RP_PLANES[j]) + "]::DOUBLE[]"
        proj = f"round({_DOT.format(a=vec, b=plane)}, 6)"
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << j}::BIGINT ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _ann_pairs_oracle() -> str:
    return f"""
    WITH be AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cosine
    FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEAR_THRESHOLD}
    """


@register("similarity_lsh_near_pairs", _ann_pairs_oracle())
def similarity_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH buckets +
    exact cosine >= NEAR_THRESHOLD — the embedding-cosine near-dup
    operator."""
    return rp_lsh_near_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=NEAR_THRESHOLD
    )


@register(
    "similarity_ivf_topk",
    """
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(10 AS BIGINT) AS n_resultados,
           TRUE AS recall_ok
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: 8 cells from a quantizer trained on a hashed sample,
    probe the best 4 by centroid cosine, exact re-rank inside them
    (similarity.ivf.ivf_topk returns the actual neighbour rows; per-row
    values aren't SQL-reproducible because cell boundaries are
    engine-specific). The build is one job; the probe is one plan.

    Cross-engine contract: run IVF AND the brute-force truth, emit
    (k, n_resultados, recall_ok) where recall_ok asserts recall@10 >= 0.5 —
    the documented bound for probing half the cells (pytest checks the same
    bound; tests/test_similarity_ivf.py)."""
    from sri_spark.similarity.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = ivf_topk(emb, query_id=0, k=10, n_lists=8, n_probe=4).select("vec_id")
    brute = cosine_topk(emb, query_id=0, k=10).select(
        "vec_id", F.lit(1).alias("__hit")
    )
    return (
        ivf.join(brute, "vec_id", "left")
        .agg(
            F.count("*").alias("n_resultados"),
            (F.sum(F.coalesce(F.col("__hit"), F.lit(0))) >= F.lit(5)).alias(
                "recall_ok"
            ),
        )
        .withColumn("k", F.lit(10).cast("long"))
        .select("k", "n_resultados", "recall_ok")
    )

