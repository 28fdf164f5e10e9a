"""Training-data pipeline operators beyond dedup/sampling (mandate items —
no reference citations; the reference has none of these, SURVEY §0 scope
note): deterministic train/val/test splits, benchmark decontamination,
concat-and-chop sequence packing, and SemDeDup-style semantic clustering
over embedding near-duplicates.

Every oracle mirrors the Spark constants exactly (hash family, rates,
budget), so the driver's cross-engine hash is a real check of the operator
semantics, not a smoke test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.functions.hashing import md5_int, md5_int_sql
from sri_spark.plans.dedup_queries import _SHINGLE_CTES
from sri_spark.plans.registry import register
from sri_spark.plans.similarity_queries import NEAR_THRESHOLD, _ann_pairs_oracle
from sri_spark.sources.testdata import load_table
from sri_spark.text.analysis import tokens_col

SPLIT_SALT = "split:"
TRAIN_PCT, VAL_PCT = 80, 90  # <80 train, 80-89 val, 90-99 test

_SPLIT_KEY = "'" + SPLIT_SALT + "' || CAST(doc_id AS VARCHAR)"
_SPLIT_BUCKET_SQL = f"({md5_int_sql(_SPLIT_KEY)} % 100)"


@register(
    "corpus_train_val_split",
    f"""
    SELECT doc_id,
           CAST({_SPLIT_BUCKET_SQL} AS BIGINT) AS bucket,
           CASE WHEN {_SPLIT_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
                WHEN {_SPLIT_BUCKET_SQL} < {VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by salted key hash —
    rerun-stable and resumable like corpus_sample_stratified (a rand()-based
    split reassigns documents on every retry, silently leaking val into
    train). Pure projection: fuses into the scan, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_int(
        F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))
    ) % 100
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


BENCH_SALT = "bench:"
BENCH_PCT = 3  # ~3% of docs act as the held-out benchmark set

_BENCH_KEY = "'" + BENCH_SALT + "' || CAST(doc_id AS VARCHAR)"
_BENCH_BUCKET_SQL = f"({md5_int_sql(_BENCH_KEY)} % 100)"


@register(
    "corpus_decontaminate",
    f"""
    WITH {_SHINGLE_CTES},
    bench AS (
      SELECT doc_id FROM documents WHERE {_BENCH_BUCKET_SQL} < {BENCH_PCT}
    ),
    bench_sh AS (
      SELECT DISTINCT s.shingle FROM sh s JOIN bench b ON s.doc_id = b.doc_id
    ),
    hits AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench_sh bs ON s.shingle = bs.shingle
    )
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_id FROM bench)
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing any
    word-3-gram with the held-out benchmark set (here a deterministic ~3%
    hash slice standing in for a real eval suite). The contamination probe
    is a semi-join on the shingle key — cost scales with shingle overlap,
    never |train| x |bench|; the standard n-gram-overlap decontamination
    used for pretraining corpora."""
    from sri_spark.dedup.shingles import shingle_hashes_df

    docs = load_table(spark, sf_dir, "documents")
    bench_bucket = md5_int(
        F.concat(F.lit(BENCH_SALT), F.col("doc_id").cast("string"))
    ) % 100
    flagged = docs.select("doc_id", "text", (bench_bucket < BENCH_PCT).alias("is_bench"))
    sh = shingle_hashes_df(flagged, "text", "doc_id")
    bench_ids = flagged.filter("is_bench").select("doc_id")
    bench_sh = sh.join(bench_ids, "doc_id", "left_semi").select("shingle_h").distinct()
    hits = (
        sh.join(bench_sh, "shingle_h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        flagged.filter(~F.col("is_bench"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated")
        )
    )


PACK_BUDGET = 512  # context-window token budget

_TOKENS_SQL = (
    "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != ''))"
)


@register(
    "corpus_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER
               (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS "offset"
      FROM t
    )
    SELECT doc_id, n_tokens, "offset",
           CAST("offset" // {PACK_BUDGET} AS BIGINT) AS seq_id,
           (("offset" + greatest(n_tokens, 1) - 1) // {PACK_BUDGET})
             != ("offset" // {PACK_BUDGET}) AS straddles
    FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: place every document in the global
    token stream (offset = exclusive prefix sum of token counts in doc_id
    order) and in its context window (seq_id = offset div budget). The
    prefix sum is the scalable two-phase form (operators/packing.py) —
    range-partition + per-partition sums + broadcast offsets — NOT a
    single-partition global window; the oracle reconstructs the same values
    with a plain window cumsum, which is only viable at oracle scale."""
    from sri_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, token_col="n_tokens", order_col="doc_id", budget=PACK_BUDGET
    ).select("doc_id", "n_tokens", "offset", "seq_id", "straddles")


def _semantic_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_ann_pairs_oracle()}),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM pairs
      UNION
      SELECT vec_b, vec_a FROM pairs
    ),
    reach(s, t) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
    )
    SELECT s AS vec_id, min(t) AS cluster_id FROM reach GROUP BY s
    """


@register("dedup_semantic_clusters", _semantic_clusters_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic duplicate clusters: embedding near-dup pairs
    (random-hyperplane LSH buckets + exact cosine >= {NEAR_THRESHOLD}) closed
    under transitivity by the large-star/small-star components engine
    (dedup/components.py) — (vec_id, cluster_id = min member). Composes the
    similarity operator with the dedup clustering operator; curation keeps
    one representative per cluster. The pairs satisfy vec_a < vec_b, so the
    engine's self-loop filter drops none of them."""
    from sri_spark.dedup.components import connected_components
    from sri_spark.similarity.lsh import rp_lsh_near_pairs

    pairs = rp_lsh_near_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=NEAR_THRESHOLD
    )
    return connected_components(pairs, src="vec_a", dst="vec_b").select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )
