"""Multimodal catalog query: binary asset-column inventory with an oracle.

The fixture tables carry no binary columns, so the `multimodal_*` queries
derive them in SQL: this one materializes a deterministic binary asset
per document (a tagged UTF-8 payload — the pass cares about bytes, not
pixels), and runs the inventory pass every asset pipeline starts with —
sizes, content-hash identity, per-source rollup — entirely on the
BinaryType column.

Cross-engine note: Spark's md5() accepts BINARY while DuckDB's accepts
only VARCHAR; both hash the same UTF-8 bytes here, so content ids agree
bit-for-bit. Sizes compare via Spark length(binary) == DuckDB
octet_length(encode(...)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table

_TAG = "IMG0"
_LARGE_BYTES = 300


@register(
    "multimodal_asset_inventory",
    f"""
    WITH assets AS (
      SELECT source,
             octet_length(encode('{_TAG}' || text)) AS size_bytes,
             md5('{_TAG}' || text) AS content_id
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(count(DISTINCT content_id) AS BIGINT) AS n_unique_assets,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(max(size_bytes) AS BIGINT) AS max_bytes,
           CAST(sum(CASE WHEN size_bytes > {_LARGE_BYTES} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_large
    FROM assets GROUP BY source
    """,
)
def multimodal_asset_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset inventory per source: asset count, content-hash-distinct
    count (exact-dup assets collapse), byte totals, and an oversize flag —
    computed ON a BinaryType column (encode -> length/md5 stay JVM-side;
    the bytes never reach Python). At 100 TB this is the manifest scan that
    sizes a decode fleet before any Pandas-UDF decoding runs; dedup by
    content id is the multimodal twin of dedup_exact."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.concat(F.lit(_TAG), F.col("text")), "UTF-8")
    assets = docs.select(
        "source",
        F.length(blob).alias("size_bytes"),
        F.md5(blob).alias("content_id"),
    )
    return assets.groupBy("source").agg(
        F.count("*").alias("n_assets"),
        F.countDistinct("content_id").alias("n_unique_assets"),
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        F.max("size_bytes").cast("long").alias("max_bytes"),
        F.sum(F.when(F.col("size_bytes") > _LARGE_BYTES, 1).otherwise(0))
        .cast("long")
        .alias("n_large"),
    )


@register(
    "multimodal_dedup_exact_assets",
    f"""
    WITH assets AS (
      SELECT doc_id, source,
             octet_length(encode('{_TAG}' || text)) AS size_bytes,
             md5('{_TAG}' || text) AS content_id
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY content_id
                                   ORDER BY doc_id) AS rk
      FROM assets
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rk > 1 THEN size_bytes ELSE 0 END) AS BIGINT)
             AS bytes_reclaimed,
           round(sum(CASE WHEN rk > 1 THEN size_bytes ELSE 0 END) * 1.0
                 / sum(size_bytes), 6) AS reclaim_rate
    FROM ranked GROUP BY source
    """,
)
def multimodal_dedup_exact_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact asset dedup by content hash with storage-ROI accounting: the
    first doc_id holding each content id keeps the asset, every later
    copy's bytes are reclaimed. This is dedup_exact's multimodal twin,
    and the number a 100 TB asset lake actually budgets by — bytes, not
    rows. One window over content_id (hash-partitioned, per-group sort of
    tiny groups) + one source rollup; the binary column itself never
    moves, only its 16-byte hash does."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.concat(F.lit(_TAG), F.col("text")), "UTF-8")
    assets = docs.select(
        "doc_id",
        "source",
        F.length(blob).alias("size_bytes"),
        F.md5(blob).alias("content_id"),
    )
    rk = F.row_number().over(
        Window.partitionBy("content_id").orderBy("doc_id")
    )
    ranked = assets.withColumn("rk", rk)
    reclaimed = F.sum(
        F.when(F.col("rk") > 1, F.col("size_bytes")).otherwise(F.lit(0))
    )
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        reclaimed.cast("long").alias("bytes_reclaimed"),
        F.round(reclaimed * 1.0 / F.sum("size_bytes"), 6).alias(
            "reclaim_rate"
        ),
    )


_SHARD_BYTES = 4000


@register(
    "multimodal_shard_manifest",
    f"""
    WITH assets AS (
      SELECT doc_id, source,
             octet_length(encode('{_TAG}' || text)) AS size_bytes
      FROM documents
    ),
    placed AS (
      SELECT source, doc_id, size_bytes,
             CAST(floor((sum(size_bytes) OVER
                    (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - size_bytes) / {_SHARD_BYTES}) AS BIGINT) AS shard
      FROM assets
    )
    SELECT source, shard,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(size_bytes) AS BIGINT) AS shard_bytes,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM placed GROUP BY source, shard
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget shard manifest for a decode fleet: assets stream in
    deterministic doc_id order per source and cut a new shard every
    _SHARD_BYTES bytes (exclusive running total, so an asset lands in the
    shard its START offset falls in — deterministic on both engines).
    This is corpus_pack_sequences' multimodal twin: work assignment by
    BYTES, the unit decode workers are actually bounded by. One per-source
    window cumsum + one (source, shard) rollup."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.concat(F.lit(_TAG), F.col("text")), "UTF-8")
    assets = docs.select(
        "doc_id", "source", F.length(blob).alias("size_bytes")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    shard = F.floor(
        (F.sum("size_bytes").over(w) - F.col("size_bytes")) / _SHARD_BYTES
    ).cast("long")
    placed = assets.withColumn("shard", shard)
    return placed.groupBy("source", "shard").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("size_bytes").cast("long").alias("shard_bytes"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )
