"""SimHash (32-bit) document fingerprints (mandate item).

Each token contributes its count-weighted ±1 vote to 32 bit positions of its
md5-derived 32-bit hash; the simhash sets bit i iff the weighted vote is
positive. Near-duplicates land at small Hamming distance; `simhash_near_pairs`
blocks them on identical byte-bands of the simhash.

Expression shape: one explode to (doc, token, count), then a single
hash-aggregate with 32 conditional sums — all codegen, no UDFs."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sri_spark.functions.hashing import md5_int
from sri_spark.text.analysis import tokens_col

SIMHASH_BITS = 32


def _token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = df.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok"))
    return toks.groupBy(id_col, "tok").agg(F.count("*").alias("cnt"))


def simhash_df(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) with a 32-bit simhash as long."""
    tc = _token_counts(df, text_col, id_col).withColumn(
        "h", md5_int(F.col("tok"), 8)
    )
    weight_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"w{i}")
        for i in range(SIMHASH_BITS)
    ]
    weights = tc.groupBy(id_col).agg(*weight_aggs)
    sim: Column = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sim = sim + F.when(F.col(f"w{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return weights.select(F.col(id_col), sim.alias("simhash"))


HAMMING_BANDS = 4  # 4 bands x 8 bits over the 32-bit simhash


def simhash_near_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs with simhash Hamming distance <=
    max_hamming — the near-duplicate completion of identical-hash blocking.

    Scale shape: the 32-bit simhash splits into 4 byte-bands; candidate
    pairs share at least one identical band (a (band, bucket) equi-join —
    never an all-pairs scan), then the exact Hamming distance filters. For
    max_hamming < HAMMING_BANDS this blocking is EXACT by pigeonhole:
    k < 4 differing bits can touch at most k bands, leaving one band
    identical — so recall is 1.0, not approximate, while the join cost
    stays bounded by per-bucket collision counts (the same skew profile as
    MinHash banding; identical docs should be exact-deduped first)."""
    if not 0 <= max_hamming < HAMMING_BANDS * 8:
        raise ValueError(f"max_hamming out of range: {max_hamming}")
    if max_hamming >= HAMMING_BANDS:
        raise ValueError(
            f"max_hamming {max_hamming} >= {HAMMING_BANDS} bands breaks the "
            "exact-recall guarantee; raise HAMMING_BANDS or lower the radius"
        )
    from sri_spark.operators.caching import scoped_persist

    sim = scoped_persist(simhash_df(df, text_col=text_col, id_col=id_col))
    stack_args: list[Column] = []
    for b in range(HAMMING_BANDS):
        stack_args.append(F.lit(b))
        stack_args.append(
            F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
        )
    bands = sim.select(
        F.col(id_col),
        F.stack(F.lit(HAMMING_BANDS), *stack_args).alias("band", "bucket"),
    )
    left = bands.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    right = bands.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sim.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sim.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )

