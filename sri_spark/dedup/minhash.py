"""MinHash + LSH banding near-duplicate detection (mandate item).

Pipeline: shingle → md5-based shingle hash (cross-engine deterministic,
functions/hashing.py) → K permutation min-hashes → B bands of R rows → band
bucket join → exact-Jaccard verification of candidates.

Scale shape: signatures are one hash-aggregate over (doc, shingle-hash);
banding is narrow; the candidate join shuffles on (band, bucket) — tiny keys
— and only candidate pairs pay the exact-verification join. This is the
standard sub-quadratic dedup for 100 TB corpora.

Coefficients are fixed literals (not RNG at import) so results are stable
across sessions and reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sri_spark.dedup.shingles import shingle_hashes_df
from sri_spark.functions.hashing import md5_int
from sri_spark.operators.caching import scoped_persist

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# (a, b) pairs for h_k(x) = (a*x + b) mod P — fixed odd/co-prime literals
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1610612741, 12345), (805306457, 67891), (402653189, 24683),
    (201326611, 13579), (100663319, 97531), (50331653, 11111),
    (25165843, 22222), (12582917, 33333), (6291469, 44444),
    (3145739, 55555), (1572869, 66666), (786433, 77777),
    (393241, 88888), (196613, 99999), (98317, 10101), (49157, 20202),
]
LSH_BANDS = 4
LSH_ROWS = 4  # LSH_BANDS * LSH_ROWS == len(MINHASH_COEFFS)


def minhash_signatures_from_shingles(
    sh: DataFrame, *, id_col: str = "doc_id", with_size: bool = False
) -> DataFrame:
    """Signatures from a distinct (id, shingle_h) set — shingle_h is the
    md5-based 60-bit hash from shingle_hashes_df, reduced mod P here so the
    DuckDB oracle (md5_int_sql(shingle) % P over string shingles) computes
    the identical permutation inputs.

    `with_size` adds an `ns` column (distinct-shingle count per doc) to the
    same aggregate — callers that need set sizes downstream (exact-Jaccard
    verification) get them for free instead of paying a second full
    shuffle+aggregate over the shingle set."""
    hashed = sh.select(id_col, (F.col("shingle_h") % MINHASH_P).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{k}")
        for k, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    if with_size:
        aggs.append(F.count("*").alias("ns"))
    return hashed.groupBy(id_col).agg(*aggs)


def _band_buckets(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket): bucket = md5 hash of the band's R signature
    components. Single-pass stack() unpivot — a 4-way union would plant four
    copies of the signature aggregate in the plan (and eight in the
    candidate self-join)."""
    stack_args: list[F.Column] = []
    for band in range(LSH_BANDS):
        cols = [F.col(f"m{band * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        stack_args.append(F.lit(band))
        stack_args.append(md5_int(F.concat_ws("-", *cols)))
    return sig.select(
        F.col(id_col),
        F.stack(F.lit(LSH_BANDS), *stack_args).alias("band", "bucket"),
    )


def _materialize_shingles(
    sh: DataFrame, storage: str, path: str | None
) -> DataFrame:
    """The shingle set's storage strategy, sized to the deployment:

    - ``path=...`` — two-pass job: write the distinct (id, shingle_h) set
      to parquet and read it back. Truncates lineage AND frees executor
      storage memory entirely; at 100 TB the shingle table is larger than
      cluster RAM and this (or DISK_ONLY) is the only shape that survives.
      The read-back pins the written schema, so the four downstream
      consumers see exactly the frame that was persisted.
    - ``storage="disk"`` — StorageLevel.DISK_ONLY persist: single job,
      no storage-memory footprint, shuffle runs once.
    - ``storage="memory"`` (default) — MEMORY_AND_DISK_DESER persist, the
      right level when shingles fit (fixture scale up to low-TB)."""
    if storage not in ("memory", "disk"):
        raise ValueError(f"shingle_storage must be 'memory' or 'disk': {storage!r}")
    if path is not None:
        sh.write.mode("overwrite").parquet(path)
        return sh.sparkSession.read.schema(sh.schema).parquet(path)
    if storage == "disk":
        return scoped_persist(sh, StorageLevel.DISK_ONLY)
    return scoped_persist(sh)


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    shingle_storage: str = "memory",
    shingle_path: str | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): pairs sharing >=1 LSH band bucket whose exact
    shingle Jaccard clears the threshold. Deterministic: a missed pair is one
    the fixed hash family banded apart (the documented LSH recall tradeoff).

    Exact verification is restricted to candidate pairs (broadcast the
    candidate set into the shingle table) — the full all-pairs shingle
    self-join never runs, which is the entire point of LSH: cost is
    O(shingles of candidate docs), not O(shingle-collision pairs).

    Precondition at scale: run exact dedup first — identical documents all
    share every band, so a corpus with k copies of one document creates
    k^2/2 candidates by construction.

    The distinct shingle set feeds four consumers (signatures, both sides of
    the intersection, set sizes); it is materialized so the
    tokenize+distinct shuffle runs once. `shingle_storage`/`shingle_path`
    pick the strategy (see _materialize_shingles): in-memory persist at
    fixture-to-low-TB scale, DISK_ONLY or a two-pass parquet checkpoint at
    100 TB where the shingle table exceeds cluster RAM. All three paths
    produce identical pairs (tests/test_minhash_storage.py)."""
    sh = _materialize_shingles(
        shingle_hashes_df(df, text_col, id_col, n), shingle_storage, shingle_path
    )
    # one row per doc but referenced four times (both self-join sides, both
    # size lookups); ns rides along in the same aggregate so the set-size
    # pass over the full shingle table never runs as a separate shuffle
    sig = scoped_persist(
        minhash_signatures_from_shingles(sh, id_col=id_col, with_size=True)
    )
    buckets = _band_buckets(sig, id_col)
    left = buckets.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    right = buckets.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle_h")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle_h")
    # no forced broadcasts: candidate pairs and per-doc size tables grow with
    # the corpus, so a hard BroadcastExchange hint OOMs at the scale this
    # module targets. AQE broadcasts them when they really are small.
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle_h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sig.select(id_col, "ns")
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("ns").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("ns").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
