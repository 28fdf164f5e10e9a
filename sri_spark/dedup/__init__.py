from sri_spark.dedup.exact import exact_dedup_groups, normalize_text
from sri_spark.dedup.shingles import shingle_hashes_df, shingles_df
from sri_spark.dedup.jaccard import ngram_jaccard_pairs
from sri_spark.dedup.minhash import MINHASH_COEFFS, minhash_lsh_pairs

__all__ = [
    "exact_dedup_groups",
    "normalize_text",
    "shingles_df",
    "shingle_hashes_df",
    "ngram_jaccard_pairs",
    "MINHASH_COEFFS",
    "minhash_lsh_pairs",
]
