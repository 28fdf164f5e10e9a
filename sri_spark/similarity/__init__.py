from sri_spark.similarity.cosine import cosine_topk
from sri_spark.similarity.lsh import RP_PLANES, rp_bucket_col, rp_lsh_near_pairs

__all__ = ["cosine_topk", "RP_PLANES", "rp_bucket_col", "rp_lsh_near_pairs"]
