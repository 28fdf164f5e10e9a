"""Regenerate PLANS.md: explain('formatted') operator trees for
representative catalog queries at $SPARK_GRAFT_SF_DIR."""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sri_spark.plans import all_queries
from sri_spark.session import get_spark

QUERIES = [
    "flagship_star_rollup",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "text_sparse_cosine_pairs",
    "topk_orders",
    "events_sessionize",
    "join_asof_attribution",
    "join_range_price_bands",
    "join_point_in_time",
    "corpus_shuffle_assign",
    "graph_pagerank_trade",
    "events_user_trend",
    "orders_basket_pairs",
    "text_gopher_gate",
    "events_watermark_lateness",
    "dedup_span_exact",
    "join_bloom_prefilter",
    "layout_zorder_pruning",
    "graph_triangle_count",
    "agg_cms_heavy_hitters",
    "stats_ks_two_sample",
    "governance_table_digest",
    "dedup_sentence_exact",
    # round-5 additions
    "text_zipf_stats",  # TakeOrderedAndProject-bounded rank (verdict item 3)
    "parity_fanout_join",
    "retrieval_phrase_top_docs",
    "warehouse_cdc_compaction",
    "corpus_curriculum_schedule",
    "embeddings_matryoshka_fidelity",
    # round-6 additions: the two slowest composed queries print compactly
    # (~200 lines) because the CC fixpoint's localCheckpoint truncates the
    # lineage — the audit shows the post-checkpoint serving plan
    "dedup_cluster_keep_best",
    "dedup_corpus_end_to_end",
    # embeddings_pca_top_component intentionally absent: 4 unrolled power
    # rounds print ~2000 plan lines — SCALE.md carries its shape argument
]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADER = """# PLANS — physical-plan audit (sf0.1, local[32], AQE on)

`explain('formatted')` excerpts for representative queries, kept as evidence
that the catalog compiles to the plans a 100 TB deployment needs: pruned
columnar scans with pushed filters, broadcast dims, partial+final hash
aggregation, true top-k, no Python in any hot path. Regenerate with
`python scripts/dump_plans.py`.

"""


def main() -> None:
    spark = get_spark("plans-doc")
    spark.sparkContext.setLogLevel("ERROR")
    q = all_queries()
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md"), "w") as out:
        out.write(HEADER)
        for name in QUERIES:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                q[name](spark, SF).explain("formatted")
            tree = buf.getvalue().split("\n\n")[0]
            tree = "\n".join(line[:120] for line in tree.splitlines())
            out.write(f"## {name}\n\n```\n{tree}\n```\n\n")


if __name__ == "__main__":
    main()
