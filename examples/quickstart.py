"""Five-minute tour of the engine. Run:

    python examples/quickstart.py [sf_dir]

(defaults to /root/testdata/sf0.001). Walks the same ground a reference
user covers — build the SRI star, roll up metrics — then the surfaces the
reference never had: the query catalog, corpus dedup and ANN search.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from sri_spark.session import get_spark

    spark = get_spark("sri-spark-quickstart")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. the reference's own workload: CSV -> star schema -> metrics
    from sri_spark.etl import EtlConfig, run_pipeline
    from tests.sri_fixture import write_sri_csv

    with tempfile.TemporaryDirectory() as tmp:
        csv_path = os.path.join(tmp, "sri.csv")
        write_sri_csv(csv_path, n=5000, seed=7)
        tables = run_pipeline(spark, csv_path, EtlConfig(mode="fixed"))
        print("star tables:", {k: v.count() for k, v in tables.items()})

    # 2. the catalog: every query is (spark, sf_dir) -> DataFrame
    from sri_spark.plans import all_queries

    qs = all_queries()
    print(f"\ncatalog: {len(qs)} oracle-paired queries")
    print("\nflagship star rollup:")
    qs["flagship_star_rollup"](spark, sf_dir).show(5, truncate=False)

    # 3. corpus dedup: MinHash-LSH near-duplicate pairs
    print("near-duplicate clusters (MinHash-LSH + connected components):")
    qs["dedup_duplicate_clusters"](spark, sf_dir).show(5, truncate=False)

    # 4. ANN: brute-force truth vs the LSH-bucketed scale path
    print("cosine top-5 of vec 0 (brute force):")
    qs["similarity_cosine_topk"](spark, sf_dir).show(5)

    spark.stop()


if __name__ == "__main__":
    main()
