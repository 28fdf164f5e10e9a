"""sri_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ETL+warehouse repo
(AngelRGQ/7337_sri-vehiculos-etl-airflow-bigquery), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory tuned for local[N] testing and cluster scale.
- ``sources``    : readers/writers (parquet testdata, SRI CSV contract, partitioned sinks).
- ``functions``  : scalar-expression library (dates, Spanish names, cleaning, coercion).
- ``operators``  : reusable dataflow operators (surrogate keys, dedup, lookup joins).
- ``plans``      : query catalog — every SURVEY.md §2 operator as (spark, sf_dir) -> DataFrame
                   with a matching DuckDB oracle SQL string.
- ``etl``        : the SRI star-schema pipeline (dims + fact + quality + metrics),
                   in `parity` and `fixed` semantic modes.
- ``dedup``      : exact / n-gram-Jaccard / MinHash-LSH / SimHash deduplication.
- ``text``       : language-ID, quality scoring, token counting, fingerprinting.
- ``similarity`` : embedding cosine top-k (brute force, LSH, IVF and PQ ANN), PCA.
- ``graph``      : PageRank, HITS and k-core peeling.
"""

__version__ = "0.1.0"
