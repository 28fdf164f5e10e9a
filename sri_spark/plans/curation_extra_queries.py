"""Second curation batch (additive mandate surface, no reference cites):
the decision layer a training-data pipeline runs AFTER dedup/scoring —
which near-duplicate to KEEP, what order to feed survivors, whether
today's snapshot silently drifted from yesterday's, and phrase-grain
retrieval over the positional index.

All four follow the catalog's scale rules: candidate generation stays
bucketed (LSH bands), windows are partitioned by cluster/bin (bounded
frames), snapshot profiles are per-column aggregates (column-count-sized
output), and the phrase join moves (doc, position) pairs of ONE bigram,
never the full postings list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sri_spark.plans.lm_queries import _TOKS  # the ONE tokenizer string
from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table, register_views
from sri_spark.text.analysis import quality_score, tokens_col

# --------------------------------------------------------------------------
# quality-aware canonical selection per near-dup cluster
# --------------------------------------------------------------------------

# the SQL twin of text/analysis.py::quality_score — defined ONCE here and
# shared by both oracles below so they cannot drift apart independently
_QUALITY_EXPR = f"""round(0.5 * least(len({_TOKS}) / 100.0, 1.0)
             + 0.3 * (1 - round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                                / greatest(length(text)::BIGINT, 1), 6))
             + 0.2 * (1 - round(len(regexp_extract_all(text, '[0-9]'))
                                / greatest(length(text)::BIGINT, 1), 6)), 6)"""

_QUALITY_SQL = f"""
  SELECT doc_id,
         {_QUALITY_EXPR}
             AS quality
  FROM documents
"""


def _keep_best_oracle() -> str:
    from sri_spark.plans.dedup_queries import _clusters_oracle

    extra = f""",
    q AS ({_QUALITY_SQL}),
    labels AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, q.quality,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, l.doc_id) AS rk
      FROM labels l JOIN q USING (doc_id)
    )"""
    final = """
    SELECT cluster_id,
           max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
           count(*)::BIGINT AS n_members,
           round(max(CASE WHEN rk = 1 THEN quality END), 6) AS best_quality,
           round(avg(quality), 6) AS avg_quality
    FROM ranked GROUP BY cluster_id
    """
    return _clusters_oracle(extra=extra, final=final)


def keep_best_members(
    docs: DataFrame, *, quality: DataFrame | None = None
) -> DataFrame:
    """(cluster_id, doc_id, quality, rk) for every member of every
    near-dup cluster over `docs` (doc_id, text, ...): MinHash-LSH
    candidate pairs closed under large-star/small-star connected
    components, one quality pass over clustered docs only, and a
    per-cluster ranking window (frames bounded by cluster size — no
    all-pairs, no global sort). rk = 1 marks the keeper (highest quality,
    ties to lowest doc_id). Shared by the dedup_cluster_keep_best catalog
    query and the composed corpus pipeline (etl/corpus_pipeline.py), so
    the two cannot drift apart.

    `quality` optionally supplies a precomputed (doc_id, quality) frame —
    callers that already scored the corpus (the pipeline's enrichment
    pass) avoid a second full-text quality_score scan; omitted, it is
    computed here, which is what the catalog query does."""
    from sri_spark.dedup.components import connected_components
    from sri_spark.dedup.minhash import minhash_lsh_pairs
    from sri_spark.plans.dedup_queries import JACCARD_THRESHOLD

    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    if quality is not None:
        q = comp.join(quality, "doc_id")
    else:
        # score AFTER restricting to cluster members: quality_score runs
        # two regexp_extract_all passes per document, and only clustered
        # docs (a tiny fraction of the corpus) ever surface — joining
        # first skips the regex work for every unclustered doc (r13,
        # guide §2.3 "don't compute what you throw away"); comp is
        # cluster-member-sized, so the join broadcasts
        q = comp.join(docs.select("doc_id", "text"), "doc_id").select(
            "doc_id",
            "cluster_id",
            quality_score(F.col("text")).alias("quality"),
        )
    return q.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("quality"), F.asc("doc_id")
            )
        ),
    )


@register("dedup_cluster_keep_best", _keep_best_oracle())
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: for every near-duplicate cluster
    (MinHash-LSH pairs closed under transitivity), KEEP the
    highest-quality member — ties to the lowest doc_id — instead of the
    naive min-id. This is the production dedup decision: near-dups often
    differ in boilerplate/OCR noise, and keeping the best-scoring copy
    measurably improves the surviving corpus versus keeping an arbitrary
    one.

    Shape: the same bucketed LSH + star-CC pipeline as
    dedup_duplicate_clusters (no all-pairs anywhere), one quality-score pass
    over the clustered docs only, and a per-cluster window (frames
    bounded by cluster size). Oracle: the recursive-CTE closure with the
    same rank rule."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = keep_best_members(docs)
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
        F.count("*").cast("long").alias("n_members"),
        F.round(
            F.max(F.when(F.col("rk") == 1, F.col("quality"))), 6
        ).alias("best_quality"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


# --------------------------------------------------------------------------
# curriculum schedule over fixed quality bins
# --------------------------------------------------------------------------

_CURRICULUM_ORACLE = f"""
WITH q AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens,
         {_QUALITY_EXPR}
             AS quality
  FROM documents
),
binned AS (
  SELECT least(CAST(floor(quality * 10) AS BIGINT), 9) AS phase,
         count(*) AS n_docs, sum(n_tokens) AS tok, round(avg(quality), 6) AS avg_q
  FROM q GROUP BY 1
)
SELECT phase,
       n_docs::BIGINT AS n_docs,
       round(avg_q, 6) AS avg_quality,
       tok::BIGINT AS phase_tokens,
       CAST(sum(tok) OVER (ORDER BY phase DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens_from_best,
       round(n_docs * 1.0 / sum(n_docs) OVER (), 6) AS doc_frac
FROM binned
"""


@register("corpus_curriculum_schedule", _CURRICULUM_ORACLE)
def corpus_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule over FIXED quality bins: documents fold into ten
    static [0,1]-decile phases by composite quality score; per phase the
    doc count, token mass, and the running token budget consumed when
    training best-quality-first (the anneal/curriculum question: "how many
    tokens do the top-k phases hold?").

    Fixed-width bins instead of ntile() on purpose: ntile is a GLOBAL
    single-partition sort of the whole corpus, while static bins are one
    hash aggregate, and the cumulative window then runs on a 10-row frame
    — the stats_ks_two_sample boundedness argument applied to curation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    q = docs.select(
        F.size(toks).cast("long").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    binned = (
        q.select(
            F.least(
                F.floor(F.col("quality") * 10).cast("long"), F.lit(9)
            ).alias("phase"),
            "n_tokens",
            "quality",
        )
        .groupBy("phase")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tok"),
            F.round(F.avg("quality"), 6).alias("avg_q"),
        )
    )
    w_desc = Window.orderBy(F.desc("phase")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy("phase").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return binned.select(
        "phase",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("avg_q"), 6).alias("avg_quality"),
        F.col("tok").cast("long").alias("phase_tokens"),
        F.sum("tok").over(w_desc).cast("long").alias("cum_tokens_from_best"),
        F.round(F.col("n_docs") * 1.0 / F.sum("n_docs").over(wall), 6).alias(
            "doc_frac"
        ),
    )


# --------------------------------------------------------------------------
# snapshot profile drift (shared-SQL: Spark executes the oracle string)
# --------------------------------------------------------------------------


def _profile_sql(col: str, is_numeric: bool) -> str:
    mn = f"CAST(min({col}) AS STRING)"
    mx = f"CAST(max({col}) AS STRING)"
    if is_numeric:
        mn = f"CAST(round(min({col}), 2) AS STRING)"
        mx = f"CAST(round(max({col}), 2) AS STRING)"
    return f"""
  SELECT '{col}' AS col,
         (SELECT count(*) FROM s0) AS n_prev,
         (SELECT count(*) FROM s1) AS n_cur,
         (SELECT count(DISTINCT {col}) FROM s0) AS distinct_prev,
         (SELECT count(DISTINCT {col}) FROM s1) AS distinct_cur,
         (SELECT round(sum(CASE WHEN {col} IS NULL THEN 1.0 ELSE 0.0 END)
                 / count(*), 6) FROM s0) AS null_rate_prev,
         (SELECT round(sum(CASE WHEN {col} IS NULL THEN 1.0 ELSE 0.0 END)
                 / count(*), 6) FROM s1) AS null_rate_cur,
         (SELECT {mn} FROM s0) AS min_prev,
         (SELECT {mx} FROM s0) AS max_prev,
         (SELECT {mn} FROM s1) AS min_cur,
         (SELECT {mx} FROM s1) AS max_cur
"""


_DRIFT_SQL = (
    """
WITH s0 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
     s1 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1)
"""
    + "\nUNION ALL\n".join(
        _profile_sql(c, num)
        for c, num in [
            ("o_totalprice", True),
            ("o_orderstatus", False),
            ("o_orderpriority", False),
        ]
    )
)


@register("governance_snapshot_profile_drift", _DRIFT_SQL)
def governance_snapshot_profile_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column-level profile drift between two table snapshots (orderkey
    parity stands in for yesterday/today): row counts, distinct counts,
    null rates, and stringified min/max per profiled column — the
    schema-drift monitor a 100 TB ingest runs before promoting a
    snapshot, catching silently-shifted distributions (a column gone
    all-NULL, a cardinality explosion) without comparing any rows.

    Shape: per-column scalar aggregates only — output is column-count
    sized. Dialect-shared SQL: Spark executes the IDENTICAL string DuckDB
    verifies (the reference_sql.py pattern applied to governance)."""
    register_views(spark, sf_dir)
    return spark.sql(_DRIFT_SQL)


# --------------------------------------------------------------------------
# phrase retrieval over positional postings
# --------------------------------------------------------------------------

_PHRASE_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i])) AS w1,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i + 1])) AS w2
  FROM t
),
top_phrase AS (
  SELECT w1, w2 FROM pos GROUP BY 1, 2
  ORDER BY count(*) DESC, w1, w2 LIMIT 1
),
hits AS (
  SELECT p.doc_id, count(*) AS n_hits
  FROM pos p JOIN top_phrase tp ON p.w1 = tp.w1 AND p.w2 = tp.w2
  GROUP BY 1
)
SELECT (SELECT w1 FROM top_phrase) AS phrase_w1,
       (SELECT w2 FROM top_phrase) AS phrase_w2,
       doc_id, n_hits::BIGINT AS n_hits
FROM hits
ORDER BY n_hits DESC, doc_id LIMIT 10
"""


@register("retrieval_phrase_top_docs", _PHRASE_ORACLE)
def retrieval_phrase_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-grain retrieval: find the corpus' most frequent bigram
    phrase (ties lexicographic), then rank the top-10 documents by
    occurrence count of that exact adjacent-token phrase. Positional
    postings are what separate phrase search from bag-of-words BM25 —
    adjacency is enforced by construction (tokens paired with their
    successors), not by post-filtering.

    Shape: bigram generation is per-row array zipping (no explode-join);
    the global top-1 is a TakeOrderedAndProject over the bigram-count
    aggregate; only the ONE winning phrase's postings flow into the
    per-doc count. At 100 TB the phrase row stays driver-sized and the
    hits join is a broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    pos = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
    top_phrase = (
        pos.groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    hits = (
        pos.join(F.broadcast(top_phrase), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        hits.join(F.broadcast(top_phrase))
        .select(
            F.col("w1").alias("phrase_w1"),
            F.col("w2").alias("phrase_w2"),
            "doc_id",
            "n_hits",
        )
        .orderBy(F.desc("n_hits"), "doc_id")
        .limit(10)
    )
