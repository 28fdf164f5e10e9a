"""Corpus-governance queries: Gopher-style quality gating, snapshot
diffing, and join-key skew profiling.

These are the pipeline-operations layer of a training-data build: decide
which documents pass the published heuristic bar (Rae et al. 2021 "Scaling
Language Models" appendix A / C4-style rules), quantify what changed
between two corpus versions before re-training, and measure key skew
BEFORE a 100 TB shuffle so salting/AQE decisions are data-driven rather
than post-mortem.

Every query is a per-row expression pass + one hash aggregate — no UDFs,
no explode beyond what the aggregate needs — so each scales as a single
shuffle on its group key. Per the repo's lambda-CSE rule, token arrays are
materialized as columns once and reused (Spark does not CSE inside
higher-order-function lambdas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table
from sri_spark.text.analysis import tokens_col

_TOKS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"

# the Gopher feature CTE, shared by the gate and the rule-attribution
# oracles so the two reports can never disagree on feature definitions
_GOPHER_F_CTE = f"""f AS (
  SELECT source,
         len(t)::BIGINT AS n_words,
         CASE WHEN len(t) > 0
              THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t)
         END AS mean_word_len,
         CASE WHEN len(t) > 0
              THEN len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0
                   / len(t)
         END AS alpha_word_frac,
         CASE WHEN len(t) > 0
              THEN len(regexp_extract_all(text, '[#@~^|\\\\]')) * 1.0 / len(t)
         END AS symbol_per_word
  FROM (SELECT source, text, {_TOKS_SQL} AS t FROM documents)
)"""

_GOPHER_ORACLE = f"""
WITH {_GOPHER_F_CTE},
g AS (
  SELECT f.*,
         (n_words BETWEEN 5 AND 100000
          AND mean_word_len BETWEEN 2 AND 12
          AND alpha_word_frac >= 0.6
          AND symbol_per_word <= 0.2) AS pass
  FROM f
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       round(avg(CASE WHEN pass THEN 1.0 ELSE 0.0 END), 6) AS pass_rate,
       round(avg(n_words), 6) AS avg_words,
       round(avg(mean_word_len), 6) AS avg_mean_word_len,
       round(avg(alpha_word_frac), 6) AS avg_alpha_frac
FROM g GROUP BY source
"""


@register("text_gopher_gate", _GOPHER_ORACLE)
def text_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-rule gate: word-count bounds, mean word length
    2-12, >=60% alphabetic tokens, symbol-per-word cap — the published
    heuristic bar a web corpus is filtered against before tokenization.
    Shape: one narrow expression pass over the scan, one hash aggregate on
    `source`; the boolean conjunction is codegen, so gating 100 TB costs
    exactly one scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "text", tokens_col(F.col("text")).alias("__t")
    )
    n_words = F.size(F.col("__t"))
    nonempty = n_words > 0
    mean_word_len = F.when(
        nonempty,
        F.aggregate(
            F.transform(F.col("__t"), lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        * F.lit(1.0)
        / n_words,
    )
    alpha_word_frac = F.when(
        nonempty,
        F.size(F.filter(F.col("__t"), lambda x: x.rlike("[a-z]")))
        * F.lit(1.0)
        / n_words,
    )
    symbol_per_word = F.when(
        nonempty,
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[#@~^|\\]"), F.lit(0)))
        * F.lit(1.0)
        / n_words,
    )
    feats = toks.select(
        "source",
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_word_frac.alias("alpha_word_frac"),
        symbol_per_word.alias("symbol_per_word"),
    )
    gate = (
        F.col("n_words").between(5, 100000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("alpha_word_frac") >= 0.6)
        & (F.col("symbol_per_word") <= 0.2)
    )
    return (
        feats.withColumn("pass", gate)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pass"), 1).otherwise(0)).alias("n_pass"),
            F.round(F.avg(F.when(F.col("pass"), 1.0).otherwise(0.0)), 6).alias(
                "pass_rate"
            ),
            F.round(F.avg("n_words"), 6).alias("avg_words"),
            F.round(F.avg("mean_word_len"), 6).alias("avg_mean_word_len"),
            F.round(F.avg("alpha_word_frac"), 6).alias("avg_alpha_frac"),
        )
    )


_PREFIX_FP_SQL = (
    "md5(array_to_string(list_filter(string_split_regex(lower(trim(text)), "
    "'\\s+'), x -> x != '')[1:10], ' '))"
)

_VERSION_DIFF_ORACLE = f"""
WITH fp AS (SELECT doc_id, {_PREFIX_FP_SQL} AS h FROM documents),
v0 AS (SELECT DISTINCT h FROM fp WHERE doc_id % 2 = 0),
v1 AS (SELECT DISTINCT h FROM fp WHERE doc_id % 2 = 1)
SELECT sum(CASE WHEN v1.h IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       sum(CASE WHEN v0.h IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_added,
       sum(CASE WHEN v0.h IS NOT NULL AND v1.h IS NOT NULL
           THEN 1 ELSE 0 END)::BIGINT AS n_retained,
       round(sum(CASE WHEN v0.h IS NOT NULL AND v1.h IS NOT NULL
                 THEN 1.0 ELSE 0.0 END)
             / sum(CASE WHEN v1.h IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
           AS retention_rate
FROM v0 FULL OUTER JOIN v1 ON v0.h = v1.h
"""


@register("corpus_version_diff", _VERSION_DIFF_ORACLE)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-level diff between two corpus snapshots (doc_id parity
    stands in for 'last build vs this build'): distinct document
    fingerprints added, removed, and retained. The fingerprint is the
    first-10-token prefix hash — the cheap snapshot-matching key that
    catches re-crawled boilerplate whose exact bytes changed. Answers the
    pre-training question "how much of the corpus actually changed?"
    before paying for a full re-tokenization.

    Shape: two distinct-aggregates (map-side partial) + one full-outer
    shuffle join on the 16-byte fingerprint — the join moves hashes, never
    documents."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.encode(
            F.concat_ws(" ", F.slice(tokens_col(F.col("text")), 1, 10)), "UTF-8"
        )
    ).alias("h")
    v0 = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(h)
        .distinct()
        .withColumn("__in0", F.lit(1))
    )
    v1 = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select(h)
        .distinct()
        .withColumn("__in1", F.lit(1))
    )
    joined = v0.join(v1, ["h"], "full_outer")
    both = F.col("__in0").isNotNull() & F.col("__in1").isNotNull()
    return joined.agg(
        F.sum(F.when(F.col("__in1").isNull(), 1).otherwise(0)).alias("n_removed"),
        F.sum(F.when(F.col("__in0").isNull(), 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(both, 1).otherwise(0)).alias("n_retained"),
        # try_divide: a snapshot pair where v1 is empty (all-even doc_ids
        # in a degenerate slice) has a zero denominator; DuckDB's float
        # division by zero is NULL, and try_divide matches that exactly
        F.round(
            F.try_divide(
                F.sum(F.when(both, 1.0).otherwise(0.0)),
                F.sum(F.when(F.col("__in1").isNotNull(), 1.0).otherwise(0.0)),
            ),
            6,
        ).alias("retention_rate"),
    )


_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
g0 AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS shingle
  FROM idx WHERE doc_id % 2 = 0
),
g1 AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS shingle
  FROM idx WHERE doc_id % 2 = 1
)
SELECT count(*)::BIGINT AS n_grams_v1,
       sum(CASE WHEN g0.shingle IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_grams_new,
       round(avg(CASE WHEN g0.shingle IS NULL THEN 1.0 ELSE 0.0 END), 6)
           AS novelty_rate
FROM g1 LEFT JOIN g0 ON g1.shingle = g0.shingle
"""


@register("text_ngram_novelty", _NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot information gain: the fraction of the new snapshot's
    distinct 3-gram shingles that the previous snapshot never contained
    (doc_id parity stands in for the two builds). Complements
    corpus_version_diff: that counts changed DOCUMENTS, this measures how
    much genuinely new TEXT arrived — near-zero novelty means the crawl
    refreshed boilerplate and re-tokenization buys nothing.

    Shape: shingle explode -> per-snapshot distinct (map-side partial) ->
    one left join on the shingle + hash aggregate. Shingles move as
    strings here for oracle parity; the documented scale variant hashes
    them to 8-byte longs first (dedup/shingles.py shingle_hashes_df)."""
    from sri_spark.dedup.shingles import shingles_df

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs.select("doc_id", "text"), n=3)
    g0 = (
        sh.filter(F.col("doc_id") % 2 == 0)
        .select("shingle")
        .distinct()
        .withColumn("__in0", F.lit(1))
    )
    g1 = sh.filter(F.col("doc_id") % 2 == 1).select("shingle").distinct()
    joined = g1.join(g0, ["shingle"], "left")
    return joined.agg(
        F.count("*").alias("n_grams_v1"),
        F.sum(F.when(F.col("__in0").isNull(), 1).otherwise(0)).alias(
            "n_grams_new"
        ),
        F.round(
            F.avg(F.when(F.col("__in0").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("novelty_rate"),
    )


_LATENESS_ORACLE = """
WITH seen AS (
  SELECT event_type,
         (max(epoch_us(ts)) OVER (PARTITION BY date_trunc('minute', ts)
            ORDER BY event_id % 7, event_id)
          - epoch_us(ts)) / 1000000.0 AS lateness_s
  FROM events
)
SELECT event_type,
       count(*)::BIGINT AS n_events,
       round(avg(CASE WHEN lateness_s > 0 THEN 1.0 ELSE 0.0 END), 6)
           AS pct_late,
       round(avg(CASE WHEN lateness_s > 0 THEN lateness_s END), 6)
           AS avg_late_s,
       round(max(lateness_s), 6) AS max_lateness_s
FROM seen GROUP BY event_type
"""


@register("events_watermark_lateness", _LATENESS_ORACLE)
def events_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile that sizes a streaming watermark. Arrival
    model: events land interleaved from 7 ingest partitions (arrival order
    within a minute = (event_id % 7, event_id) — the deterministic stand-in
    for multi-source ingestion, since the fixture's event_id is already
    ts-sorted). Lateness = how far behind the already-seen high-water mark
    each event's timestamp arrives. pct_late/max are exactly the numbers
    `withWatermark` needs: a watermark below max drops data, one far above
    it wastes state.

    Shape: a running-max window PARTITIONED BY arrival minute (never a
    global sort — each minute is an independent partition) + one per-type
    hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy(F.date_trunc("minute", F.col("ts")))
        .orderBy(F.col("event_id") % 7, "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    us = F.unix_micros("ts")
    lateness = (F.max(us).over(w) - us) / F.lit(1_000_000.0)
    return (
        ev.select("event_type", lateness.alias("lateness_s"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.avg(F.when(F.col("lateness_s") > 0, 1.0).otherwise(0.0)), 6
            ).alias("pct_late"),
            F.round(
                F.avg(F.when(F.col("lateness_s") > 0, F.col("lateness_s"))), 6
            ).alias("avg_late_s"),
            F.round(F.max("lateness_s"), 6).alias("max_lateness_s"),
        )
    )


_SKEW_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS c
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT per_user.*,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY c DESC, user_id) AS rk
  FROM per_user
)
SELECT event_type,
       sum(c)::BIGINT AS n_events,
       count(*)::BIGINT AS n_keys,
       max(c)::BIGINT AS max_key_events,
       round(max(c) * 1.0 / avg(c), 6) AS skew_ratio,
       round(sum(CASE WHEN rk <= 5 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
           AS top5_share
FROM ranked GROUP BY event_type
"""


@register("events_key_skew_profile", _SKEW_ORACLE)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profile for `user_id` within each event type:
    hottest-key event count, max/mean ratio, and the share held by the top
    5 keys. This is the measurement that decides salting and AQE skew-join
    thresholds BEFORE launching a 100 TB shuffle — a skew_ratio near 1
    means hash partitioning balances; a top5_share near 1 means the
    shuffle degenerates to 5 straggler tasks without salting.

    Shape: per-(type, key) count (map-side partial combine), a per-type
    window rank over the already-aggregated counts, one final hash
    aggregate — all keyed on event_type, never a global sort."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("c"), F.asc("user_id"))
    ranked = per_user.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_key_events"),
        F.round(F.max("c") * F.lit(1.0) / F.avg("c"), 6).alias("skew_ratio"),
        F.round(
            F.sum(F.when(F.col("rk") <= 5, F.col("c")).otherwise(0))
            * F.lit(1.0)
            / F.sum("c"),
            6,
        ).alias("top5_share"),
    )
