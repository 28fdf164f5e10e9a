"""Text-analysis catalog queries over the `documents` fixture, with DuckDB
oracles generated from the same lexicons/constants as the Spark expressions
(single source of truth — sri_spark.text.analysis)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.functions.hashing import md5_int_sql
from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table
from sri_spark.text.analysis import (
    BPE_PATTERN,
    tokens_col,
    CJK_PATTERN,
    EMAIL_PATTERN,
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    PHONE_PATTERN,
    STOPWORDS,
    TOKEN_HASH_MOD,
    bpe_tokens_col,
    doc_fingerprint,
    language_id,
    pii_counts,
    quality_features,
    quality_score,
    redact_pii,
    repetition_features,
)

_TOKS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _hits_sql(lang: str) -> str:
    return f"len(list_filter({_TOKS_SQL}, x -> x IN ({_in_list(STOPWORDS[lang])})))"


_QUALITY_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len({_TOKS_SQL})::BIGINT AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::BIGINT AS n_punct,
         len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digits,
         {_hits_sql('en')}::BIGINT AS en_hits
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       round(CASE WHEN n_tokens > 0 THEN n_chars::DOUBLE / n_tokens ELSE 0.0 END, 4)
         AS avg_token_len,
       round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
       round(n_digits / greatest(n_chars, 1), 6) AS digit_ratio,
       round(en_hits / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round(0.5 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1 - round(n_punct / greatest(n_chars, 1), 6))
           + 0.2 * (1 - round(n_digits / greatest(n_chars, 1), 6)), 6) AS quality
FROM f
"""


@register("text_quality_score", _QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score. Pure codegen
    expressions — one narrow pass over the documents scan."""
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in feats.items()],
        quality_score(F.col("text")).alias("quality"),
    )


_LANG_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{CJK_PATTERN}'))::BIGINT AS cjk,
         greatest(length(text)::BIGINT, 1) AS n_chars,
         {_hits_sql('en')} AS en, {_hits_sql('es')} AS es,
         {_hits_sql('fr')} AS fr, {_hits_sql('de')} AS de
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN cjk::DOUBLE / n_chars > 0.10 THEN 'zh'
         WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
         WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
         WHEN fr >= de AND fr > 0 THEN 'fr'
         WHEN de > 0 THEN 'de'
         ELSE 'unknown'
       END AS pred_lang
FROM f
"""


@register("text_language_id", _LANG_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon + CJK-ratio language identification."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("pred_lang"))


@register(
    "text_token_count_bpe",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PATTERN}'))::BIGINT AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts (letter runs / digit runs / punct)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(bpe_tokens_col(F.col("text"))).cast("long").alias("n_bpe_tokens")
    )


_REPETITION_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
f AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           list_max(list_transform(list_distinct(toks),
                                   d -> len(list_filter(toks, x -> x = d))))::BIGINT
         ELSE 0 END AS top_freq,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS g2,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS g3
  FROM t
)
SELECT doc_id, n_tokens,
       round(CASE WHEN n_tokens > 0 THEN top_freq::DOUBLE / n_tokens ELSE 0.0 END, 6)
         AS top_word_fraction,
       round(CASE WHEN len(g2) > 0
                  THEN (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
                  ELSE 0.0 END, 6) AS dup_2gram_fraction,
       round(CASE WHEN len(g3) > 0
                  THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)
                  ELSE 0.0 END, 6) AS dup_3gram_fraction
FROM f
"""


@register("text_repetition_stats", _REPETITION_ORACLE)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style filters:
    most-common-word fraction, duplicate 2/3-gram fractions) — per-row
    array expressions, no shuffle, no explode."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens_col(F.col("text")).alias("__toks")
    )
    feats = repetition_features(F.col("text"), toks=F.col("__toks"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


# synthetic deterministic contact line: the fixtures contain no PII, so the
# query plants one email + one phone per document and the oracle must redact
# the exact same bytes — a non-vacuous cross-engine check of the scrubber
_PII_ORACLE = (
    """
WITH t AS (
  SELECT doc_id,
         text || ' contact doc' || CAST(doc_id AS VARCHAR)
              || '@example.com tel +5939'
              || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') AS txt
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(txt, '"""
    + EMAIL_PATTERN
    + """'))::BIGINT AS n_emails,
       len(regexp_extract_all(txt, '"""
    + PHONE_PATTERN
    + """'))::BIGINT AS n_phones,
       md5(regexp_replace(regexp_replace(txt, '"""
    + EMAIL_PATTERN
    + """', '[EMAIL]', 'g'), '"""
    + PHONE_PATTERN
    + """', '[PHONE]', 'g')) AS redacted_md5
FROM t
"""
)


@register("text_pii_redact", _PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: plant a deterministic synthetic contact line per
    document (emails/phones keyed off doc_id), then count matches and hash
    the redacted text. Regex subset chosen so Java regex (Spark) and RE2
    (DuckDB) agree byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    synthetic = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel +5939"),
        F.lpad((F.col("doc_id") % 10_000_000).cast("string"), 7, "0"),
    )
    counts = pii_counts(synthetic)
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        F.md5(redact_pii(synthetic)).alias("redacted_md5"),
    )


_FP_ORACLE = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(
             list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                         x -> x != ''),
             t -> {md5_int_sql('t')} % {TOKEN_HASH_MOD})),
         (a, b) -> (a * {FINGERPRINT_BASE} + b) % {FINGERPRINT_MOD}
       ) AS fingerprint
FROM documents
"""


@register("text_fingerprint", _FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (md5-based, so the
    DuckDB oracle reproduces it bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", doc_fingerprint(F.coalesce(F.col("text"), F.lit(""))).alias("fingerprint")
    )


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
grid AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             CAST(floor(greatest(len(toks) - 1, 0) / {CHUNK_STRIDE}) AS INT))) AS i
  FROM t WHERE len(toks) > 0
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(toks[i * {CHUNK_STRIDE} + 1 :
                              i * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ') AS chunk,
         len(toks[i * {CHUNK_STRIDE} + 1 :
                  i * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS n_tokens
  FROM grid
  WHERE i * {CHUNK_STRIDE} < len(toks)
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM chunks
"""


@register("text_chunk_windows", _CHUNK_ORACLE)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16-token
    overlap) — the RAG/pretraining chunker. Pure array expressions:
    sequence() generates the chunk grid per row, slice() cuts each window,
    one explode emits chunks — everything fuses into the scan, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    # token array as a column first — no CSE inside lambdas, so slice() on
    # tokens_col(text) would re-tokenize the doc once per chunk
    docs = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.floor((F.greatest(n - 1, F.lit(0))) / CHUNK_STRIDE).cast("int") + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_SIZE), " "
            ).alias("chunk"),
            F.size(F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_SIZE))
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return (
        docs.filter(n > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
    )


_LANG_CONFUSION_ORACLE = f"""
WITH pred AS ({_LANG_ORACLE})
SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""


@register("text_language_confusion", _LANG_CONFUSION_ORACLE)
def text_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the stored lang label vs
    the heuristic's prediction — the operator-quality report that turns the
    classifier into something measurable (diagonal mass = accuracy). Pure
    projection + one hash aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", tokens_col(F.col("text")).alias("__toks")
    )
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            language_id(F.col("text"), toks=F.col("__toks")).alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, lower(text) AS t,
         string_split_regex(lower(text), '') AS cs
  FROM documents WHERE length(text) > 0
),
freq AS (
  SELECT doc_id,
         list_transform(
           list_distinct(cs),
           c -> len(list_filter(cs, x -> x = c)) / len(cs)::DOUBLE
         ) AS ps
  FROM chars
)
SELECT doc_id,
       round(-list_sum(list_transform(ps, p -> p * ln(p))), 6) AS char_entropy
FROM freq
"""


@register("text_char_entropy", _ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the cheapest
    gibberish/compression-quality signal (natural text sits ~3; runs of
    one character near 0; uniform noise near ln(alphabet)). Per-row array
    expressions over the character array, MATERIALIZED as a column first
    (no CSE inside lambdas — the per-distinct-character count references
    the array in its body); alphabet size bounds the quadratic factor."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    with_chars = docs.select(
        "doc_id", F.split(F.lower("text"), "").alias("__cs")
    )
    cs = F.col("__cs")
    n = F.size(cs).cast("double")
    ps = F.transform(
        F.array_distinct(cs),
        lambda c: F.size(F.filter(cs, lambda x: x == c)) / n,
    )
    entropy = -F.aggregate(
        F.transform(ps, lambda p: p * F.log(p)), F.lit(0.0), lambda a, x: a + x
    )
    return with_chars.select("doc_id", F.round(entropy, 6).alias("char_entropy"))
