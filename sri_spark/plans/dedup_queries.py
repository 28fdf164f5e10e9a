"""Deduplication catalog queries over `documents`, with DuckDB oracles built
from the same constants (hash family, bands, thresholds) as the Spark
implementations in sri_spark.dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sri_spark.dedup.exact import exact_dedup_groups
from sri_spark.dedup.jaccard import jaccard_pairs_from_shingles, ngram_jaccard_pairs
from sri_spark.dedup.minhash import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_COEFFS,
    MINHASH_P,
    minhash_lsh_pairs,
)
from sri_spark.dedup.simhash import SIMHASH_BITS, simhash_df, simhash_near_pairs
from sri_spark.functions.hashing import md5_int_sql
from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table

JACCARD_THRESHOLD = 0.5

# shared DuckDB CTEs: tokens -> 3-gram shingles (mirrors dedup.shingles)
_SHINGLE_CTES = """
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx
)
"""

def _jaccard_ctes(max_df: int | None = None) -> str:
    """The exact-Jaccard CTE block; `max_df` mirrors
    `jaccard_pairs_from_shingles`'s hot-shingle cap (shingles in more than
    max_df docs excluded from the intersection, still counted in sizes)."""
    df_pred = f"HAVING count(*) <= {max_df}" if max_df is not None else ""
    return f"""
shx AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle {df_pred}) ok USING (shingle)
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
jac AS (
  SELECT doc_a, doc_b,
         round(n_inter / (sa.ns + sb.ns - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.doc_a = sa.doc_id
  JOIN sizes sb ON inter.doc_b = sb.doc_id
)
"""


_JACCARD_CTES = f"""
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
jac AS (
  SELECT doc_a, doc_b,
         round(n_inter / (sa.ns + sb.ns - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.doc_a = sa.doc_id
  JOIN sizes sb ON inter.doc_b = sb.doc_id
)
"""


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash-groupBy dedup: shuffle on the 32-char hash, never the text."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_normalized",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/case-normalized exact dedup."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"), normalized=True)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_CTES}, {_JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs >= 0.5 (quadratic-in-collisions
    baseline for the LSH path)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )


# hot-shingle document-frequency cap for the bounded variant. 32 > the
# corpus's max observed shingle df at sf0.1 (25), so at test scale the capped
# result is bit-identical to the exact one — while at production scale the
# cap bounds the self-join to C(32,2) pairs per shingle no matter how much
# boilerplate the corpus carries (the exact query is unbounded by design).
MAX_SHINGLE_DF = 32


@register(
    "dedup_ngram_jaccard_capped",
    f"""
    WITH {_SHINGLE_CTES}, {_jaccard_ctes(MAX_SHINGLE_DF)}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard pairs with the standard hot-shingle guard:
    shingles in more than MAX_SHINGLE_DF documents are dropped from the
    intersection join (still counted in sizes), bounding the quadratic
    blowup on boilerplate-heavy corpora. Capped Jaccard is a lower bound of
    exact Jaccard, so the recall tradeoff is only on pairs whose overlap is
    boilerplate-carried. The oracle mirrors the cap exactly."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=JACCARD_THRESHOLD,
        max_df=MAX_SHINGLE_DF,
    )


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{k}"
        for k, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = []
    for band in range(LSH_BANDS):
        cols = ", ".join(f"m{band * LSH_ROWS + r}" for r in range(LSH_ROWS))
        bucket = md5_int_sql(f"concat_ws('-', {cols})")
        band_selects.append(f"SELECT doc_id, {band} AS band, {bucket} AS bucket FROM sig")
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH {_SHINGLE_CTES}, {_JACCARD_CTES},
    hashes AS (SELECT doc_id, {md5_int_sql('shingle')} % {MINHASH_P} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM hashes GROUP BY doc_id),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    WHERE j.jaccard >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4x4-band LSH candidates, exact-Jaccard verified — the
    sub-quadratic scale path. Fixed md5-based hash family makes the banding
    (and therefore recall) bit-reproducible in the oracle."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )


def _simhash_ctes() -> str:
    """CTE block computing `sim` = (doc_id, simhash) in DuckDB — the bit-
    exact mirror of dedup.simhash.simhash_df."""
    ws = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS w{i}"
        for i in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN w{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '') AS t
      FROM documents
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY 1, 2
    ),
    hh AS (SELECT doc_id, {md5_int_sql('tok', 8)} AS h, cnt FROM tc),
    w AS (SELECT doc_id, {ws} FROM hh GROUP BY doc_id),
    sim AS (SELECT doc_id, ({bits}) AS simhash FROM w)
    """


@register("dedup_simhash", f"WITH {_simhash_ctes()} SELECT doc_id, simhash FROM sim")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (count-weighted token votes)."""
    return simhash_df(load_table(spark, sf_dir, "documents"))


SIMHASH_MAX_HAMMING = 3


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {_simhash_ctes()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance <= 3 via byte-band
    blocking (dedup/simhash.py simhash_near_pairs). With 4 bands and radius
    < 4 the banding is pigeonhole-EXACT, so the quadratic oracle self-join
    and the banded plan agree bit-for-bit — the oracle checks recall, not
    just precision."""
    return simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=SIMHASH_MAX_HAMMING
    )


def _clusters_oracle(extra: str | None = None, final: str | None = None) -> str:
    extra = extra or ""
    final = final or "SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s"

    # the minhash-pair CTE chain, then an undirected transitive closure:
    # min reachable doc id per node = cluster id (DuckDB recursive CTE;
    # UNION's distinct makes the recursion terminate)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{k}"
        for k, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = []
    for band in range(LSH_BANDS):
        cols = ", ".join(f"m{band * LSH_ROWS + r}" for r in range(LSH_ROWS))
        bucket = md5_int_sql(f"concat_ws('-', {cols})")
        band_selects.append(f"SELECT doc_id, {band} AS band, {bucket} AS bucket FROM sig")
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH RECURSIVE {_SHINGLE_CTES}, {_JACCARD_CTES},
    hashes AS (SELECT doc_id, {md5_int_sql('shingle')} % {MINHASH_P} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM hashes GROUP BY doc_id),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
      WHERE j.jaccard >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(s, t) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
    ){extra}
    {final}
    """


@register("dedup_duplicate_clusters", _clusters_oracle())
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH pairs (jaccard >= 0.5) closed
    under transitivity by the large-star/small-star components engine
    (dedup/components.py) — (doc_id, cluster_id = min doc in component),
    the keep-one-per-cluster form curation consumes. The oracle computes the
    same closure with a recursive CTE."""
    from sri_spark.dedup.components import connected_components

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment",
    f"""
    WITH {_SHINGLE_CTES},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1)
    SELECT doc_a, doc_b,
           round(n_inter / least(sa.ns, sb.ns), 6) AS containment
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc_id
    JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE n_inter / least(sa.ns, sb.ns) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment |A∩B|/min(|A|,|B|) >= 0.8 — the asymmetric
    quote/subset detector Jaccard misses on unequal-length pairs (Broder's
    containment measure). Reuses the Jaccard plan's intermediates: one
    persisted shingle set, shared-shingle intersection join, size joins."""
    from sri_spark.dedup.jaccard import containment_pairs_from_shingles
    from sri_spark.dedup.shingles import shingle_hashes_df
    from sri_spark.operators.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    sh = scoped_persist(shingle_hashes_df(docs, "text", "doc_id", 3))
    return containment_pairs_from_shingles(
        sh, threshold=CONTAINMENT_THRESHOLD
    )


@register(
    "text_novelty_vs_corpus",
    f"""
    WITH {_SHINGLE_CTES},
    first_seen AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 / count(*), 6) AS novelty
    FROM sh JOIN first_seen f USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def text_novelty_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's shingles first seen in
    THAT doc (ingestion order = doc_id). The curve of this metric over a
    crawl is the dedup-ROI report — when marginal novelty collapses, new
    data is mostly repeats. Two hash aggregates over the hashed-shingle set
    (first-seen owner, then per-doc rollup) joined on the 8-byte shingle
    hash; strings never shuffle."""
    from sri_spark.dedup.shingles import shingle_hashes_df
    from sri_spark.operators.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    sh = scoped_persist(shingle_hashes_df(docs, "text", "doc_id", 3))
    first_seen = sh.groupBy("shingle_h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first_seen, "shingle_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel) / F.count("*"), 6).alias("novelty"),
        )
    )


_E2E_EXTRA = """,
    clusters AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
    assigned AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    )"""

_E2E_FINAL = """
    SELECT doc_id, cluster_id,
           (doc_id = cluster_id) AS keep,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM assigned"""


@register("dedup_corpus_end_to_end", _clusters_oracle(_E2E_EXTRA, _E2E_FINAL))
def dedup_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline composed end to end — the actual corpus-dedup
    deliverable, not just its stages: shingle -> MinHash signatures -> LSH
    banding -> candidate verification (jaccard >= 0.5) -> large-star/
    small-star connected components -> a keep/drop decision for EVERY
    document (singletons keep themselves; clusters keep min doc_id).

    Scale composition: each stage is the already-verified scale-safe plan
    (8-byte shingle shuffles, banded candidates, signature-fixpoint
    components); the final left join assigns cluster ids corpus-wide and
    the size window partitions by cluster — per-cluster sorts, no global
    ordering anywhere."""
    from sri_spark.dedup.components import connected_components
    from sri_spark.dedup.minhash import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    clusters = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    assigned = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
    )


_EST_MATCHES = " + ".join(f"CAST(a.m{k} = b.m{k} AS INT)" for k in range(16))

_EST_EXTRA = f""",
    est AS (
      SELECT c.doc_a, c.doc_b,
             ({_EST_MATCHES}) / 16.0 AS est_j,
             coalesce(j.jaccard, 0) AS exact_j
      FROM cand c
      JOIN sig a ON c.doc_a = a.doc_id
      JOIN sig b ON c.doc_b = b.doc_id
      LEFT JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    )"""

_EST_FINAL = """
    SELECT count(*) AS n_pairs,
           round(avg(abs(est_j - exact_j)), 6) AS mean_abs_err,
           round(max(abs(est_j - exact_j)), 6) AS max_abs_err
    FROM est"""


@register("dedup_minhash_estimate_error", _clusters_oracle(_EST_EXTRA, _EST_FINAL))
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report: over the LSH candidate pairs, compare the
    MinHash Jaccard ESTIMATE (fraction of agreeing signature coordinates;
    unbiased, std = sqrt(J(1-J)/16) ~= 0.125 at J=0.5 for 16 permutations)
    against the exact shingle Jaccard. The dedup analogue of the HLL /
    quantile accuracy contracts: it quantifies what the 16-perm signature
    buys before anyone widens it. The estimate side is candidate-restricted;
    the exact side reuses the shared-shingle baseline join (same cost class
    as dedup_ngram_jaccard — this is a diagnostic you run on a sample, and
    a scale deployment verifies candidates only, as minhash_lsh_pairs
    does)."""
    from sri_spark.dedup.minhash import (
        _band_buckets,
        minhash_signatures_from_shingles,
    )
    from sri_spark.dedup.shingles import shingle_hashes_df
    from sri_spark.operators.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    sh = scoped_persist(shingle_hashes_df(docs, "text", "doc_id", 3))
    sig = scoped_persist(
        minhash_signatures_from_shingles(sh, with_size=True)
    )
    buckets = _band_buckets(sig, "doc_id")
    cand = (
        buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(
            buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{k}").alias(f"a{k}") for k in range(16)]
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{k}").alias(f"b{k}") for k in range(16)]
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0) for k in range(16)
    )
    exact = jaccard_pairs_from_shingles(sh, threshold=0.0)
    est = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (matches / F.lit(16.0)).alias("est_j"))
        .join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_j",
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("exact_j"),
        )
    )
    ae = F.abs(F.col("est_j") - F.col("exact_j"))
    return est.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(ae), 6).alias("mean_abs_err"),
        F.round(F.max(ae), 6).alias("max_abs_err"),
    )


@register(
    "corpus_source_overlap",
    f"""
    WITH {_SHINGLE_CTES},
    src_sh AS (
      SELECT DISTINCT d.source, s.shingle
      FROM sh s JOIN documents d USING (doc_id)
    ),
    sizes AS (SELECT source, count(*) AS ns FROM src_sh GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM src_sh a JOIN src_sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           round(n_shared / least(sa.ns, sb.ns), 6) AS overlap
    FROM inter
    JOIN sizes sa ON inter.source_a = sa.source
    JOIN sizes sb ON inter.source_b = sb.source
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct-shingle containment
    between every source pair — the corpus-level view the per-document
    decontamination check (corpus_decontaminate) rolls up to. Distinct
    (source, shingle) first, so the shingle self-join is bounded by
    |sources|² per shingle (20 sources → ≤190 pairs per shared shingle)
    no matter how many documents repeat it; shuffles move 8-byte hashes +
    source ids."""
    from sri_spark.dedup.shingles import shingle_hashes_df
    from sri_spark.operators.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # shingle keyed by SOURCE directly — the per-doc grain never surfaces
    # in this query, so the old shingles⋈docs join on doc_id (re-attaching
    # source to every shingle row) was pure overhead; shingle_hashes_df's
    # per-row dedup plus the cross-row distinct below yield the identical
    # distinct (source, shingle_h) set (r13)
    sh = shingle_hashes_df(docs.select("source", "text"), "text", "source", 3)
    src_sh = scoped_persist(
        sh.select("source", "shingle_h").distinct()
    )
    sizes = src_sh.groupBy("source").agg(F.count("*").alias("ns"))
    a = src_sh.select(F.col("source").alias("source_a"), "shingle_h")
    b = src_sh.select(F.col("source").alias("source_b"), "shingle_h")
    inter = (
        a.join(b, "shingle_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("ns").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("ns").alias("nb"))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("na", "nb"), 6).alias("overlap"),
        )
    )


_SAVINGS_FP = """list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(
                   list_slice(
                     list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                                 x -> x != ''),
                     1, 16),
                   t -> (('0x' || substr(md5(t), 1, 15))::BIGINT) % 1000003)),
               (a, b) -> (a * 131 + b) % 1000000007
             )"""

_SAVINGS_ORACLE = f"""
WITH fp AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x != ''))::BIGINT AS n_tokens,
         row_number() OVER (PARTITION BY {_SAVINGS_FP} ORDER BY doc_id) AS rk
  FROM documents
)
SELECT count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN rk = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       CAST(sum(CASE WHEN rk > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tokens_dropped,
       round(sum(CASE WHEN rk > 1 THEN n_tokens ELSE 0 END)
             / sum(n_tokens), 6) AS savings_ratio
FROM fp
"""


@register("dedup_savings_report", _SAVINGS_ORACLE)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI in TOKENS (the unit the training budget is priced in):
    corpus totals vs the tokens kept after fingerprint-keeper dedup — the
    before/after accounting every dedup run should publish. One window
    over the fingerprint blocks + one aggregate."""
    from sri_spark.text.analysis import doc_fingerprint, tokens_col

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(
        doc_fingerprint(F.coalesce(F.col("text"), F.lit("")), prefix=16)
    ).orderBy("doc_id")
    fp = docs.select(
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        F.row_number().over(w).alias("rk"),
    )
    dropped = F.when(F.col("rk") > 1, F.col("n_tokens")).otherwise(0)
    kept = F.when(F.col("rk") == 1, F.col("n_tokens")).otherwise(0)
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum(kept).cast("long").alias("tokens_kept"),
        F.sum(dropped).cast("long").alias("tokens_dropped"),
        F.round(F.sum(dropped) / F.sum("n_tokens"), 6).alias("savings_ratio"),
    )


_HIST_EXTRA = """,
    clusters AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
    assigned AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    ),
    sizes2 AS (SELECT cluster_id, count(*) AS cluster_size FROM assigned GROUP BY 1)"""

_HIST_FINAL = """
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes2 GROUP BY cluster_size"""


@register("dedup_cluster_size_histogram", _clusters_oracle(_HIST_EXTRA, _HIST_FINAL))
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution (singletons included) — the
    shape every dedup run reports: a heavy tail here means boilerplate
    families, a spike at 2 means mirrored pages. Two aggregates on top of
    the end-to-end cluster assignment."""
    from sri_spark.dedup.components import connected_components
    from sri_spark.dedup.minhash import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    clusters = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    assigned = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"))
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy(F.col("cluster_size").cast("long").alias("cluster_size"))
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Span-grain exact substring dedup (Lee et al. 2022-style, relational)

_SPAN_K = 8

_SPAN_CTES = f"""
toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, source, t,
         unnest(generate_series(0, CAST(ceil(len(t) / {_SPAN_K}.0) AS BIGINT) - 1)) AS i
  FROM toks WHERE len(t) > 0
),
spans AS (
  SELECT doc_id, source, i AS span_idx,
         array_to_string(list_slice(t, i * {_SPAN_K} + 1, i * {_SPAN_K} + {_SPAN_K}), ' ') AS span,
         len(list_slice(t, i * {_SPAN_K} + 1, i * {_SPAN_K} + {_SPAN_K})) AS span_tokens
  FROM idx
)"""


@register(
    "dedup_span_exact",
    f"""
    WITH {_SPAN_CTES},
    ranked AS (
      SELECT source, span_tokens,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
      FROM spans
    )
    SELECT source,
           count(*) AS total_spans,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
           CAST(sum(CASE WHEN rn > 1 THEN span_tokens ELSE 0 END) AS BIGINT)
               AS tokens_removed,
           round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 100.0 / count(*), 4)
               AS pct_dup
    FROM ranked GROUP BY source
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (span-grain) dedup report per source: cut every
    document into 8-token windows, keep the globally-first occurrence of
    each window, and count what the removal saves. This is the relational
    re-expression of Lee et al. 2022's repeated-substring removal (see
    sri_spark/dedup/spans.py for the 100 TB shape: one hash shuffle on the
    span key, narrow everywhere else)."""
    from sri_spark.dedup.spans import explode_spans, mark_duplicate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    marked = mark_duplicate_spans(explode_spans(docs, k=_SPAN_K))
    dup = F.when(F.col("is_dup"), 1).otherwise(0)
    return marked.groupBy("source").agg(
        F.count("*").alias("total_spans"),
        F.sum(dup).cast("long").alias("dup_spans"),
        F.sum(F.when(F.col("is_dup"), F.col("span_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_removed"),
        F.round(F.sum(dup) * 100.0 / F.count("*"), 4).alias("pct_dup"),
    )


@register(
    "dedup_span_hot",
    f"""
    WITH {_SPAN_CTES}
    SELECT span,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM spans
    GROUP BY span HAVING count(*) > 1
    ORDER BY n_occ DESC, span LIMIT 15
    """,
)
def dedup_span_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top repeated spans — the boilerplate leaderboard a corpus audit
    prints before committing to substring dedup (license headers and
    templated chrome dominate real corpora). Aggregate + top-k with a
    total tie-broken order (TakeOrderedAndProject, no global sort)."""
    from sri_spark.dedup.spans import explode_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return (
        explode_spans(docs, k=_SPAN_K)
        .groupBy("span")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") > 1)
        .orderBy(F.desc("n_occ"), "span")
        .limit(15)
    )


@register(
    "dedup_span_rebuild",
    f"""
    WITH {_SPAN_CTES},
    ranked AS (
      SELECT doc_id, source, span_tokens,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
      FROM spans
    ),
    kept AS (SELECT doc_id, source, span_tokens FROM ranked WHERE rn = 1)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_kept,
           CAST(sum(span_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
    """,
)
def dedup_span_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild half of span dedup (dedup/spans.py::dedup_spans): after
    dropping every non-first span occurrence, how many documents still
    contain text and how many tokens survive, per source. A document made
    entirely of boilerplate vanishes here — the quantity a curation run
    budgets against. Same single span-key shuffle as dedup_span_exact plus
    the bounded per-document regroup."""
    from sri_spark.dedup.spans import dedup_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    rebuilt = dedup_spans(docs, k=_SPAN_K, hash_key=False)
    return rebuilt.groupBy("source").agg(
        F.countDistinct("doc_id").alias("docs_kept"),
        F.sum("kept_tokens").cast("long").alias("tokens_kept"),
    )
