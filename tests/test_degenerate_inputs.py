"""Degenerate-input behavior: empty corpora, single documents, null/short
text. At 100 TB these shapes appear constantly (an empty partition, a
filtered-away day, a null-text crawl record) — operators must return empty
or null-safe results, never throw."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sri_spark.dedup.exact import exact_dedup_groups
from sri_spark.dedup.jaccard import ngram_jaccard_pairs
from sri_spark.dedup.minhash import minhash_lsh_pairs
from sri_spark.dedup.simhash import simhash_df, simhash_near_pairs
from sri_spark.similarity.lsh import rp_lsh_near_pairs
from sri_spark.text.analysis import language_id, quality_score


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    return spark.createDataFrame(
        [
            (0, None),  # null text
            (1, ""),  # empty
            (2, "one"),  # below shingle width
            (3, "two words"),  # still below 3-gram width
            (4, "exactly three tokens"),  # one shingle
        ],
        "doc_id long, text string",
    )


PAIR_OPS = [
    ngram_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_pairs,
]


@pytest.mark.parametrize("op", PAIR_OPS, ids=lambda f: f.__name__)
def test_pair_ops_on_empty_corpus(empty_docs, op):
    assert op(empty_docs).count() == 0


@pytest.mark.parametrize("op", PAIR_OPS, ids=lambda f: f.__name__)
def test_pair_ops_on_degenerate_docs(degenerate_docs, op):
    # nothing shares content -> no pairs; and no null-text crash
    assert op(degenerate_docs).count() == 0


def test_exact_dedup_handles_null_and_empty_text(degenerate_docs):
    groups = exact_dedup_groups(degenerate_docs)
    # md5(null) is null -> its group key is null; no crash, and the four
    # distinct non-null texts plus the null each form singleton groups
    assert groups.count() == 5
    assert groups.filter(F.col("n_copies") != 1).count() == 0


def test_simhash_of_sub_width_docs(degenerate_docs):
    # simhash is token-based (width 1): only null/empty text drop out
    out = simhash_df(degenerate_docs)
    assert {r["doc_id"] for r in out.collect()} == {2, 3, 4}


def test_text_scores_null_safe(degenerate_docs):
    rows = degenerate_docs.select(
        "doc_id",
        language_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert len(rows) == 5  # no row lost, no exception


def test_lsh_near_pairs_empty_embeddings(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert rp_lsh_near_pairs(emb).count() == 0


def test_containment_on_empty_and_degenerate(empty_docs, degenerate_docs):
    from sri_spark.dedup.jaccard import containment_pairs_from_shingles
    from sri_spark.dedup.shingles import shingle_hashes_df

    for docs in (empty_docs, degenerate_docs):
        sh = shingle_hashes_df(docs, "text", "doc_id", 3)
        assert containment_pairs_from_shingles(sh).count() == 0


def test_pagerank_on_empty_edges(spark):
    from sri_spark.graph import pagerank

    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e, iterations=3).count() == 0


def test_export_shards_empty_frame(spark, tmp_path):
    from sri_spark.sources.export import write_training_shards

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = str(tmp_path / "empty_shards")
    write_training_shards(empty, out, id_col="doc_id", n_shards=2)
    # no shard dirs, but the read must not blow up on the _SUCCESS-only dir:
    # reading an empty json export yields an empty (schemaless) frame
    import glob as _glob

    assert _glob.glob(f"{out}/shard=*") == []


def test_span_ops_on_degenerate_docs(spark, degenerate_docs):
    from sri_spark.dedup.spans import dedup_spans, explode_spans

    spans = explode_spans(degenerate_docs)
    # null / empty / whitespace-only texts contribute no spans; short docs
    # window into a single (partial) span
    assert {r.doc_id for r in spans.collect()} == {2, 3, 4}
    out = dedup_spans(degenerate_docs)
    rebuilt = {r.doc_id: r.text for r in out.collect()}
    assert rebuilt == {2: "one", 3: "two words", 4: "exactly three tokens"}


def test_span_ops_on_empty_corpus(spark, empty_docs):
    from sri_spark.dedup.spans import dedup_spans, explode_spans

    assert explode_spans(empty_docs).count() == 0
    assert dedup_spans(empty_docs).count() == 0


def test_skyline_on_single_size(spark):
    from sri_spark.plans.sketch_queries import part_pareto_skyline  # noqa: F401
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    # direct check of the running-min formulation on a degenerate frontier:
    # all parts the same size -> exactly one skyline point
    df = spark.createDataFrame(
        [(5, 10.0), (5, 12.0), (5, 9.0)], "p_size int, p_retailprice double"
    )
    sz_min = F.min("p_retailprice").over(Window.partitionBy("p_size"))
    per_size = (
        df.select("p_size", "p_retailprice", sz_min.alias("m"))
        .groupBy("p_size")
        .agg(F.min("p_retailprice").alias("best_price"))
    )
    assert per_size.count() == 1


# --- zero-variance catalog inputs (round-4 verdict item 1) -----------------
# The catalog-wide sweep (test_degenerate_catalog_sweep.py) asserts "no
# crash" for every query; these two pin the EXPECTED OUTPUT on the exact
# inputs that used to ANSI-abort: all rows fold into bin 0 and the
# statistics stay defined.


def _constant_fixture(spark, tmp_path, table, df):
    out = tmp_path / "const_sf"
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return str(out)


def test_ks_constant_values_single_bin(spark, tmp_path):
    from sri_spark.plans.audit_queries import stats_ks_two_sample

    import datetime as dt

    ev = spark.createDataFrame(
        [
            (i, "view" if i % 2 else "purchase", 7.5,
             dt.datetime(2024, 1, 1, 12, 0, 0))
            for i in range(20)
        ],
        "event_id long, event_type string, value double, ts timestamp",
    )
    sf = _constant_fixture(spark, tmp_path, "events", ev)
    rows = stats_ks_two_sample(spark, sf).collect()
    # hi == lo: epsilon-floored width maps every value to bin 0; both
    # ECDFs complete immediately and the KS gap is exactly 0
    assert len(rows) == 1
    r = rows[0]
    assert r["bin"] == 0
    assert r["ecdf_a"] == 1.0 and r["ecdf_b"] == 1.0
    assert r["ks_diff"] == 0.0


def test_gini_uniform_revenue_is_zero(spark, tmp_path):
    import datetime as dt

    from sri_spark.plans.audit_queries import orders_revenue_gini_binned

    orders = spark.createDataFrame(
        [
            (i, i, 100.0, dt.date(2024, 1, 1 + i % 28))
            for i in range(30)
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate date",
    )
    sf = _constant_fixture(spark, tmp_path, "orders", orders)
    r = orders_revenue_gini_binned(spark, sf).collect()[0]
    # every customer earns the same revenue -> perfect equality: one
    # occupied bin, Gini exactly 0 (trapezoid rule: 1 - 1*(0+1) = 0)
    assert r["n_bins"] == 1
    assert r["n_customers"] == 30
    assert r["gini"] == 0.0


def test_km_survival_terminal_allchurn_bucket_hits_zero(spark, tmp_path):
    """Round-5 review finding: a fully-churned terminal bucket
    (d == n_risk) made Spark's log(0) -> NULL silently freeze survival
    while DuckDB's ln(0) RAISES. Both sides now special-case it to -inf
    -> exp -> exactly 0.0; this pins the Spark half and the cross-engine
    value on the bucket shape the fixtures never produce."""
    import datetime as dt

    import duckdb

    from sri_spark.plans.audit_queries import _KM_ORACLE, customers_survival_km

    base = dt.date(2020, 1, 1)
    rows = []
    for cust in range(5):  # staggered uncensored lifetimes 1..5 months
        rows.append((cust * 10 + 1, cust, 100.0, base))
        rows.append(
            (cust * 10 + 2, cust, 100.0, base + dt.timedelta(days=30 * (cust + 1)))
        )
    # horizon pusher: lifetime-0, censored — keeps everyone else
    # uncensored so the longest-lifetime bucket exhausts the risk set
    rows.append((99, 9, 100.0, base + dt.timedelta(days=400)))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate date"
    )
    sf = tmp_path / "km_sf"
    orders.coalesce(1).write.mode("overwrite").parquet(f"{sf}/orders.parquet")

    got = sorted(
        (r["lifetime_m"], r["survival"])
        for r in customers_survival_km(spark, str(sf)).collect()
    )
    assert got[-1][1] == 0.0  # terminal bucket: survival exactly zero
    assert [s for _, s in got] == sorted((s for _, s in got), reverse=True)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet/*.parquet')"
    )
    want = sorted((r[0], r[4]) for r in con.execute(_KM_ORACLE).fetchall())
    assert got == want
