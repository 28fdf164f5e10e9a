"""Span-grain dedup (dedup/spans.py) and sketch/layout queries
(plans/sketch_queries.py): semantics, edge cases, and plan shapes."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sri_spark.dedup.spans import (
    SPAN_TOKENS,
    dedup_spans,
    explode_spans,
    mark_duplicate_spans,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a", "one two three four five six seven eight nine ten"),
        (2, "a", "one two three four five six seven eight different tail"),
        (3, "b", ""),
        (4, "b", "   "),
        (5, "b", "solo"),
        (6, "a", "one two three four five six seven eight nine ten"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def test_explode_spans_windows_and_last_partial(spark, docs):
    out = explode_spans(docs, k=8).orderBy("doc_id", "span_idx").collect()
    d1 = [r for r in out if r.doc_id == 1]
    assert [r.span_idx for r in d1] == [0, 1]
    assert d1[0].span == "one two three four five six seven eight"
    assert d1[1].span == "nine ten" and d1[1].span_tokens == 2
    # empty / whitespace-only docs contribute no spans
    assert not [r for r in out if r.doc_id in (3, 4)]
    solo = [r for r in out if r.doc_id == 5]
    assert len(solo) == 1 and solo[0].span == "solo" and solo[0].span_tokens == 1


def test_mark_duplicates_first_occurrence_wins(spark, docs):
    marked = mark_duplicate_spans(explode_spans(docs, k=8))
    dup = {(r.doc_id, r.span_idx) for r in marked.filter("is_dup").collect()}
    # doc 6 repeats doc 1 exactly; doc 2 shares only the first window
    assert dup == {(2, 0), (6, 0), (6, 1)}


def test_hash_key_variant_matches_text_key(spark, docs):
    spans = explode_spans(docs, k=8)
    a = {
        (r.doc_id, r.span_idx, r.occurrence)
        for r in mark_duplicate_spans(spans).collect()
    }
    b = {
        (r.doc_id, r.span_idx, r.occurrence)
        for r in mark_duplicate_spans(spans, hash_key=True).collect()
    }
    assert a == b


def test_dedup_spans_rebuilds_text_in_order(spark, docs):
    out = {r.doc_id: r for r in dedup_spans(docs, k=8, hash_key=False).collect()}
    # winner doc keeps full text, loser keeps only its novel tail
    assert out[1].text == "one two three four five six seven eight nine ten"
    assert out[2].text == "different tail"
    assert 6 not in out  # fully-duplicate doc vanishes
    assert out[5].text == "solo" and out[5].kept_tokens == 1
    assert out[1].kept_tokens == 10


def test_default_span_width_used_by_catalog():
    assert SPAN_TOKENS == 8


def test_span_shuffle_is_single_exchange(spark, docs):
    plan = mark_duplicate_spans(explode_spans(docs))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # only the span-key hash shuffle


def test_cms_heavy_hitters_properties(spark, sf_dir):
    from sri_spark.plans.sketch_queries import agg_cms_heavy_hitters

    rows = agg_cms_heavy_hitters(spark, sf_dir).collect()
    assert 0 < len(rows) <= 15
    assert all(r.never_underestimates for r in rows)
    assert all(r.cms_est >= r.exact_cnt for r in rows)
    # sorted by exact count desc
    cnts = [r.exact_cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_bitmap_distinct_matches_exact(spark, sf_dir):
    from sri_spark.plans.sketch_queries import events_bitmap_exact_distinct
    from sri_spark.sources.testdata import load_table

    got = {
        r.event_type: r.n_users
        for r in events_bitmap_exact_distinct(spark, sf_dir).collect()
    }
    want = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_zorder_prunes_more_than_linear(spark, sf_dir):
    from sri_spark.plans.sketch_queries import layout_zorder_pruning

    rows = {r.layout: r for r in layout_zorder_pruning(spark, sf_dir).collect()}
    assert rows["linear"].rows_matched == rows["zorder"].rows_matched
    assert rows["zorder"].files_touched <= rows["linear"].files_touched


def test_zorder_interleave_bit_exact(spark):
    from sri_spark.plans.sketch_queries import _interleave

    df = spark.createDataFrame([(3, 5)], ["x", "y"]).select(
        _interleave(F.col("x").cast("long"), F.col("y").cast("long")).alias("z")
    )
    # x=0b011 -> even bits 0,2; y=0b101 -> odd bits 1,5: z=0b100111 = 39
    assert df.collect()[0].z == 39


def test_bloom_prefilter_properties(spark, sf_dir):
    from sri_spark.plans.sketch_queries import BLOOM_K, join_bloom_prefilter

    r = join_bloom_prefilter(spark, sf_dir).collect()[0]
    # a Bloom filter never drops a true match, may pass false positives
    assert r.n_pass_bloom >= r.n_true_match
    assert r.n_false_pos == r.n_pass_bloom - r.n_true_match
    assert r.bits_set <= BLOOM_K * r.n_dim_keys
    assert r.n_pass_bloom <= r.n_orders


def test_perplexity_filter_buckets(spark, sf_dir):
    from sri_spark.plans.lm_queries import text_perplexity_filter

    rows = text_perplexity_filter(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.bucket] = r
    for src, buckets in by_src.items():
        assert set(buckets) == {"head", "middle", "tail"}
        # head = lowest perplexity, tail = highest
        assert buckets["head"].max_ppl <= buckets["middle"].min_ppl
        assert buckets["middle"].max_ppl <= buckets["tail"].min_ppl
        n = sum(b.n_docs for b in buckets.values())
        # ntile gives the remainder to the earliest tiles, so head can
        # exceed tail by at most its 3 tiles' worth of +1s
        assert buckets["head"].n_docs >= buckets["tail"].n_docs
        assert buckets["head"].n_docs - buckets["tail"].n_docs <= 3
        assert n > 0


# --- randomized-construction invariants (hypothesis) -------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
    probes=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30
    ),
)
def test_bloom_construction_never_false_negative(spark, keys, probes):
    """Any key inserted into the relational Bloom filter must pass the
    k-hash membership test — for arbitrary key sets, not just the fixture."""
    from sri_spark.plans.sketch_queries import BLOOM_K, BLOOM_M, _bloom_pos

    dim = spark.createDataFrame([(k,) for k in set(keys)], "custkey long")
    seeds = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    bits = (
        dim.select("custkey", F.explode(seeds).alias("j"))
        .select(_bloom_pos(F.col("j"), F.col("custkey")).alias("p"))
        .distinct()
    )
    probe_df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probes)], "rid long, custkey long"
    )
    hits = (
        probe_df.select("rid", "custkey", F.explode(seeds).alias("j"))
        .select("rid", "custkey", _bloom_pos(F.col("j"), F.col("custkey")).alias("p"))
        .join(bits, "p")
        .groupBy("rid", "custkey")
        .agg(F.count("*").alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_K)
    )
    passed = {r.custkey for r in hits.collect()}
    inserted = set(keys)
    for p in probes:
        if p in inserted:
            assert p in passed  # a Bloom filter has NO false negatives


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=120)
)
def test_cms_construction_never_underestimates(spark, vals):
    """For arbitrary key multisets, every key's CMS estimate bounds its
    true count from above (min over depth rows of bucket counts)."""
    from sri_spark.plans.sketch_queries import CMS_DEPTH, _cms_bucket

    df = spark.createDataFrame([(v,) for v in vals], "user_id long")
    seeds = F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    sketch = (
        df.select("user_id", F.explode(seeds).alias("j"))
        .select("j", _cms_bucket(F.col("j"), F.col("user_id")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    est = (
        df.distinct()
        .select("user_id", F.explode(seeds).alias("j"))
        .withColumn("bucket", _cms_bucket(F.col("j"), F.col("user_id")))
        .join(sketch, ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    got = {r.user_id: r.cms_est for r in est.collect()}
    from collections import Counter

    truth = Counter(vals)
    assert set(got) == set(truth)
    for k, c in truth.items():
        assert got[k] >= c
