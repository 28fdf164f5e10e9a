"""Unit tests for operator internals not covered by the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from sri_spark.operators.keys import add_surrogate_key, add_surrogate_key_scalable
from sri_spark.sources.testdata import load_table


def _range_ordered(df, key: str):
    """The partition-ordered layout add_surrogate_key_scalable ranks."""
    return df.repartitionByRange(F.col(key)).sortWithinPartitions(key)


def test_scalable_surrogate_key_dense_and_ordered(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    keyed = add_surrogate_key_scalable(_range_ordered(part, "p_partkey"), "sk")
    rows = keyed.select("sk", "p_partkey").collect()
    n = part.count()
    sks = sorted(r["sk"] for r in rows)
    assert sks == list(range(1, n + 1))  # dense 1..N
    by_sk = sorted(rows, key=lambda r: r["sk"])
    keys = [r["p_partkey"] for r in by_sk]
    assert keys == sorted(keys)  # order follows the declared ordering key


def test_scalable_matches_global_row_number(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    a = {
        r["p_partkey"]: r["sk"]
        for r in add_surrogate_key(part, "sk", [F.col("p_partkey")]).collect()
    }
    b = {
        r["p_partkey"]: r["sk"]
        for r in add_surrogate_key_scalable(_range_ordered(part, "p_partkey"), "sk").collect()
    }
    assert a == b


def test_salted_join_equals_plain_join(spark, sf_dir):
    from sri_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    plain = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).collect()
    salted = salted_join(
        li, orders, li["l_orderkey"] == orders["o_orderkey"], n_salt=4
    ).collect()

    key = lambda r: (r["l_orderkey"], r["l_quantity"], r["o_totalprice"])
    assert sorted(map(key, plain)) == sorted(map(key, salted))
    assert len(salted) == len(plain)


def test_connected_components_chains_and_cliques(spark):
    from sri_spark.dedup.components import connected_components

    # chain 1-2-3-4 (diameter > 1), clique {10,11,12}, pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_components_match_min_label(spark):
    from sri_spark.dedup.components import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "doc_a long, doc_b long",
    )
    star = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    assert star == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_components_long_chain_within_log_rounds(spark):
    """Adversarial diameter: a 64-node chain. Min-label propagation needs
    ~64 rounds (more than its default bound); large-star/small-star must
    converge within its 25-round bound — the reason the variant exists."""
    from sri_spark.dedup.components import connected_components_star

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges, max_iter=25).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_star_components_nonconvergence_raises(spark):
    import pytest

    from sri_spark.dedup.components import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(edges, max_iter=1)
