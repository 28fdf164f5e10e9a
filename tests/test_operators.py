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
    """Every node's component is the smallest node id reachable from it,
    checked against a Python union-find on a graph of stars, cycles,
    reversed edges, duplicate edges and self-loops."""
    from sri_spark.dedup.components import connected_components

    pairs = [
        (5, 1), (5, 2), (5, 3), (5, 4),          # star centred on 5
        (30, 31), (31, 32), (32, 33), (33, 30),  # 4-cycle
        (47, 46), (46, 45), (45, 44), (44, 40),  # reversed chain
        (60, 61), (61, 60), (60, 61),            # duplicate edges
        (70, 70), (70, 71),                      # self-loop
        (80, 90), (90, 85), (85, 81),            # labels out of order
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == expected


def test_star_components_long_chain_within_log_rounds(spark):
    """Adversarial diameter: a 64-node chain. Min-label propagation would
    need ~64 rounds; large-star/small-star converges within its 25-round
    bound. Every round cuts the lineage, so the result's optimized plan
    stays small however many rounds ran."""
    from sri_spark.dedup.components import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    comp = connected_components(edges)
    assert len(comp._jdf.queryExecution().optimizedPlan().toString()) < 20_000
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {i: 0 for i in range(n)}


def test_star_components_nonconvergence_raises(spark, monkeypatch):
    import pytest

    from sri_spark.dedup import components

    monkeypatch.setattr(components, "_MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        components.connected_components(edges)


# runs in its own interpreter: a plain local[4] session with Spark's
# default 1 GiB driver and ANSI on, the way the catalog's queries are run
_PLAIN_SESSION_CHAINS = """
import json, sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
from sri_spark.dedup.components import connected_components

spark = SparkSession.builder.master("local[4]").getOrCreate()
out = {}
for n in (7, 30):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out[n] = sorted(
        (r["node"], r["component"]) for r in connected_components(edges).collect()
    )
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_chains_finish_in_plain_session():
    """A 7-node chain (the length that ran the old min-label engine out of
    a 1 GiB driver) and a 30-node chain (past that engine's old 20-round
    bound) each come back as one component, in a plain session."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _PLAIN_SESSION_CHAINS],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    for n in (7, 30):
        assert got[str(n)] == [[i, 0] for i in range(n)]
