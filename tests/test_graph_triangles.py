"""`plans/graph_queries.py::_count_triangles` against a Python brute force
on hand-made oriented edge lists: the higher-order-function count must
find exactly the triples (a, b), (b, c), (a, c) a three-way self-join
finds."""

from __future__ import annotations

import itertools
import random

import pytest

from sri_spark.plans.graph_queries import _count_triangles


def _brute(edges: list[tuple[int, int]]) -> int:
    es = set(edges)
    return sum(
        1 for (a, b), (b2, c) in itertools.product(es, es) if b == b2 and (a, c) in es
    )


CASES = {
    "empty": [],
    "one_triangle": [(1, 2), (2, 3), (1, 3), (3, 4)],
    "oriented_k4": [(a, b) for a, b in itertools.combinations(range(4), 2)],
    "five_cycle": [(0, 1), (1, 2), (2, 3), (3, 4), (0, 4)],
}
WANT = {"empty": 0, "one_triangle": 1, "oriented_k4": 4, "five_cycle": 0}


@pytest.mark.parametrize("name", sorted(CASES))
def test_triangle_count_matches_brute_force(spark, name):
    edges = CASES[name]
    assert _brute(edges) == WANT[name]
    df = spark.createDataFrame(edges, "a long, b long")
    rows = _count_triangles(df).collect()
    assert [(r["n_edges"], r["n_triangles"]) for r in rows] == [(len(edges), WANT[name])]


def test_triangle_count_on_a_random_oriented_graph(spark):
    rnd = random.Random(11)
    edges = sorted({(a, b) for a, b in itertools.combinations(range(9), 2) if rnd.random() < 0.5})
    row = _count_triangles(spark.createDataFrame(edges, "a long, b long")).first()
    assert (row["n_edges"], row["n_triangles"]) == (len(edges), _brute(edges))
