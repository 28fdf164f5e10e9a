"""Decorrelation plan-shape contracts (round-9 verdict stretch item 8).

The queries in sri_spark/plans/decorrelation_queries.py are written as
correlated SQL on purpose — their scale-safety rests on Catalyst's
decorrelation rewrites. These tests pin the rewritten physical form: the
EXISTS must become a SEMI join, the NOT EXISTS an ANTI join, the
correlated scalar a per-key aggregate joined on its key — and none of
them may fall back to a data-sized nested loop (a naive per-outer-row
subquery execution is O(n*m) at 100 TB). Value correctness is the DuckDB
oracle's job (same correlated SQL on both engines).
"""

from __future__ import annotations

import re

from sri_spark.plans import all_queries
from tests.advisor import unbounded_nested_loops


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan, plan
    assert unbounded_nested_loops(plan) == [], plan
    # the lateness predicate is a join condition, not a post-join filter
    # over a cartesian expansion
    assert "CartesianProduct" not in plan


def test_q17_scalar_becomes_keyed_aggregate_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q17_small_quantity_revenue")
    # RewriteCorrelatedScalarSubquery: avg-per-part materializes as an
    # aggregate KEYED on the correlation column, never a per-row subplan
    assert re.search(r"Aggregate\(keys=\[l_partkey", plan), plan
    assert unbounded_nested_loops(plan) == [], plan
    assert "CartesianProduct" not in plan


def test_q22_not_exists_becomes_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q22_dormant_accounts")
    assert "LeftAnti" in plan, plan
    assert unbounded_nested_loops(plan) == [], plan
    assert "CartesianProduct" not in plan


def test_q22_date_filter_pushed_below_anti_join(spark, sf_dir):
    """The dormancy cutoff must prune the orders scan BEFORE the anti
    join builds — at 100 TB the date predicate is the difference between
    hashing one year of orders and hashing all of them."""
    df = all_queries()["tpch_q22_dormant_accounts"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    join_pos = optimized.find("Join LeftAnti")
    filt = re.search(r"Filter .*o_orderdate.*2000-01-01", optimized)
    assert join_pos >= 0 and filt, optimized
    assert filt.start() > join_pos, optimized  # filter sits under the join
