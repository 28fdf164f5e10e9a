"""Plan-advisor rules fire on known-bad plan shapes and stay quiet on the
flagship's known-good plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from sri_spark.plans import all_queries
from tests.advisor import advise, unbounded_nested_loops


def _rules(findings):
    return {f["rule"] for f in findings}


def test_flagship_plan_is_clean(spark, sf_dir):
    df = all_queries()["flagship_star_rollup"](spark, sf_dir)
    rules = _rules(advise(df))
    assert "cartesian-product" not in rules
    assert "row-at-a-time-python" not in rules
    assert "single-partition-exchange" not in rules


def test_detects_cartesian_product(spark, sf_dir):
    a = spark.read.parquet(f"{sf_dir}/nation.parquet")
    b = spark.read.parquet(f"{sf_dir}/region.parquet")
    bad = a.crossJoin(b)
    # small sides may plan as BroadcastNestedLoopJoin instead of a true
    # CartesianProduct — either way the all-pairs hazard must be flagged
    assert _rules(advise(bad)) & {"cartesian-product", "nested-loop-join"}


def test_data_sized_nested_loop_is_unbounded(spark, sf_dir):
    """A crossJoin of two data-sized frames must be classified unbounded —
    the classifier only forgives 1-row global-aggregate build sides."""
    a = spark.read.parquet(f"{sf_dir}/nation.parquet")
    b = spark.read.parquet(f"{sf_dir}/region.parquet")
    plan = a.crossJoin(b)._jdf.queryExecution().executedPlan().toString()
    if "BroadcastNestedLoopJoin" in plan:
        assert unbounded_nested_loops(plan), plan
    else:
        assert "CartesianProduct" in plan, plan


def test_scalar_aggregate_nested_loop_is_bounded(spark, sf_dir):
    """The round-7 scalar-purge pattern — crossJoin with a keys=[] global
    aggregate — plans as a BNLJ whose build side is guaranteed 1 row; the
    classifier must allow it (both build directions)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.agg(F.count("*").alias("__n"))
    for df in (docs.crossJoin(n), n.crossJoin(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert not unbounded_nested_loops(plan), plan
        rules = _rules(advise(df))
        assert "nested-loop-join" not in rules
        assert "bounded-scalar-nested-loop" in rules


def test_detects_global_window(spark, sf_dir):
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.orderBy("o_orderkey")  # no partitionBy: global sort
    bad = orders.select("o_orderkey", F.row_number().over(w).alias("rn"))
    assert "single-partition-exchange" in _rules(advise(bad))


def test_detects_forced_broadcast_of_growing_table(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    bad = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    assert "broadcast-of-growing-table" in _rules(advise(bad))


def test_detects_row_at_a_time_udf(spark, sf_dir):
    from pyspark.sql.types import DoubleType

    slow = F.udf(lambda x: x * 1.1, DoubleType())
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bad = orders.select(slow(F.col("o_totalprice")).alias("x"))
    assert "row-at-a-time-python" in _rules(advise(bad))


def test_ks_query_flags_its_bounded_window_honestly(spark, sf_dir):
    """stats_ks_two_sample DOES have a single-partition window — bounded
    at 100 bins by construction. The advisor must surface it (it is the
    right question to ask), and the query's docstring is the answer."""
    df = all_queries()["stats_ks_two_sample"](spark, sf_dir)
    assert "single-partition-exchange" in _rules(advise(df))


def test_entire_catalog_has_no_fatal_plans(catalog_builds):
    """Catalog-wide gate: no registered query may plan a CartesianProduct
    or row-at-a-time Python UDF — the two hazard classes with no
    legitimate bounded-by-construction excuse. (Warn-level findings like
    1-row nested-loop broadcasts and bounded single-partition windows are
    allowed; their queries document why.) Plans come from the shared
    catalog_builds fixture — built once for all three catalog sweeps."""
    from tests.advisor import advise_plan

    fatal = {}
    for name, rec in catalog_builds.items():
        if rec["error"]:
            fatal[name] = f"plan build failed: {rec['error']}"
            continue
        bad = [
            f["rule"]
            for f in advise_plan(rec["plan"])
            if f["severity"] == "fatal"
        ]
        if bad:
            fatal[name] = bad
    assert not fatal, fatal


# ---------------------------------------------------------------------------
# unbounded_nested_loops parser semantics, pinned on synthetic plan trees —
# the classifier now backs every plan-shape guard, so a parser bug that
# silently allowed a data-sized nested loop would disarm all of them.
# ---------------------------------------------------------------------------

_BENIGN_BUILD_RIGHT = """AdaptiveSparkPlan isFinalPlan=false
+- Project [doc_id#1L, n#2L]
   +- BroadcastNestedLoopJoin BuildRight, Cross
      :- FileScan parquet [doc_id#1L]
      +- BroadcastExchange IdentityBroadcastMode, [plan_id=7]
         +- HashAggregate(keys=[], functions=[count(1)], output=[n#2L])
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
               +- HashAggregate(keys=[], functions=[partial_count(1)])
                  +- FileScan parquet []"""

_BENIGN_BUILD_LEFT = """*(3) Project [n#2L, doc_id#1L]
+- BroadcastNestedLoopJoin BuildLeft, Cross
   :- BroadcastExchange IdentityBroadcastMode, [plan_id=7]
   :  +- *(2) HashAggregate(keys=[], functions=[count(1)], output=[n#2L])
   :     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
   :        +- *(1) HashAggregate(keys=[], functions=[partial_count(1)])
   :           +- FileScan parquet []
   +- FileScan parquet [doc_id#1L]"""

_DATA_SIZED = """Project [a#1L, b#2L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=3]
      +- FileScan parquet [b#2L]"""

_KEYED_AGG_BUILD = """Project [a#1L, n#3L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
      +- HashAggregate(keys=[k#2L], functions=[count(1)], output=[n#3L])
         +- FileScan parquet [k#2L]"""

_NESTED_MIXED = """Project [x#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- BroadcastNestedLoopJoin BuildRight, Cross
   :  :- HashAggregate(keys=[], functions=[count(1)], output=[n1#2L])
   :  :  +- FileScan parquet []
   :  +- BroadcastExchange IdentityBroadcastMode, [plan_id=4]
   :     +- HashAggregate(keys=[], functions=[count(1)], output=[n2#3L])
   :        +- FileScan parquet []
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=8]
      +- FileScan parquet [y#4L]"""


def test_parser_allows_benign_both_build_sides():
    assert unbounded_nested_loops(_BENIGN_BUILD_RIGHT) == []
    assert unbounded_nested_loops(_BENIGN_BUILD_LEFT) == []


def test_parser_flags_data_sized_build():
    assert len(unbounded_nested_loops(_DATA_SIZED)) == 1


def test_parser_rejects_keyed_aggregate_build():
    # a keys=[k] aggregate is data-sized (one row PER KEY) — only the
    # keys=[] global form is provably 1 row
    assert len(unbounded_nested_loops(_KEYED_AGG_BUILD)) == 1


def test_parser_judges_each_join_independently():
    # inner BNLJ benign (keys=[] agg build), outer unbounded (raw scan
    # build) — the nested benign join must not vouch for the outer one
    off = unbounded_nested_loops(_NESTED_MIXED)
    assert len(off) == 1, off


def test_parser_fails_closed_on_malformed_tree():
    # a BNLJ line whose children can't be located must be reported, not
    # silently allowed
    assert unbounded_nested_loops("BroadcastNestedLoopJoin BuildLeft, Cross")


# r8 ADVICE: a data-sized build that merely CONTAINS a scalar aggregate
# deeper in its tree (below a join, a Generate, …) used to pass because
# the old check searched the whole build subtree for keys=[]. The agg
# must now be the exchange's immediate row-bounded descendant.

_DEEP_AGG_UNDER_JOIN = """Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
      +- BroadcastNestedLoopJoin BuildRight, Cross
         :- FileScan parquet [b#2L]
         +- BroadcastExchange IdentityBroadcastMode, [plan_id=7]
            +- HashAggregate(keys=[], functions=[count(1)], output=[n#3L])
               +- FileScan parquet []"""

_GENERATE_OVER_AGG = """Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
      +- Generate explode(xs#4), false, [x#5L]
         +- HashAggregate(keys=[], functions=[collect_list(b#2L)], output=[xs#4])
            +- FileScan parquet [b#2L]"""

_PROJECT_OVER_AGG = """Project [a#1L, n#3L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
      +- Project [(n#2L * 2) AS n#3L]
         +- HashAggregate(keys=[], functions=[count(1)], output=[n#2L])
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
               +- HashAggregate(keys=[], functions=[partial_count(1)])
                  +- FileScan parquet []"""

_REUSED_EXCHANGE_BUILD = """Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- ReusedExchange [n#2L], BroadcastExchange IdentityBroadcastMode, [plan_id=9]"""


def test_parser_rejects_deep_agg_below_inner_join():
    # the OUTER join's build side is data-sized (FileScan x scalar = n
    # rows); the scalar agg two joins down must not vouch for it. The
    # inner join itself is benign, so exactly one offender.
    off = unbounded_nested_loops(_DEEP_AGG_UNDER_JOIN)
    assert len(off) == 1, off


def test_parser_rejects_generate_between_exchange_and_agg():
    # explode() over a 1-row collect_list is data-sized again — Generate
    # multiplies rows, so the chain to the aggregate is broken
    assert len(unbounded_nested_loops(_GENERATE_OVER_AGG)) == 1


def test_parser_allows_row_bounded_chain_to_agg():
    # a Project between the exchange and the global agg keeps the 1-row
    # guarantee and must stay benign
    assert unbounded_nested_loops(_PROJECT_OVER_AGG) == []


def test_parser_fails_closed_on_reused_exchange():
    # a ReusedExchange hides its subtree — not provable 1-row from this
    # parse, so it must be reported rather than trusted
    assert len(unbounded_nested_loops(_REUSED_EXCHANGE_BUILD)) == 1


# r9 ADVICE: the row-bounded chain used to be matched by str.startswith,
# so any operator sharing a listed prefix ("Sort" -> SortAggregate,
# SortMergeJoin) slipped into the chain. The classifier must match the
# EXACT operator token.

_PREFIX_SHARING_OP_IN_CHAIN = """Project [a#1L]
+- BroadcastNestedLoopJoin BuildRight, Cross
   :- FileScan parquet [a#1L]
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
      +- SortAggregate(keys=[k#2L], functions=[max(b#3L)], output=[m#4L])
         +- HashAggregate(keys=[], functions=[count(1)], output=[n#5L])
            +- FileScan parquet []"""


def test_parser_matches_exact_operator_token_not_prefix():
    # 'SortAggregate' shares the 'Sort' prefix but is NOT in the
    # row-bounded allowlist (keyed aggregates are judged by _GLOBAL_AGG,
    # never waved through as chain links) — prefix matching would descend
    # past it to the global agg below and vouch for the exchange.
    # Fail-closed: flag it.
    assert len(unbounded_nested_loops(_PREFIX_SHARING_OP_IN_CHAIN)) == 1
    # the genuine chain ops still pass by exact token
    from tests.advisor import _op_token

    assert _op_token("Sort [x#1L ASC NULLS FIRST], true, 0") == "Sort"
    assert _op_token("SortMergeJoin [a#1L], [b#2L], Inner") == "SortMergeJoin"
    assert _op_token("ColumnarToRow") == "ColumnarToRow"
