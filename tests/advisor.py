"""Physical-plan advisor: the repo's 100 TB plan rules, executable.

The test suite's plan gate. `tests/test_plan_shapes.py` hard-asserts
these rules for known catalog queries; `tests/test_plan_advisor.py` runs
them over the whole catalog, and they work on any DataFrame:

    from tests.advisor import advise
    for f in advise(df):
        print(f["severity"], f["rule"], "—", f["detail"])

Each rule detects a plan shape that is survivable at fixture scale and
fatal at 100 TB. Findings are advice, not errors — a bounded-by-
construction single-partition window (e.g. stats_ks_two_sample's 100-bin
ECDF) is legitimate, and the corresponding finding documents exactly the
question a reviewer should ask of it.

Detection works on explain() text, so it needs no private APIs and sees
the SAME plan the engine runs (post-Catalyst, pre-AQE-finalization).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# base tables that grow with the data — a *forced* broadcast of any of
# these is the round-2 verdict's scale-killer class
SF_GROWING = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _plan_text(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString()


# ---------------------------------------------------------------------------
# Bounded-vs-unbounded nested-loop classifier (round-8 verdict item 1)
# ---------------------------------------------------------------------------
# The round-7 scalar purge moved driver-side `.count()` scalars into the
# lazy plan as 1-row global aggregates crossJoined onto the data frame.
# Catalyst plans that crossJoin as `BroadcastNestedLoopJoin ... Cross` with
# an `IdentityBroadcastMode` build side — a nested loop whose inner side is
# GUARANTEED one row (the build subtree is a keys=[] HashAggregate), so it
# is O(n), not O(n*m), and safe at any scale. Every other nested loop (two
# data-sized sides) is still the plan that dies at 100 TB. This classifier
# is the single policy both `advise()` and tests/test_plan_shapes.py apply.

# one 3-char tree-drawing unit of Spark's plan toString() indentation
_TREE_UNIT = re.compile(r"^(?::  |:- |\+- |   )*")
# a global (keys=[]) aggregate — produces exactly one row
_GLOBAL_AGG = re.compile(
    r"(?:HashAggregate|ObjectHashAggregate|SortAggregate)\(keys=\[\]"
)
# operators that can NEVER increase the row count of their single child —
# the only things allowed to sit between the broadcast exchange and the
# 1-row aggregate that proves the build side bounded. Anything else
# (joins, Generate/explode, Expand, Window, Union, raw scans) can multiply
# rows, so a scalar aggregate buried BELOW it proves nothing about the
# exchange's output size and the classifier fails closed. Matched by the
# EXACT operator token (text up to the first space or '('), never by
# prefix: "Sort" must not vouch for SortMergeJoin/SortAggregate
# (ADVICE r9 — prefix matching is fail-open in a fail-closed classifier).
_ROW_BOUNDED_OPS = frozenset(
    {
        "Project",
        "Filter",
        "ColumnarToRow",
        "RowToColumnar",
        "InputAdapter",
        "Coalesce",
        "Sort",
    }
)


def _op_token(body: str) -> str:
    """The physical operator's name: the body text up to the first space
    or '(' — 'Sort [x ASC], true, 0' -> 'Sort', 'SortMergeJoin(...' ->
    'SortMergeJoin'."""
    return re.split(r"[ (]", body, maxsplit=1)[0]


def _build_is_one_row(parsed: list[tuple[int, str]], build: int, end: int) -> bool:
    """True iff the build subtree parsed[build:end] is PROVABLY <=1 row:
    a Broadcast(QueryStage/Exchange) whose chain of single, row-bounded
    children reaches a keys=[] global aggregate with nothing in between
    that could multiply rows (ADVICE r8: a scalar agg merely *somewhere*
    in the subtree — e.g. below a join or a Generate — must not vouch
    for a data-sized exchange)."""

    def children_of(i: int) -> list[int]:
        d = parsed[i][0]
        out = []
        for j in range(i + 1, end):
            dj = parsed[j][0]
            if dj <= d:
                break
            if dj == d + 1:
                out.append(j)
        return out

    cur = build
    # unwrap the AQE stage wrapper down to the exchange itself
    if parsed[cur][1].startswith("BroadcastQueryStage"):
        kids = children_of(cur)
        if len(kids) != 1:
            return False
        cur = kids[0]
    if not parsed[cur][1].startswith("BroadcastExchange"):
        return False  # ReusedExchange etc.: not provable here — fail closed
    if "IdentityBroadcastMode" not in parsed[cur][1]:
        return False
    # descend the single-child chain from the exchange to the aggregate
    while True:
        kids = children_of(cur)
        if len(kids) != 1:
            return False  # 0 = truncated tree, >1 = a join slipped in
        body = parsed[kids[0]][1]
        if _GLOBAL_AGG.match(body):
            return True
        if _op_token(body) not in _ROW_BOUNDED_OPS:
            return False
        cur = kids[0]


def _depth_body(line: str) -> tuple[int, str]:
    prefix = _TREE_UNIT.match(line).group(0)
    body = line[len(prefix) :]
    body = re.sub(r"^\*\(\d+\) ", "", body)  # WholeStageCodegen marker
    return len(prefix) // 3, body


def unbounded_nested_loops(plan: str) -> list[str]:
    """Return the BroadcastNestedLoopJoin lines whose broadcast side is NOT
    a guaranteed-1-row global aggregate. Empty list means every nested loop
    in the plan is the benign scalar-crossJoin pattern (IdentityBroadcastMode
    over a keys=[] aggregate); a non-empty list is a scale hazard."""
    lines = plan.splitlines()
    parsed = [_depth_body(ln) for ln in lines]
    offending: list[str] = []
    for i, (d, body) in enumerate(parsed):
        if not body.startswith("BroadcastNestedLoopJoin"):
            continue
        # locate the join's two children (depth d+1) within its subtree
        children: list[int] = []
        for j in range(i + 1, len(parsed)):
            dj = parsed[j][0]
            if dj <= d:
                break
            if dj == d + 1:
                children.append(j)
        if len(children) != 2:
            offending.append(body)
            continue
        build = children[0] if "BuildLeft" in body else children[1]
        # the build child's subtree: lines until depth returns to <= d+1
        end = next(
            (j for j in range(build + 1, len(parsed)) if parsed[j][0] <= d + 1),
            len(parsed),
        )
        if not _build_is_one_row(parsed, build, end):
            offending.append(body)
    return offending


def advise(df: DataFrame, *, max_exchanges: int = 6) -> list[dict]:
    """Scan the physical plan for scale hazards. Returns a list of
    findings: {rule, severity, detail}; empty list = nothing to flag."""
    return advise_plan(_plan_text(df), max_exchanges=max_exchanges)


def advise_plan(plan: str, *, max_exchanges: int = 6) -> list[dict]:
    """advise() over an already-extracted physical-plan string — lets a
    harness that builds every catalog plan ONCE (tests/conftest.py's
    catalog_builds fixture) apply all plan gates without re-planning the
    267-query registry per test module (the three catalog sweeps each
    cost ~2 min of pure plan building before this split)."""
    findings: list[dict] = []

    if "CartesianProduct" in plan:
        findings.append(
            {
                "rule": "cartesian-product",
                "severity": "fatal",
                "detail": "all-pairs join in the plan — O(n*m) rows; "
                "add an equi-join key (bucketing/banding for near-dup "
                "workloads).",
            }
        )
    if "BroadcastNestedLoopJoin" in plan:
        bad = unbounded_nested_loops(plan)
        if bad:
            findings.append(
                {
                    "rule": "nested-loop-join",
                    "severity": "warn",
                    "detail": "non-equi join fell back to a nested loop "
                    "with a data-sized build side; fatal for two growing "
                    "sides — rewrite as range-bin or as-of join. "
                    f"Offending: {bad[:3]}",
                }
            )
        else:
            findings.append(
                {
                    "rule": "bounded-scalar-nested-loop",
                    "severity": "info",
                    "detail": "nested loop(s) present but every build side "
                    "is a 1-row global aggregate (the scalar-crossJoin "
                    "pattern) — O(n), safe at scale.",
                }
            )
    if "Exchange SinglePartition" in plan:
        findings.append(
            {
                "rule": "single-partition-exchange",
                "severity": "warn",
                "detail": "a stage collapses to ONE partition (global "
                "sort/window/limit). Legitimate only when the frame is "
                "bounded by construction (dimension-sized or fixed bin "
                "count); otherwise use partitioned windows or "
                "TakeOrderedAndProject.",
            }
        )

    # forced broadcast of an SF-growing base table: a BroadcastExchange
    # whose subtree scans one of the growing tables
    for m in re.finditer(r"BroadcastExchange", plan):
        tail = plan[m.start() : m.start() + 2000]
        scanned = [t for t in SF_GROWING if re.search(rf"\b{t}\b", tail)]
        if scanned:
            findings.append(
                {
                    "rule": "broadcast-of-growing-table",
                    "severity": "warn",
                    "detail": f"broadcast subtree scans {sorted(set(scanned))}; "
                    "if this came from an explicit broadcast() hint it will "
                    "OOM at scale — drop the hint and let AQE decide.",
                }
            )
            break

    n_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
    if n_exchanges > max_exchanges:
        findings.append(
            {
                "rule": "many-shuffles",
                "severity": "info",
                "detail": f"{n_exchanges} shuffle exchanges; check for a "
                "reusable partitioning (persist a pre-partitioned frame, "
                "as graph/pagerank.py does) or bucketed inputs.",
            }
        )

    # row-at-a-time Python in the hot path: BatchEvalPython is the slow
    # per-row UDF operator (ArrowEvalPython / mapInPandas are the fast ones)
    if "BatchEvalPython" in plan:
        findings.append(
            {
                "rule": "row-at-a-time-python",
                "severity": "fatal",
                "detail": "a row-at-a-time Python UDF sits in the plan "
                "(BatchEvalPython); replace with native Column expressions "
                "or an Arrow-batched pandas UDF (10-100x).",
            }
        )
    return findings


# ---------------------------------------------------------------------------
# Driver-action recorder (round-7 verdict item 2)
# ---------------------------------------------------------------------------
# A catalog query builder should CONSTRUCT a lazy plan — metadata scalars
# (corpus size, edge count, dim rows) belong in the plan as 1-row
# aggregates crossJoined into the result (graph/pagerank.py:65-67), not in
# a driver-side .count() that forces an extra job and an extra source scan
# per scalar. `record_driver_actions` instruments every eager DataFrame
# entry point so a test can sweep the whole registry and prove builders
# are action-free; iterative algorithms (fixpoint convergence checks,
# sample-trained index builds) are the documented exception.

# DataFrame methods that launch a job during plan construction: those that
# move rows to the driver, show() (a debug leak in library code), and
# checkpoint()/localCheckpoint() — even with eager=False, because under AQE
# the call runs the plan's shuffle stages to fix its final plan (a lazy
# localCheckpoint of a grouped frame ran one job at the call).
# persist()/cache() are NOT actions (lazy) and writes are sinks, not query
# builders.
DRIVER_ACTION_METHODS = (
    "count",
    "collect",
    "first",
    "take",
    "head",
    "tail",
    "toPandas",
    "toLocalIterator",
    "foreach",
    "foreachPartition",
    "show",
    "checkpoint",
    "localCheckpoint",
)

from contextlib import contextmanager  # noqa: E402


def _action_target_classes() -> list[type]:
    """The classes whose methods actually execute: Spark 4's
    pyspark.sql.DataFrame is an ABC and the running instances are
    pyspark.sql.classic.dataframe.DataFrame — patching only the base
    would record nothing because the subclass overrides every action."""
    classes: list[type] = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

        classes.append(_ClassicDF)
    except ImportError:  # pre-4.0 layout: the base IS the concrete class
        pass
    return classes


@contextmanager
def record_driver_actions():
    """Context manager yielding a list that accumulates the name of every
    DataFrame action method invoked while the block runs (including
    actions issued from inside library helpers and spark.ml wrappers that
    route through the Python DataFrame API). Instruments the classes, so
    it is NOT thread-safe — test/harness use only."""
    calls: list[str] = []
    originals: list[tuple[type, str, object]] = []

    def _wrap(name, orig):
        def wrapped(self, *a, **k):
            calls.append(name)
            return orig(self, *a, **k)

        wrapped.__name__ = name
        return wrapped

    for cls in _action_target_classes():
        for name in DRIVER_ACTION_METHODS:
            # only methods defined in the class's own namespace — patching
            # an inherited slot would shadow the (already patched) base
            if name in cls.__dict__:
                orig = cls.__dict__[name]
                originals.append((cls, name, orig))
                setattr(cls, name, _wrap(name, orig))
    try:
        yield calls
    finally:
        for cls, name, orig in originals:
            setattr(cls, name, orig)
