"""`sources/testdata.py::load_table`'s schema memo: a file's schema is
inferred once per session (a one-task Spark job), every later read of the
same bytes passes it and runs no job, and a rewritten file is inferred
again. Plus the guard that keeps every catalog read on that path."""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StringType, TimestampType

from sri_spark.operators.observability import stage_metrics
from sri_spark.sources.testdata import load_table

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sri_spark", "plans"
)


def _jobs(spark, sf_dir: str, name: str):
    with stage_metrics(spark, f"load_{name}") as m:
        df = load_table(spark, sf_dir, name)
    return m["jobs"], df


def test_second_load_of_a_file_runs_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"]}),
        tmp_path / "region.parquet",
    )
    first, df1 = _jobs(spark, str(tmp_path), "region")
    second, df2 = _jobs(spark, str(tmp_path), "region")
    assert first >= 1  # the first read infers the schema
    assert second == 0
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").schema["r_regionkey"].dataType != StringType()
    pq.write_table(pa.table({"r_regionkey": ["x", "y", "z"], "r_name": ["A", "B", "C"]}), path)
    jobs, df = _jobs(spark, str(tmp_path), "region")
    assert jobs >= 1
    assert df.schema["r_regionkey"].dataType == StringType()
    assert sorted(r["r_regionkey"] for r in df.collect()) == ["x", "y", "z"]


def test_events_ts_normalized_from_memo_under_nanos_as_long(spark, tmp_path):
    """events.parquet stored as timestamp[ns] reads as an epoch-nanos long
    under nanosAsLong; the memoized read must still come out as
    session-zoned TimestampType with the same instants."""
    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_001_999]
    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    _, first = _jobs(spark, str(tmp_path), "events")
    second_jobs, second = _jobs(spark, str(tmp_path), "events")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert second_jobs == 0
    for df in (first, second):
        assert isinstance(df.schema["ts"].dataType, TimestampType)
    micros = sorted(r[0] for r in second.selectExpr("unix_micros(ts)").collect())
    assert micros == [v // 1000 for v in ns]
    assert sorted(first.collect()) == sorted(second.collect())


def test_plans_read_fixtures_only_through_load_table():
    """No catalog module touches `spark.read` (or `readStream`) itself: a
    direct read would infer its schema again on every query."""
    offenders = []
    for fname in sorted(os.listdir(PLANS_DIR)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(PLANS_DIR, fname)) as fh:
            tree = ast.parse(fh.read(), fname)
        offenders += [
            f"{fname}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr in ("read", "readStream")
        ]
    assert not offenders, offenders
