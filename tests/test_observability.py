"""observe() metrics ride along with the action — no second scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sri_spark.operators.observability import observed
from sri_spark.sources.testdata import load_table


def test_observed_metrics_match_direct_aggregates(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    obs, df = observed(
        orders,
        "orders_ingest",
        rows=F.count(F.lit(1)),
        total_price=F.round(F.sum("o_totalprice"), 2),
        n_open=F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the only action

    got = obs.get
    want = orders.agg(
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
    ).first()
    assert got["rows"] == want["rows"]
    assert abs(got["total_price"] - want["total_price"]) < 1e-6
    assert got["n_open"] == want["n_open"]


def test_observed_survives_downstream_transforms(spark, sf_dir):
    """Metrics observe the point IN THE PLAN where they are attached — a
    later filter must not change them."""
    orders = load_table(spark, sf_dir, "orders")
    obs, df = observed(orders, "pre_filter", rows=F.count(F.lit(1)))
    kept = df.filter(F.col("o_totalprice") > 100000)
    n_kept = kept.count()
    assert obs.get["rows"] == orders.count()
    assert n_kept < obs.get["rows"]


def test_observed_requires_metrics(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="metric"):
        observed(orders, "empty")


def test_observe_metrics_in_streaming_progress(spark, sf_dir, tmp_path):
    """The same observe() call surfaces per-micro-batch metrics in
    StreamingQueryProgress.observedMetrics — the streaming half of the
    observability contract."""
    import shutil

    from sri_spark.streaming.jobs import read_events_stream

    events_dir = tmp_path / "events_obs"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-000.parquet")

    stream = read_events_stream(spark, str(events_dir)).observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("value") > 0, 1).otherwise(0)).alias("n_positive"),
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    observed = [
        p["observedMetrics"]["ingest"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("ingest")
    ]
    assert observed, "no observed metrics in streaming progress"
    total_rows = sum(m["rows"] for m in observed)
    from sri_spark.sources.testdata import load_table

    assert total_rows == load_table(spark, sf_dir, "events").count()


def test_codegen_compiles_counts_new_code_once(spark):
    """A plan with code the JVM has not generated before compiles at least
    one class; rerunning it hits the codegen cache and compiles none."""
    import time

    from sri_spark.operators.observability import codegen_compiles

    # a literal unique to this run makes the generated source new
    salt = time.time_ns() % 1_000_000_007
    df = spark.range(100).selectExpr(f"id * {salt} + 3 AS x").groupBy(
        F.col("x") % 7
    ).count()

    before = codegen_compiles(spark)
    df.collect()
    cold = codegen_compiles(spark)
    df.collect()
    warm = codegen_compiles(spark)
    assert cold["compiles"] > before["compiles"]
    assert cold["classes"] - before["classes"] >= cold["compiles"] - before["compiles"]
    assert warm == cold
