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


def test_observed_above_range_exchange_counts_each_row_once(spark, sf_dir, tmp_path):
    """The placement rule in `observed`'s docstring: attached on top of a
    repartitionByRange + sortWithinPartitions write, the observation reads
    the exact row count; attached below the exchange, it also runs in the
    range partitioner's sampling job and reads the rows twice."""
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()

    def clustered(df):
        return df.repartitionByRange("o_orderdate").sortWithinPartitions("o_orderdate")

    top, df = observed(clustered(orders), "top", rows=F.count(F.lit(1)))
    df.write.mode("overwrite").parquet(str(tmp_path / "top"))
    assert top.get["rows"] == n

    below, df = observed(orders, "below", rows=F.count(F.lit(1)))
    clustered(df).write.mode("overwrite").parquet(str(tmp_path / "below"))
    assert below.get["rows"] == 2 * n


def test_observed_requires_metrics(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="metric"):
        observed(orders, "empty")


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


def test_stage_metrics_reads_a_groupby_shuffle(spark):
    """A groupBy writes its map output once and reads all of it back: the
    group's write and read bytes are equal and nonzero, every completed
    stage is still in the status store, and the jobs, stages and tasks
    are counted."""
    from sri_spark.operators.observability import stage_metrics

    with stage_metrics(spark, "groupby") as m:
        spark.range(20_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
    assert m["shuffle_write"] == m["shuffle_read"] > 0
    assert m["evicted"] == 0 and m["jobs_dropped"] == 0
    assert m["jobs"] >= 1 and m["stages"] >= 2 and m["tasks"] >= m["stages"]
    assert m["spill_disk"] == 0 and m["task_skew"] >= 1.0


def test_stage_metrics_shuffle_free_action_reads_no_shuffle(spark):
    from sri_spark.operators.observability import stage_metrics

    with stage_metrics(spark, "narrow") as m:
        spark.range(1_000).selectExpr("id * 2 AS x").collect()
    assert m["jobs"] >= 1 and m["stages"] >= 1
    assert m["shuffle_write"] == m["shuffle_read"] == 0
    assert m["evicted"] == 0 and m["jobs_dropped"] == 0


def test_stage_metrics_counts_jobs_the_store_dropped(spark):
    """A block that runs more jobs than the status store retains loses
    its oldest jobs, stages and all, so `evicted` alone reads 0 on short
    byte sums; `jobs_dropped` counts the jobs that went missing."""
    from sri_spark.operators.observability import stage_metrics

    sc = spark.sparkContext
    retained = int(sc.getConf().get("spark.ui.retainedJobs", "1000"))
    if retained > 300:
        pytest.skip("the session retains too many jobs to outrun cheaply")
    ran = retained + 20
    with stage_metrics(spark, "many-jobs") as m:
        for _ in range(ran):
            sc.parallelize([1], 1).count()
    assert m["jobs"] < ran
    assert m["jobs_dropped"] >= ran - m["jobs"]


def test_stage_metrics_restores_the_callers_job_group(spark):
    """The block runs under its own group and puts the caller's back, and
    two blocks with one label never count each other's jobs."""
    from sri_spark.operators.observability import stage_metrics

    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        seen = []
        for _ in range(2):
            with stage_metrics(spark, "same-label") as m:
                seen.append(sc.getLocalProperty("spark.jobGroup.id"))
                spark.range(10).collect()
            assert m["jobs"] == 1
        assert seen[0] != seen[1] and "caller-group" not in seen
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
