"""A warm run must reuse the classes the session already compiled.

Spark caches generated code in an LRU cache of
`spark.sql.codegen.cache.maxEntries` classes. At the default of 100 one
star refresh (140 classes) evicts every class just before its next use,
so each warm refresh recompiled ~130 classes and HotSpot JIT-compiled
them again; sri_spark/session.py sizes the cache to hold the working set.
These tests count Janino compilations (CodegenMetrics, JVM-wide) around a
cold run and a warm rerun of the same work.
"""

from __future__ import annotations

from sri_spark.operators.observability import codegen_compiles

# Why not 0: a warm run occasionally compiles a handful of classes of its
# own — 2 to 4 in two of eight warm 20k-row refreshes measured, while the
# other six compiled none — when AQE re-plans a stage differently from the
# previous run (new plan shape, new class). A thrashing cache recompiles
# ~130 per refresh, far above this bound.
WARM_COMPILE_BOUND = 10


def _compiles_during(spark, run) -> int:
    before = codegen_compiles(spark)["compiles"]
    run()
    return codegen_compiles(spark)["compiles"] - before


def test_warm_star_refresh_compiles_nothing_new(spark, tmp_path):
    from sri_spark.etl import EtlConfig, run_pipeline
    from sri_spark.etl.pipeline import write_star
    from sri_spark.etl.quality import quality_report
    from sri_spark.operators.caching import unpersist_all
    from tests.sri_fixture import write_sri_csv

    csv = str(tmp_path / "sri.csv")
    write_sri_csv(csv, n=2000, seed=11)
    cfg = EtlConfig(mode="fixed")

    def refresh():
        tables = run_pipeline(spark, csv, cfg)
        write_star(tables, str(tmp_path / "star"))
        quality_report(tables, enforce=True)
        unpersist_all()
        spark.catalog.clearCache()

    cold = _compiles_during(spark, refresh)
    warm = _compiles_during(spark, refresh)
    assert warm <= WARM_COMPILE_BOUND, (cold, warm)


def test_warm_catalog_queries_compile_nothing_new(spark, sf_dir):
    from sri_spark.operators.caching import unpersist_all
    from sri_spark.plans import all_queries

    queries = all_queries()
    names = ("agg_percentiles", "agg_weighted_median_price")

    def run():
        for name in names:
            queries[name](spark, sf_dir).collect()
            unpersist_all()

    cold = _compiles_during(spark, run)
    warm = _compiles_during(spark, run)
    assert warm <= WARM_COMPILE_BOUND, (cold, warm)
