"""In-flight pipeline metrics via Spark's Observation API.

`quality_report` (etl/quality.py) audits tables AFTER they materialize —
a second pass over each output. `observe()` metrics ride along with the
job itself: named aggregates are accumulated DURING the action that
produces the output, so row counts / null counts / value sums cost zero
extra scans — the observability a 100 TB pipeline needs, where "run a
count(*) afterwards" doubles the bill.

Batch usage:

    obs, df = observed(df, "fact", rows=F.count(F.lit(1)),
                       null_dates=F.sum(F.when(c.isNull(), 1).otherwise(0)))
    df.write.parquet(...)          # the action
    metrics = obs.get              # {'rows': ..., 'null_dates': ...}

Streaming: the same `observe` call surfaces per-micro-batch metrics in
`StreamingQueryProgress.observedMetrics` — one definition, both runtimes.

`codegen_compiles` reads the JVM's generated-code compile counters, so a
caller can diff them around a run and see whether it recompiled classes
the session had already compiled (see session.py's codegen cache cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed(
    df: DataFrame, name: str, **metrics: Column
) -> tuple[Observation, DataFrame]:
    """Attach named metric aggregates to `df`; returns (observation, df).

    The metrics accumulate during whatever action later runs on `df`
    (write, collect, count) — read `observation.get` AFTER that action.
    Each metric must be an aggregate Column; names become dict keys.
    """
    if not metrics:
        raise ValueError("observed() needs at least one metric column")
    obs = Observation(name)
    return obs, df.observe(obs, *[c.alias(n) for n, c in metrics.items()])


def codegen_compiles(spark) -> dict[str, int]:
    """JVM-wide generated-code compile counters since the JVM started:
    {"compiles": Janino compilations, "classes": class files they produced}.

    Diff two readings to count what a run compiled; a warm run whose
    plans the codegen cache still holds reads 0. The counters are
    process-wide: in local mode the driver and the executors share one
    JVM, so the count covers both. On a cluster it covers the driver only.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "compiles": int(metrics.METRIC_COMPILATION_TIME().getCount()),
        "classes": int(metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount()),
    }
