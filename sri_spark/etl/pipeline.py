"""One-application star pipeline (SURVEY §3.1 'Spark shape').

The reference's six tasks (4 dim ETLs -> barrier -> fact -> validation)
collapse into one lazy plan: `run_pipeline` scans the CSV once and persists
the scan for its five consumers (the four dims and the fact), dims never
round-trip through an external warehouse, and the fact's lookups join the
freshly-built dims in session (the bounded ones broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sri_spark.etl.config import EtlConfig
from sri_spark.etl.dims import (
    build_dim_tiempo,
    build_dim_transaccion,
    build_dim_ubicacion,
    build_dim_vehiculo,
)
from sri_spark.etl.fact import RI, build_fact, check_fanout, flag_integrity
from sri_spark.etl.publish import publish
from sri_spark.etl.quality import (
    FACT,
    METRICS,
    QualityThresholds,
    assemble,
    check,
    quality_report,
)
from sri_spark.etl.source import read_sri_csv, with_src_id
from sri_spark.operators.caching import scoped_persist
from sri_spark.operators.observability import observed


def run_pipeline(
    spark: SparkSession,
    source: str | DataFrame,
    cfg: EtlConfig | None = None,
) -> dict[str, DataFrame]:
    """Build the five star tables. `source` is a CSV path or a pre-loaded
    DataFrame with the SRI schema (tests pass DataFrames). The source,
    dims and fact are scoped-persisted: released by the enclosing
    `cache_scope()`, or by `unpersist_all()` outside one."""
    cfg = cfg or EtlConfig()
    src = read_sri_csv(spark, source) if isinstance(source, str) else with_src_id(source)
    # the source feeds 5 consumers — cache the (narrow) scan once
    src = scoped_persist(src)

    dims = {
        "dim_tiempo": build_dim_tiempo(spark),
        "dim_vehiculo": build_dim_vehiculo(src, cfg),
        "dim_transaccion": build_dim_transaccion(src, cfg),
        "dim_ubicacion": build_dim_ubicacion(src, cfg),
    }
    # dims feed both their sink and the fact's broadcast lookups; the fact
    # feeds the sink, the quality gate and every metric — persist all five so
    # downstream actions don't re-run the CSV scan + joins per consumer
    # (persist BEFORE check_fanout so its actions warm the cache instead of
    # computing the dims a throwaway time)
    dims = {k: scoped_persist(v) for k, v in dims.items()}
    if cfg.parity:
        check_fanout(dims["dim_vehiculo"], dims["dim_transaccion"])
    fact = scoped_persist(
        build_fact(
            src,
            dims["dim_tiempo"],
            dims["dim_vehiculo"],
            dims["dim_transaccion"],
            dims["dim_ubicacion"],
            cfg,
        )
    )
    return {**dims, "fact_registro_vehiculos": fact}


def write_star(
    tables: dict[str, DataFrame],
    out_dir: str,
    *,
    fmt: str = "parquet",
    gate: QualityThresholds | None = None,
) -> dict:
    """Publish the star with truncate-load semantics (the reference's
    WRITE_TRUNCATE) and return its quality report (etl/quality.py).

    The quality metrics ride the writes: each table's `observe()` columns
    sit at the top of its write plan, the fact's above the range exchange
    and the sort (`operators.observability.observed` says why), so
    `quality_report` on these same frames runs nothing but its duplicate
    pass. The fact's referential-integrity flag comes from the write's own
    lookups: the tiempo and vehiculo joins that supply `Anio` and `Marca`,
    plus broadcast lookups on the transaccion and ubicacion keys
    (`fact.flag_integrity`); the flag is dropped before the sink.

    With the default path-based parquet sink, each table is written to
    `<out_dir>/<name>.staging`; the report is assembled from the
    observations; `gate`, when set, enforces its thresholds; only then is
    the staging swapped into place by the write-ahead-manifest protocol of
    `etl/publish.py`, which `publish_increment` shares. A failing gate, or
    a crash the next publish recovers from, leaves the prior star as it
    was. The other sinks write straight to their target, a warehouse
    table id and not a directory that can be renamed, so `gate` is
    refused with them.

    `fmt` selects a registered sink (sources/sinks.py): 'parquet' (default)
    writes a local/lake star; 'bigquery' targets the reference's warehouse
    through the spark-bigquery-connector (`out_dir` is then
    `project.dataset`; needs the connector jar + GCP credentials, so tests
    exercise it through a registered connector-shaped fake instead).

    The fact is laid out in the physical design the reference declared but
    never consumed (config/variables.yaml:18-19 `clustering_fields:
    ["Anio", "Marca"]`, `partitioning_field`; the DAG at
    dags/sri_vehiculos_etl_dag.py never reads either — SURVEY §1.3 Q6). The
    Spark-lake equivalent of BigQuery's date-partition + clustering:

    - **Partition** the fact by ``Anio`` (the year of its tiempo FK) —
      directory-level partition pruning, so a year-filtered scan at 100 TB
      touches only that year's files (PartitionFilters in the scan node).
    - **Cluster** within each partition by ``Marca`` (denormalized from
      dim_vehiculo exactly as BigQuery clustering requires the column in
      the table): rows are range-routed on (Anio, Marca) and sorted within
      every output file, so parquet row-group min/max stats make
      brand-filtered scans skip row groups.

    Scale shape: one range shuffle (`repartitionByRange` samples boundaries,
    so hot years split across many tasks instead of one file per year) + a
    per-task sort; the Marca lookup join is AQE-decided (dim_vehiculo grows
    with the data — 331k rows from the reference's 460k-row input — so no
    forced broadcast).
    """
    from sri_spark.sources.sinks import get_sink

    sink = get_sink(fmt)
    if gate is not None and fmt != "parquet":
        raise ValueError(f"gate= needs the staged parquet sink; {fmt!r} writes in place")
    observations, writers = {}, {}
    for name, df in tables.items():
        if name == FACT:
            df = _fact_layout(tables)
        observations[name], df = observed(df, name, **METRICS[name]())
        writer = df.drop(RI).write.mode("overwrite")
        writers[name] = writer.partitionBy("Anio") if name == FACT else writer

    def assemble_and_gate() -> None:
        report = assemble(tables, observations)
        if gate is not None:
            check(report, gate, tables[FACT])

    if fmt == "parquet":
        publish(
            out_dir,
            {name: w.parquet for name, w in writers.items()},
            check=assemble_and_gate,
        )
    else:
        for name, writer in writers.items():
            sink(writer, out_dir, name)
        assemble_and_gate()
    return quality_report(tables)


def _fact_layout(tables: dict[str, DataFrame]) -> DataFrame:
    """The fact as write_star lays it out: `Anio` and `Marca` carried from
    their dims, range-routed and sorted on both, with the `RI` flag."""
    carry = {"dim_tiempo": ["Anio"], "dim_vehiculo": ["Marca"]}
    df = flag_integrity(tables, carry).na.fill({"Anio": 0})
    return df.repartitionByRange("Anio", "Marca").sortWithinPartitions("Anio", "Marca")
