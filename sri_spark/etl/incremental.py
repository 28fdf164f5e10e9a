"""Incremental star updates — the capability the reference lacks.

The reference re-extracts the full CSV and WRITE_TRUNCATEs every table on
every run (dags/sri_vehiculos_etl_dag.py:136-141, :199-203): cost grows
with history, and surrogate keys are reassigned wholesale — any downstream
consumer holding yesterday's keys breaks. This module applies a DELTA:

- dimensions grow append-only: rows whose full attribute tuple (the dim's
  grain) is new get surrogate keys CONTINUING from the existing maximum;
  every existing key is untouched (key-stability contract — the property
  full refresh cannot give).
- the fact builds ONLY over the increment's rows (joined against the
  merged dims) and appends, with ID_Registro continuing densely.

Fixed mode only: parity mode exists to reproduce the reference, and the
reference is full-refresh by definition.

Equivalence contract vs a full rebuild: the fact resolves every lookup to
the same JOIN KEY (and therefore the same join-key-determined attributes
and measures). Where the source is m:m on a join key (one CodigoVehiculo,
several 12-column tuples — the reference's Q4 hazard), the fixed-mode
min-ID dedup picks a representative tuple, and append-only keys can pick a
different representative than a rebuild would (a new tuple that sorts
before an existing one gets a HIGHER id here, a lower one there). That is
inherent to key stability, not a defect: consumers needing
representative-stable attributes should read them through the dim by key,
which never changes.

Scale shape: per increment the work is O(|increment| + |dims|) — the
existing fact is never rescanned (union is a metadata concat; with the
partitioned star layout an append touches only new files). The max-key
lookups are 1-row aggregates over the (dimension-sized) key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from sri_spark.etl.config import EtlConfig
from sri_spark.etl.dims import (
    build_dim_transaccion,
    build_dim_ubicacion,
    build_dim_vehiculo,
)
from sri_spark.etl.fact import build_fact
from sri_spark.etl.publish import publish, recover
from sri_spark.etl.quality import FACT, TABLES
from sri_spark.etl.source import read_sri_csv, with_src_id
from sri_spark.operators.caching import cache_scope, scoped_persist

# dimension grain = every non-key column (the builders' dropDuplicates set)
_DIM_BUILDERS = {
    "dim_vehiculo": (build_dim_vehiculo, "ID_Vehiculo"),
    "dim_transaccion": (build_dim_transaccion, "ID_Transaccion"),
    "dim_ubicacion": (build_dim_ubicacion, "ID_Ubicacion"),
}


def extend_dim(
    existing: DataFrame, increment_built: DataFrame, id_col: str
) -> DataFrame:
    """existing ∪ (new attribute tuples keyed max_id+1.. in natural order).

    `increment_built` is the ordinary dim builder's output over the
    increment source; its own 1..m keys are discarded — only genuinely new
    attribute tuples (anti-join on the full grain) receive keys, continuing
    from the existing maximum so no existing key ever changes."""
    attrs = [c for c in existing.columns if c != id_col]
    # The grain comparison must be NULL-SAFE: the builders dedup with
    # dropDuplicates/groupBy (null-safe), and fixed-mode dim attributes can
    # be null ("nulls stay null"). A name-list anti-join uses null-unsafe
    # equality, so a tuple containing NULL would never match itself and be
    # re-inserted with a fresh key on every increment.
    inc = increment_built.select(*attrs).alias("__inc")
    ex = existing.select(*attrs).alias("__ex")
    cond = F.lit(True)
    for c in attrs:
        cond = cond & inc[c].eqNullSafe(ex[c])
    new_rows = inc.join(ex, cond, "left_anti")
    # max over a dimension-sized table: 1-row aggregate, joined (not
    # collected) so the plan stays fully lazy; coalesce so an empty
    # existing dim bootstraps keys from 1 instead of NULL
    max_id = existing.agg(
        F.coalesce(F.max(id_col), F.lit(0).cast("long")).alias("__max")
    )
    w = Window.orderBy(*[F.col(f"`{c}`") for c in attrs])
    keyed = (
        new_rows.withColumn("__rn", F.row_number().over(w).cast("long"))
        .join(max_id)
        .select(
            (F.col("__max") + F.col("__rn")).alias(id_col),
            *attrs,
        )
    )
    return existing.unionByName(keyed)


def apply_increment(
    spark: SparkSession,
    existing: dict[str, DataFrame],
    source: str | DataFrame,
    cfg: EtlConfig | None = None,
) -> dict[str, DataFrame]:
    """Apply one increment (a CSV path or SRI-schema DataFrame) to an
    existing star (`run_pipeline`/`read_star` output). Returns the updated
    five tables; dims append-only with stable keys, fact appended with
    densely continuing ID_Registro. The source, the extended dims and the
    fact are scoped-persisted, like `run_pipeline`'s."""
    cfg = cfg or EtlConfig(mode="fixed")
    if cfg.parity:
        raise ValueError(
            "incremental updates are a fixed-mode feature; parity mode "
            "reproduces the reference's full-refresh semantics"
        )
    src = read_sri_csv(spark, source) if isinstance(source, str) else with_src_id(source)
    src = scoped_persist(src)

    dims: dict[str, DataFrame] = {"dim_tiempo": existing["dim_tiempo"]}
    for name, (builder, id_col) in _DIM_BUILDERS.items():
        dims[name] = scoped_persist(extend_dim(existing[name], builder(src, cfg), id_col))

    incr_fact = build_fact(
        src,
        dims["dim_tiempo"],
        dims["dim_vehiculo"],
        dims["dim_transaccion"],
        dims["dim_ubicacion"],
        cfg,
    )
    old_fact = existing["fact_registro_vehiculos"]
    max_reg = old_fact.agg(
        F.coalesce(F.max("ID_Registro"), F.lit(0).cast("long")).alias("__max")
    )
    shifted = (
        incr_fact.join(max_reg)
        .withColumn("ID_Registro", F.col("ID_Registro") + F.col("__max"))
        .drop("__max")
    )
    fact = scoped_persist(old_fact.unionByName(shifted))
    # __fact_increment carries ONLY the new rows, so publishers can append
    # them instead of rewriting the whole fact (publish_increment)
    return {**dims, "fact_registro_vehiculos": fact, "__fact_increment": shifted}


def read_star(spark: SparkSession, star_dir: str) -> dict[str, DataFrame]:
    """Load a previously written star (write_star output) for incrementing.

    The partitioned/clustered fact layout denormalizes `Anio` (partition
    directory key) and `Marca` (cluster sort column) into the physical
    files — strip them back off so the logical fact schema matches what
    run_pipeline/build_fact produce (write_star re-derives them on the
    next write)."""
    import os

    tables = {n: spark.read.parquet(os.path.join(star_dir, n)) for n in TABLES}
    fact = tables[FACT]
    layout_cols = [c for c in ("Anio", "Marca") if c in fact.columns]
    if layout_cols:
        tables[FACT] = fact.drop(*layout_cols)
    return tables


# test seam: set to True to simulate a crash between the fact-delta append
# and the dim swaps (tests/test_incremental_etl.py exercises the recovery)
_CRASH_AFTER_FACT_APPEND = False


def publish_increment(
    spark: SparkSession,
    star_dir: str,
    source: str | DataFrame,
    cfg: EtlConfig | None = None,
) -> dict[str, DataFrame]:
    """End-to-end incremental publish against a star directory: read the
    existing star, apply the increment, APPEND only the new fact rows to
    the partitioned fact layout and overwrite the (small) dims.

    This is the cost model the module docstring promises made physical:
    the existing fact's files are never rewritten — the append touches the
    year partitions the increment lands in, and partition pruning keeps
    serving queries on the combined table. Dims are dimension-sized, so
    truncate-writing them stays cheap at any fact scale.

    Crash safety (single writer) is `etl/publish.py`'s protocol, shared
    with the full refresh: a write-ahead manifest snapshots the fact's
    file listing BEFORE the append, the dims are staged and swapped in
    with backups, and deleting the manifest is the commit point. If a
    publish dies at any point before it, the next publish rolls the fact
    back to the snapshot and every swapped dim back to its backup, then
    re-applies the increment; dims are append-only with stable keys, so
    the result is the state a never-crashed publish reaches."""
    cfg = cfg or EtlConfig(mode="fixed")
    # recover BEFORE reading: the lazy plans below read the on-disk star
    recover(star_dir, TABLES)
    existing = read_star(spark, star_dir)
    # every lazy plan in `updated`/`delta` reads the CURRENT on-disk dims,
    # and publish appends and stages everything before its first swap; the
    # in-memory plans are stale once the swaps happen, so their caches are
    # released here and FRESH reads of the published layout handed back
    with cache_scope():
        updated = apply_increment(spark, existing, source, cfg)
        delta = updated.pop("__fact_increment")
        anio = updated["dim_tiempo"].select("ID_Tiempo", "Anio")
        delta = delta.join(F.broadcast(anio), "ID_Tiempo", "left").na.fill({"Anio": 0})

        def append_fact(path: str) -> None:
            delta.write.mode("append").partitionBy("Anio").parquet(path)
            if _CRASH_AFTER_FACT_APPEND:
                raise RuntimeError("simulated crash after fact append")

        publish(
            star_dir,
            {n: updated[n].write.mode("overwrite").parquet for n in TABLES if n != FACT},
            append=(FACT, append_fact),
        )
    return read_star(spark, star_dir)
