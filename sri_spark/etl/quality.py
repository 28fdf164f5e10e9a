"""Data-quality validation (reference dags/sri_vehiculos_etl_dag.py:647-760).

The reference logs these metrics after its load and never consumes its
thresholds (config/variables.yaml:44-48, SURVEY §5.1). Here the metrics
ride the writes that publish the star (`pipeline.write_star`), and the
thresholds gate its swap into place (SURVEY §5.2).
"""

from __future__ import annotations

import copy
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sri_spark.etl.fact import RI, flag_integrity
from sri_spark.operators.observability import observed

FACT = "fact_registro_vehiculos"


@dataclass(frozen=True)
class QualityThresholds:
    # values the reference declares in config/variables.yaml:44-48
    max_null_percentage: float = 10.0
    min_records_threshold: int = 1000
    duplicate_check: bool = True


def _distinct(col: str):  # observe() rejects DISTINCT; all are low-cardinality
    return F.size(F.collect_set(col))


# table -> its metrics, as columns for `operators.observability.observed`
METRICS = {
    "dim_tiempo": lambda: dict(
        total_registros=F.count(F.lit(1)), anios_unicos=_distinct("Anio"),
        fecha_min=F.date_format(F.min("FechaCompleta"), "yyyy-MM-dd"),
        fecha_max=F.date_format(F.max("FechaCompleta"), "yyyy-MM-dd")),
    "dim_vehiculo": lambda: dict(
        total_registros=F.count(F.lit(1)), marcas_unicas=_distinct("Marca"),
        clases_unicas=_distinct("Clase")),
    "dim_transaccion": lambda: dict(
        total_registros=F.count(F.lit(1)),
        tipos_transaccion=_distinct("TipoTransaccion")),
    "dim_ubicacion": lambda: dict(
        total_registros=F.count(F.lit(1)), provincias_unicas=_distinct("Provincia"),
        regiones_unicas=_distinct("Region")),
    FACT: lambda: dict(  # the fact frame must carry the RI flag
        total_registros=F.count(F.lit(1)), total_cantidad=F.sum("CantidadRegistros"),
        avaluo_promedio=F.avg("MontoAvaluo"),
        registros_sin_tiempo=F.count(F.when(F.col("ID_Tiempo").isNull(), 1)),
        registros_sin_vehiculo=F.count(F.when(F.col("ID_Vehiculo").isNull(), 1)),
        registros_con_integridad=F.count(F.when(F.col(RI), 1))),
}
TABLES = tuple(METRICS)
# fact frame -> (weak refs to its four dims, the report observed on them)
_OBSERVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def assemble(tables: dict[str, DataFrame], observations: dict[str, Observation]) -> dict:
    """The report, read after the actions that carried the observations;
    `quality_report` returns it for these exact frame objects from now on."""
    report = {name: dict(observations[name].get) for name in TABLES}
    report["registros_con_integridad"] = report[FACT].pop("registros_con_integridad")
    dims = {n: weakref.ref(tables[n]) for n in TABLES if n != FACT}
    _OBSERVED[tables[FACT]] = (dims, copy.deepcopy(report))
    return report


def check(report: dict, th: QualityThresholds, fact: DataFrame) -> None:
    """Raise AssertionError when `report` breaks the thresholds. The
    duplicate check is an exact `distinct().count()` over `fact`."""
    errors = []
    fact_n = report[FACT]["total_registros"]
    if fact_n < th.min_records_threshold:
        errors.append(f"fact rows {fact_n} < min_records_threshold {th.min_records_threshold}")
    for fk in ("registros_sin_tiempo", "registros_sin_vehiculo"):
        pct = 100.0 * report[FACT][fk] / max(fact_n, 1)
        if pct > th.max_null_percentage:
            errors.append(f"{fk} {pct:.1f}% > max_null_percentage")
    if th.duplicate_check:
        dup = fact_n - fact.select("ID_Registro").distinct().count()
        if dup:
            errors.append(f"{dup} duplicate ID_Registro values")
    if errors:
        raise AssertionError("; ".join(errors))


def quality_report(
    tables: dict[str, DataFrame],
    thresholds: QualityThresholds | None = None,
    *,
    enforce: bool = False,
) -> dict:
    """The reference's validation metrics of the five star tables; with
    `enforce`, raise AssertionError when `thresholds` reject them. For the
    exact frame objects `write_star` wrote (matched by identity: a re-read
    of a changed CSV has the same plan) it returns the report observed in
    those writes and runs only the duplicate pass; other frames (hand-built
    stars, a validation before the write) take one noop action per table."""
    dims, report = _OBSERVED.get(tables[FACT], ({}, None))
    if report is None or any(r() is not tables[n] for n, r in dims.items()):
        observations = {}
        for name in TABLES:
            df = flag_integrity(tables) if name == FACT else tables[name]
            observations[name], df = observed(df, name, **METRICS[name]())
            df.write.format("noop").mode("overwrite").save()
        report = assemble(tables, observations)
    if enforce:
        check(report, thresholds or QualityThresholds(), tables[FACT])
    return copy.deepcopy(report)
