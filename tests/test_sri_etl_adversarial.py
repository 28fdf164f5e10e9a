"""Hostile-source runs of the COMPOSED SRI star pipeline: a header-only
CSV (zero data rows) and an all-malformed-dates CSV must flow through
every dim builder, the fact build, the metrics rollups and the quality
report without crashing under the session's ANSI mode — and the ENFORCED
quality gate must be what rejects the run, loudly, not a downstream
exception. The unit fixtures inject single bad rows (one unparseable
date, one non-numeric AVALÚO — FIXTURES.md §1); these cases make the
degenerate row the WHOLE input, which is what a truncated upstream
extract actually looks like in production.

Each case runs on both surrogate-key paths: the window keys these tiny
sources take, and the two-phase keys a source larger than one scan task
takes (forced here), whose offsets are then built from zero partition
counts.
"""

from __future__ import annotations

import csv
import datetime as dt

import pytest

from sri_spark.etl import EtlConfig, run_pipeline
from sri_spark.etl.metrics import (
    metricas_por_anio,
    metricas_por_marca,
    metricas_por_provincia,
)
from sri_spark.etl.quality import QualityThresholds, quality_report
from tests.sri_fixture import HEADER, force_key_path, generate_sri_rows

RUN_DATE = dt.date(2025, 7, 2)
FECHA_IDX = HEADER.index("FECHA PROCESO (DD/MM/AA)")


@pytest.fixture(params=["window", "two_phase"])
def key_path(request, monkeypatch):
    force_key_path(monkeypatch, fits=request.param == "window")
    return request.param


def _write_csv(path, rows) -> str:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)
    return str(path)


def test_header_only_source(spark, tmp_path, key_path):
    """Zero data rows: every derived table is empty except the generated
    calendar dim; empty-input aggregates (avg/min/max over nothing) must
    yield NULL metrics, not throw; the min-records gate rejects."""
    path = _write_csv(tmp_path / "empty.csv", [])
    tables = run_pipeline(spark, path, EtlConfig(mode="fixed", run_date=RUN_DATE))
    try:
        assert tables["fact_registro_vehiculos"].count() == 0
        assert tables["dim_vehiculo"].count() == 0
        assert tables["dim_tiempo"].count() > 0  # calendar is generated

        report = quality_report(tables)  # enforce=False: report the zeros
        assert report["fact_registro_vehiculos"]["total_registros"] == 0
        assert report["fact_registro_vehiculos"]["avaluo_promedio"] is None

        with pytest.raises(AssertionError, match="min_records_threshold"):
            quality_report(tables, QualityThresholds(), enforce=True)

        # metrics over an empty fact: empty frames with the right schema
        for fn in (metricas_por_anio, metricas_por_marca, metricas_por_provincia):
            assert fn(tables).count() == 0, fn.__name__
    finally:
        spark.catalog.clearCache()


def test_all_dates_malformed_source(spark, tmp_path, key_path):
    """Fixed mode parses FECHA PROCESO from data and drops null-parses
    (reference P4 semantics). When EVERY date is garbage the fact is
    empty while the source-derived dims are NOT — exactly the asymmetry
    the enforced gate exists to catch before an empty fact publishes."""
    rows = generate_sri_rows(n=50, seed=7)
    for r in rows:
        r[FECHA_IDX] = "not/a/date"
    path = _write_csv(tmp_path / "baddates.csv", rows)
    tables = run_pipeline(spark, path, EtlConfig(mode="fixed", run_date=RUN_DATE))
    try:
        assert tables["fact_registro_vehiculos"].count() == 0
        assert tables["dim_vehiculo"].count() > 0  # dims don't need the date

        with pytest.raises(AssertionError, match="min_records_threshold"):
            quality_report(tables, QualityThresholds(), enforce=True)
    finally:
        spark.catalog.clearCache()
