"""SRI star ETL: Spark parity mode vs the pandas oracle, plus fixed-mode
invariants and the quality gate."""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from sri_spark.etl import EtlConfig, run_pipeline
from sri_spark.etl.metrics import metricas_por_anio, metricas_por_marca
from sri_spark.etl.quality import quality_report
from sri_spark.etl.schema import CANTON_MAP
from tests import sri_pandas_oracle as po
from tests.sri_fixture import write_sri_csv

RUN_DATE = dt.date(2025, 7, 2)


@pytest.fixture(scope="module")
def sri_csv(tmp_path_factory):
    path = tmp_path_factory.mktemp("sri") / "sri_vehiculos.csv"
    write_sri_csv(str(path), n=2000, seed=42)
    return str(path)


@pytest.fixture(scope="module")
def parity_tables(spark, sri_csv):
    cfg = EtlConfig(mode="parity", run_date=RUN_DATE)
    return run_pipeline(spark, sri_csv, cfg)


@pytest.fixture(scope="module")
def pandas_src(sri_csv):
    return pd.read_csv(sri_csv)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 6)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    if isinstance(v, dt.datetime):
        return v.date().isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def assert_frames_match(sdf, pdf: pd.DataFrame, sort_cols: list[str], name: str):
    sp = sdf.toPandas()
    assert sorted(sp.columns) == sorted(pdf.columns), f"{name} columns differ"
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(sort_cols).reset_index(drop=True)
    pd2 = pdf[cols].sort_values(sort_cols).reset_index(drop=True)
    assert len(sp) == len(pd2), f"{name}: {len(sp)} vs {len(pd2)} rows"
    for c in cols:
        a = [_norm_cell(x) for x in sp[c].tolist()]
        b = [_norm_cell(x) for x in pd2[c].tolist()]
        # pandas often carries ints as float64 after fillna; normalize
        a = [float(x) if isinstance(x, int) else x for x in a]
        b = [float(x) if isinstance(x, int) else x for x in b]
        assert a == b, f"{name}.{c} differs; first diff at " + str(
            next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
        )


def test_dim_tiempo_parity(parity_tables):
    assert_frames_match(
        parity_tables["dim_tiempo"], po.oracle_dim_tiempo(), ["ID_Tiempo"], "dim_tiempo"
    )


def test_dim_tiempo_keys_follow_dates(spark):
    """ID_Tiempo is 1..2,192 in date order, computed from the date alone:
    the dim's plan has no window and no exchange."""
    from sri_spark.etl.dims import build_dim_tiempo

    dim = build_dim_tiempo(spark)
    rows = sorted(dim.select("ID_Tiempo", "FechaCompleta").collect())
    assert [r["ID_Tiempo"] for r in rows] == list(range(1, 2193))
    dates = [r["FechaCompleta"] for r in rows]
    assert dates[0] == dt.date(2020, 1, 1) and dates[-1] == dt.date(2025, 12, 31)
    assert all(b - a == dt.timedelta(days=1) for a, b in zip(dates, dates[1:]))
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan, plan


def test_dim_vehiculo_parity(parity_tables, pandas_src):
    assert_frames_match(
        parity_tables["dim_vehiculo"],
        po.oracle_dim_vehiculo(pandas_src),
        ["ID_Vehiculo"],
        "dim_vehiculo",
    )


def test_dim_transaccion_parity(parity_tables, pandas_src):
    assert_frames_match(
        parity_tables["dim_transaccion"],
        po.oracle_dim_transaccion(pandas_src),
        ["ID_Transaccion"],
        "dim_transaccion",
    )


def test_dim_ubicacion_parity(parity_tables, pandas_src):
    assert_frames_match(
        parity_tables["dim_ubicacion"],
        po.oracle_dim_ubicacion(pandas_src, CANTON_MAP),
        ["ID_Ubicacion"],
        "dim_ubicacion",
    )


def test_fact_parity(parity_tables, pandas_src):
    oracle = po.oracle_fact(
        pandas_src,
        po.oracle_dim_tiempo(),
        po.oracle_dim_vehiculo(pandas_src),
        po.oracle_dim_transaccion(pandas_src),
        po.oracle_dim_ubicacion(pandas_src, CANTON_MAP),
        RUN_DATE,
    )
    assert_frames_match(
        parity_tables["fact_registro_vehiculos"], oracle, ["ID_Registro"], "fact"
    )


def test_fixed_mode_invariants(spark, sri_csv):
    cfg = EtlConfig(mode="fixed", run_date=RUN_DATE)
    t = run_pipeline(spark, sri_csv, cfg)
    report = quality_report(t, enforce=True)

    fact = t["fact_registro_vehiculos"]
    n = report["fact_registro_vehiculos"]["total_registros"]
    # fixed mode: 1:1 lookups — fact rows == parsed-date source rows (no fan-out)
    src_rows = 2000
    assert n <= src_rows
    assert n >= src_rows - 10  # only unparseable-date rows dropped
    # full referential integrity
    assert report["registros_con_integridad"] == n
    # canton map actually hits in fixed mode
    provincias = {
        r["Provincia"] for r in t["dim_ubicacion"].select("Provincia").collect()
    }
    assert "AZUAY" in provincias or "GUAYAS" in provincias or "PICHINCHA" in provincias
    # real dates, not the run-date stamp
    anios = {r["Anio"] for r in metricas_por_anio(t).collect()}
    assert anios <= {2024, 2025}
    # metrics run
    assert metricas_por_marca(t).count() > 0


def test_parity_fanout_guard(spark, sri_csv, monkeypatch):
    monkeypatch.setattr("sri_spark.etl.fact.MAX_FANOUT_FACTOR", 1.0)
    cfg = EtlConfig(mode="parity", run_date=RUN_DATE)
    with pytest.raises(RuntimeError, match="fan-out"):
        run_pipeline(spark, sri_csv, cfg)
