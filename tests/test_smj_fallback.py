"""The fact build's lookup-hint policy and its two surrogate-key paths.

`etl/fact.py::_RI_LOOKUPS` states one policy for the star's lookups: the
three bounded dims (tiempo, transaccion, ubicacion) are hint-broadcast,
and dim_vehiculo, whose size grows with the data, is left to the planner
and AQE. With the autoBroadcast threshold disabled (the situation at
scale: dim_vehiculo no longer fits in memory) the vehiculo lookup must
therefore plan as a sort-merge join while the hinted three stay broadcast
hash joins, and the rows must not change.

The key path follows the source's planned size
(`operators.keys.fits_one_task`). The large path is forced here by
patching that one function, not by shrinking `maxPartitionBytes` (which
would split the scan into thousands of tasks); it must give the same star,
keys included, without the single-partition window.
"""

from __future__ import annotations

import datetime as dt

import pytest

from sri_spark.etl import EtlConfig, run_pipeline
from sri_spark.etl.schema import COL_CODIGO
from sri_spark.etl.source import SRC_ID

from tests.sri_fixture import force_key_path, write_sri_csv

RUN_DATE = dt.date(2025, 7, 2)
CFG = EtlConfig(mode="fixed", run_date=RUN_DATE)


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("sri_smj") / "sri_vehiculos.csv"
    write_sri_csv(str(path), n=1500, seed=23)
    return str(path)


def _table_rows(tables, name):
    df = tables[name]
    rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
    # NULLs sort first: Python can't compare None with non-None directly.
    return sorted(rows, key=lambda t: tuple((v is not None, v) for v in t))


def _plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _joins(df, kind: str) -> list[str]:
    return [line for line in _plan_lines(df) if f"{kind} [" in line]


def _keying_windows(df, first_order_col: str) -> list[str]:
    """Plan lines of a global row_number window whose order starts with
    `first_order_col` (the keyer's window for that table)."""
    spec = f"row_number() windowspecdefinition({first_order_col}#"
    return [line for line in _plan_lines(df) if "Window [" in line and spec in line]


def test_smj_fallback_plan_and_parity(spark, csv_path):
    """autoBroadcast off: the vehiculo lookup sort-merges, the three
    bounded lookups stay broadcast, and the fact's rows equal the default
    build's."""
    baseline = _table_rows(run_pipeline(spark, csv_path, CFG), "fact_registro_vehiculos")
    # hint nodes are erased in plan canonicalization, so the rebuild would
    # silently reuse the default build's fact CACHE instead of planning its
    # own joins — drop it to force a real re-plan
    spark.catalog.clearCache()
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tables = run_pipeline(spark, csv_path, CFG)
        fact = tables["fact_registro_vehiculos"]
        smj, bhj = _joins(fact, "SortMergeJoin"), _joins(fact, "BroadcastHashJoin")
        assert len(smj) == 1 and "CodigoVehiculo" in smj[0], smj
        assert len(bhj) == 3, bhj
        assert not any("CodigoVehiculo" in line for line in bhj), bhj
        assert _table_rows(tables, "fact_registro_vehiculos") == baseline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.catalog.clearCache()


def test_broadcast_hint_still_wins_when_enabled(spark, csv_path):
    """autoBroadcast at its default: a vehiculo lookup that fits the
    threshold is broadcast by the planner without a hint, so all four
    lookups are broadcast hash joins — the plan every star small enough
    to broadcast that dim keeps."""
    spark.catalog.clearCache()  # same canonicalization trap as above
    fact = run_pipeline(spark, csv_path, CFG)["fact_registro_vehiculos"]
    try:
        assert len(_joins(fact, "BroadcastHashJoin")) == 4
        assert not _joins(fact, "SortMergeJoin")
    finally:
        spark.catalog.clearCache()


def test_scalable_keys_identical_star(spark, csv_path, monkeypatch):
    """The two-phase key path (operators.keys.add_surrogate_key_scalable on
    the fact's ID_Registro and the data-sized dim_vehiculo's ID_Vehiculo)
    orders by the same total order as the window keyer, so every key
    value, dim row and fact row equals the default path's, and neither
    table's plan keeps the single-partition keying window."""
    base = run_pipeline(spark, csv_path, CFG)
    names = ("dim_vehiculo", "fact_registro_vehiculos")
    baseline = {name: _table_rows(base, name) for name in names}
    # the checks below must see the windows they assert away on the other path
    assert _keying_windows(base["fact_registro_vehiculos"], SRC_ID)
    assert _keying_windows(base["dim_vehiculo"], COL_CODIGO)
    spark.catalog.clearCache()  # drop the persisted star before re-planning

    force_key_path(monkeypatch, fits=False)
    two_phase = run_pipeline(spark, csv_path, CFG)
    try:
        for name, want in baseline.items():
            assert _table_rows(two_phase, name) == want, name
        assert not _keying_windows(two_phase["fact_registro_vehiculos"], SRC_ID)
        assert not _keying_windows(two_phase["dim_vehiculo"], COL_CODIGO)
    finally:
        spark.catalog.clearCache()
