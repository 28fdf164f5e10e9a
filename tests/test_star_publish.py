"""Full-refresh publish: the star's quality metrics ride its writes, and
the gate guards an atomic swap (etl/pipeline.py::write_star over the
etl/publish.py protocol that publish_increment shares)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sri_spark.etl import EtlConfig, publish, run_pipeline
from sri_spark.etl.pipeline import write_star
from sri_spark.etl.quality import TABLES, QualityThresholds, quality_report
from sri_spark.operators.observability import stage_metrics
from tests.sri_fixture import write_sri_csv
from tests.test_quality_gate import _star

REJECT = QualityThresholds(min_records_threshold=10**6)


def listing(root: str) -> dict[str, int]:
    """Relative path -> size of every file under `root`."""
    return {
        os.path.relpath(os.path.join(dp, f), root): os.path.getsize(os.path.join(dp, f))
        for dp, _dns, fs in os.walk(root)
        for f in fs
    }


def reference_report(t: dict) -> dict:
    """The metrics as the star computed them before they rode the writes:
    one aggregate per table and the 4-way inner star join count."""

    def agg(df, *cols):
        return df.agg(*cols).first().asDict()

    fact = t["fact_registro_vehiculos"]
    return {
        "dim_tiempo": agg(
            t["dim_tiempo"], F.count("*").alias("total_registros"),
            F.countDistinct("Anio").alias("anios_unicos"),
            F.date_format(F.min("FechaCompleta"), "yyyy-MM-dd").alias("fecha_min"),
            F.date_format(F.max("FechaCompleta"), "yyyy-MM-dd").alias("fecha_max")),
        "dim_vehiculo": agg(
            t["dim_vehiculo"], F.count("*").alias("total_registros"),
            F.countDistinct("Marca").alias("marcas_unicas"),
            F.countDistinct("Clase").alias("clases_unicas")),
        "dim_transaccion": agg(
            t["dim_transaccion"], F.count("*").alias("total_registros"),
            F.countDistinct("TipoTransaccion").alias("tipos_transaccion")),
        "dim_ubicacion": agg(
            t["dim_ubicacion"], F.count("*").alias("total_registros"),
            F.countDistinct("Provincia").alias("provincias_unicas"),
            F.countDistinct("Region").alias("regiones_unicas")),
        "fact_registro_vehiculos": agg(
            fact, F.count("*").alias("total_registros"),
            F.sum("CantidadRegistros").alias("total_cantidad"),
            F.avg("MontoAvaluo").alias("avaluo_promedio"),
            F.count(F.when(F.col("ID_Tiempo").isNull(), 1)).alias("registros_sin_tiempo"),
            F.count(F.when(F.col("ID_Vehiculo").isNull(), 1)).alias("registros_sin_vehiculo")),
        "registros_con_integridad": (
            fact.join(F.broadcast(t["dim_tiempo"].select("ID_Tiempo")), "ID_Tiempo")
            .join(t["dim_vehiculo"].select("ID_Vehiculo"), "ID_Vehiculo")
            .join(F.broadcast(t["dim_transaccion"].select("ID_Transaccion")), "ID_Transaccion")
            .join(F.broadcast(t["dim_ubicacion"].select("ID_Ubicacion")), "ID_Ubicacion")
            .count()
        ),
    }


def assert_same_report(got: dict, want: dict) -> None:
    """Counts exact; the average to 1e-12 relative (summation order)."""
    got, want = json.loads(json.dumps(got)), json.loads(json.dumps(want))
    g_avg = got["fact_registro_vehiculos"].pop("avaluo_promedio")
    w_avg = want["fact_registro_vehiculos"].pop("avaluo_promedio")
    assert got == want
    assert (g_avg is None) == (w_avg is None)
    if w_avg is not None:
        assert abs(g_avg - w_avg) <= 1e-12 * abs(w_avg)


@pytest.fixture(scope="module")
def csvs(tmp_path_factory):
    d = tmp_path_factory.mktemp("publish")
    prior, small = str(d / "prior.csv"), str(d / "small.csv")
    write_sri_csv(prior, n=1500, seed=7)
    write_sri_csv(small, n=600, seed=8)
    return prior, small


@pytest.fixture(scope="module")
def published(spark, csvs, tmp_path_factory):
    """A star published from the 1,500-row fixture: (frames, report, dir)."""
    tables = run_pipeline(spark, csvs[0], EtlConfig(mode="fixed"))
    out = str(tmp_path_factory.mktemp("prior") / "star")
    report = write_star(tables, out)
    return tables, report, out


@pytest.fixture(scope="module")
def small_star(spark, csvs):
    return run_pipeline(spark, csvs[1], EtlConfig(mode="fixed"))


def test_report_from_the_writes_equals_the_aggregates(spark, published):
    tables, report, out = published
    assert_same_report(report, reference_report(tables))
    # the flag lookups fan nothing out: the written fact has fact.count() rows
    fact = spark.read.parquet(os.path.join(out, "fact_registro_vehiculos"))
    assert fact.count() == tables["fact_registro_vehiculos"].count()
    assert "__ri" not in fact.columns
    assert set(os.listdir(out)) == set(TABLES)


def test_quality_report_after_write_star_runs_no_job(spark, published):
    tables, report, _ = published
    with stage_metrics(spark, "quality_after_write") as m:
        again = quality_report(tables)
    assert m["jobs"] == 0
    assert again == report


def test_other_frames_are_measured_by_one_noop_pass(spark, csvs, published):
    """Same plan, new frame objects: measured afresh, same numbers."""
    fresh = run_pipeline(spark, csvs[0], EtlConfig(mode="fixed"))
    with stage_metrics(spark, "quality_fresh") as m:
        report = quality_report(fresh)
    assert m["jobs"] > 0
    assert_same_report(report, published[1])


@pytest.mark.parametrize(
    "rows",
    [[(1, 1, 1, 1, 1, 1, 10.0)],
     [(1, 1, 1, 1, 1, 1, 10.0)] * 2,
     [(1, 1, 1, 1, 1, 1, 10.0), (2, None, 1, 7, 1, 1, 2.5), (3, 1, None, 1, 1, 1, 4.0)]],
    ids=["one_row", "duplicate_ids", "broken_keys"],
)
def test_hand_built_star_report_parity(spark, tmp_path, rows):
    t = _star(spark, rows)
    want = reference_report(t)
    assert_same_report(quality_report(t), want)
    assert_same_report(write_star(t, str(tmp_path / "star")), want)


def test_failing_gate_leaves_prior_star_byte_identical(spark, published, small_star, tmp_path):
    out = str(tmp_path / "star")
    shutil.copytree(published[2], out)
    before = listing(out)
    with pytest.raises(AssertionError, match="min_records_threshold"):
        write_star(small_star, out, gate=REJECT)
    assert listing(out) == before

    # a gate that admits the data publishes it
    report = write_star(small_star, out, gate=QualityThresholds(min_records_threshold=1))
    assert listing(out) != before
    assert set(os.listdir(out)) == set(TABLES)
    fact = spark.read.parquet(os.path.join(out, "fact_registro_vehiculos"))
    assert fact.count() == report["fact_registro_vehiculos"]["total_registros"]


def test_gate_needs_the_staged_sink(published):
    with pytest.raises(ValueError, match="gate"):
        write_star(published[0], "project.dataset", fmt="bigquery", gate=REJECT)


@pytest.mark.parametrize("k", range(len(TABLES) + 1))
def test_crash_after_k_swaps_recovers_prior_star(spark, published, small_star, tmp_path, k):
    out = str(tmp_path / "star")
    shutil.copytree(published[2], out)
    before = listing(out)
    publish._CRASH_AFTER_SWAPS = k
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_star(small_star, out)
    finally:
        publish._CRASH_AFTER_SWAPS = None
    assert os.path.exists(os.path.join(out, publish.MANIFEST))
    publish.recover(out, TABLES)
    assert listing(out) == before


def test_next_publish_after_a_crash_is_whole(spark, published, small_star, tmp_path):
    out = str(tmp_path / "star")
    shutil.copytree(published[2], out)
    publish._CRASH_AFTER_SWAPS = 2
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_star(small_star, out)
    finally:
        publish._CRASH_AFTER_SWAPS = None
    report = write_star(small_star, out)
    assert set(os.listdir(out)) == set(TABLES)
    for name in TABLES:
        n = spark.read.parquet(os.path.join(out, name)).count()
        assert n == report[name]["total_registros"], name


def test_cli_gate_rejects_small_source_and_keeps_prior_star(
    spark, published, csvs, tmp_path, capsys
):
    """etl/run.py over an existing star with a source under the 1,000-row
    threshold: the run raises, reports the verdict, and publishes nothing."""
    from sri_spark.etl.run import main

    out = str(tmp_path / "star")
    shutil.copytree(published[2], out)
    before = listing(out)
    with pytest.raises(AssertionError, match="min_records_threshold"):
        main(["--source", csvs[1], "--out", out, "--mode", "fixed"])
    assert listing(out) == before
    run = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run["gate"].startswith("failed: fact rows")
    assert run["quality"]["fact_registro_vehiculos"]["total_registros"] < 1000
    assert "s" in run["legs"]["publish"]
