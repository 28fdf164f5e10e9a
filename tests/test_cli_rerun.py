"""CLI entry point + truncate-load (WRITE_TRUNCATE) rerun semantics."""

from __future__ import annotations

import json
import os

from tests.sri_fixture import write_sri_csv


def test_cli_end_to_end_and_idempotent_rerun(spark, tmp_path, capsys):
    csv = str(tmp_path / "sri.csv")
    write_sri_csv(csv, n=500, seed=7)
    out = str(tmp_path / "star")

    from sri_spark.etl.run import main

    main(["--source", csv, "--out", out, "--mode", "fixed", "--no-enforce"])
    first = {
        name: spark.read.parquet(os.path.join(out, name)).count()
        for name in os.listdir(out)
    }
    assert set(first) == {
        "dim_tiempo", "dim_vehiculo", "dim_transaccion", "dim_ubicacion",
        "fact_registro_vehiculos",
    }
    assert first["dim_tiempo"] == 2192

    # one JSON run report: verdict, rows and bytes per table, per-leg metrics
    run = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run["gate"] == "skipped"
    assert run["rows"] == first
    assert run["quality"]["dim_tiempo"]["total_registros"] == 2192
    assert all(b > 0 for b in run["bytes"].values())
    assert run["legs"]["publish"]["jobs"] > 0
    assert run["legs"]["metrics"]["jobs"] > 0
    assert set(run["metricas"]) == {"por_anio", "por_marca", "por_provincia"}

    # rerun = truncate-load: identical table states, no appends
    main(["--source", csv, "--out", out, "--mode", "fixed", "--no-enforce"])
    second = {
        name: spark.read.parquet(os.path.join(out, name)).count()
        for name in os.listdir(out)
    }
    assert second == first


def test_ingest_binds_by_name_not_position(spark, tmp_path):
    """Reordered + partial CSVs must read correctly (pandas name semantics)."""
    import csv as csvmod

    from sri_spark.etl import EtlConfig, run_pipeline
    from tests.sri_fixture import HEADER, generate_sri_rows

    rows = generate_sri_rows(300, seed=11)
    # reorder columns and drop CANTÓN entirely
    drop_idx = HEADER.index("CANTÓN")
    order = [i for i in range(len(HEADER)) if i != drop_idx]
    order = order[::-1]  # reversed column order
    path = tmp_path / "reordered.csv"
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csvmod.writer(f)
        w.writerow([HEADER[i] for i in order])
        w.writerows([[r[i] for i in order] for r in rows])

    t = run_pipeline(spark, str(path), EtlConfig(mode="fixed"))
    fact = t["fact_registro_vehiculos"]
    n = fact.count()
    assert n > 250  # rows survived (only unparseable dates dropped)
    # canton column missing -> every location FK degrades to the default 1
    assert fact.filter("ID_Ubicacion != 1").count() == 0
    # but the vehicle lookup still resolved real codes (name binding worked)
    assert t["dim_vehiculo"].count() > 50
    assert fact.filter("ID_Tiempo IS NULL").count() == 0
