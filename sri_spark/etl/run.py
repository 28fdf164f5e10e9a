"""CLI entry point for the SRI star pipeline — the orchestration layer
(SURVEY §2.10 G1–G5) collapsed into one Spark application.

The reference's Airflow DAG exists to sequence six isolated pandas tasks and
ferry state through BigQuery; in Spark the dependency graph is the lazy plan
itself, so 'orchestration' reduces to: run the app (G1 scheduling and G1
retries belong to whatever scheduler invokes spark-submit), publish the
star behind the quality gate (G3), emit metrics (G4), and report the run
(G5).

The run report is one JSON object on standard output: the gate verdict,
the quality report, rows per table, bytes written per table, the metric
rollups, and per leg ('publish': the gated write, which runs the lazily
built star; 'metrics': the three rollups) the wall seconds and the
`stage_metrics` of its jobs. A run the gate rejects prints the report,
leaves the prior star in place, and raises.

Usage:
    python -m sri_spark.etl.run --source sri.csv --out /tmp/star \
        [--mode parity|fixed] [--run-date YYYY-MM-DD] [--no-enforce]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="SRI star-schema ETL")
    parser.add_argument("--source", required=True, help="SRI CSV path")
    parser.add_argument("--out", required=True, help="output directory (parquet star)")
    parser.add_argument("--mode", default="fixed", choices=["parity", "fixed"])
    parser.add_argument("--run-date", default="2025-07-02")
    parser.add_argument("--no-enforce", action="store_true", help="skip quality gate")
    args = parser.parse_args(argv)

    from sri_spark.etl import EtlConfig, run_pipeline
    from sri_spark.etl.metrics import (
        metricas_por_anio,
        metricas_por_marca,
        metricas_por_provincia,
    )
    from sri_spark.etl.pipeline import write_star
    from sri_spark.etl.quality import TABLES, QualityThresholds, quality_report
    from sri_spark.operators.observability import stage_metrics
    from sri_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("sri-star-etl")
    cfg = EtlConfig(mode=args.mode, run_date=dt.date.fromisoformat(args.run_date))

    gate = None if args.no_enforce else QualityThresholds()
    run: dict = {"mode": args.mode, "source": args.source, "out": args.out,
                 "gate": "passed" if gate else "skipped", "legs": {}}

    def leg(name, fn):
        t, m = time.perf_counter(), {}
        try:
            with stage_metrics(spark, f"etl.{name}") as m:
                return fn()
        finally:  # a failed leg keeps its wall; its stage metrics stay unread
            run["legs"][name] = {"s": round(time.perf_counter() - t, 3), **m}

    tables = run_pipeline(spark, args.source, cfg)
    try:
        report = leg("publish", lambda: write_star(tables, args.out, gate=gate))
    except AssertionError as ex:
        run["gate"] = f"failed: {ex}"
        run["quality"] = quality_report(tables)  # what write_star observed
        print(json.dumps(run, default=str), flush=True)
        raise
    run["quality"] = report
    run["rows"] = {t: report[t]["total_registros"] for t in TABLES}
    run["bytes"] = {
        t: sum(os.path.getsize(os.path.join(dp, f))
               for dp, _dns, fs in os.walk(os.path.join(args.out, t)) for f in fs)
        for t in TABLES
    }
    run["metricas"] = leg("metrics", lambda: {
        name: [r.asDict() for r in metric(tables).collect()]
        for name, metric in (
            ("por_anio", metricas_por_anio),
            ("por_marca", metricas_por_marca),
            ("por_provincia", metricas_por_provincia),
        )
    })
    run["wall_s"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(run, default=str), flush=True)


if __name__ == "__main__":
    main()
