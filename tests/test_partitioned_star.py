"""Q6 activation proof: write_star's partitioned + clustered fact output.

The reference declares but never consumes a physical design
(config/variables.yaml:18-19 — `clustering_fields: ["Anio", "Marca"]`,
`partitioning_field`; dags/sri_vehiculos_etl_dag.py reads neither). write_star
activates it: fact partitioned by Anio, clustered (range-routed + sorted
within files) by Marca. These tests prove the three observable contracts:

1. a year-filtered read of the written fact PRUNES partitions
   (PartitionFilters in the FileSourceScan node, partition dir row counts),
2. read-back contents equal the in-memory fact the star was written from
   (modulo the two denormalized physical-design columns Anio/Marca),
3. every output file is internally sorted by Marca, so parquet row-group
   min/max stats support brand skipping.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sri_spark.etl import EtlConfig, run_pipeline
from sri_spark.etl.pipeline import write_star

from tests.sri_fixture import write_sri_csv

RUN_DATE = dt.date(2025, 7, 2)


@pytest.fixture(scope="module")
def star_out(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sri_star_q6")
    csv = root / "sri_vehiculos.csv"
    write_sri_csv(str(csv), n=800, seed=11)
    tables = run_pipeline(spark, str(csv), EtlConfig(mode="fixed", run_date=RUN_DATE))
    part_dir = str(root / "partitioned")
    write_star(tables, part_dir)  # partition Anio, cluster Marca
    fact_rows = tables["fact_registro_vehiculos"].collect()
    return spark, part_dir, fact_rows


def test_partitioned_fact_prunes_on_year(star_out):
    spark, part_dir, _ = star_out
    fact = spark.read.parquet(os.path.join(part_dir, "fact_registro_vehiculos"))
    years = [r["Anio"] for r in fact.select("Anio").distinct().collect()]
    assert len(years) >= 1
    year = max(y for y in years if y)

    filtered = fact.filter(F.col("Anio") == year)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the year literal must appear inside the partition filter clause, i.e.
    # the filter reached the scan instead of being applied post-read
    pf = plan[plan.index("PartitionFilters") :].split("]", 1)[0]
    assert str(year) in pf

    # the matching partition directory alone holds exactly the filtered rows
    dir_rows = spark.read.parquet(
        os.path.join(part_dir, "fact_registro_vehiculos", f"Anio={year}")
    ).count()
    assert dir_rows == filtered.count() > 0


def test_partitioned_contents_match_flat(star_out):
    """The partitioned, clustered read-back holds exactly the flat fact
    built in memory: same columns besides Anio/Marca, same rows."""
    spark, part_dir, fact_rows = star_out
    part = spark.read.parquet(os.path.join(part_dir, "fact_registro_vehiculos"))
    shared = list(fact_rows[0].asDict())
    assert set(part.columns) - set(shared) == {"Anio", "Marca"}
    a = sorted(map(tuple, part.select(*shared).collect()))
    b = sorted(map(tuple, fact_rows))
    assert a == b


def test_clustering_sorts_marca_within_files(star_out):
    spark, part_dir, _ = star_out
    fact_dir = os.path.join(part_dir, "fact_registro_vehiculos")
    # every physical file's rows are non-decreasing in Marca — the
    # row-group-min/max clustering contract. collect() preserves in-file row
    # order within each scan partition, and a file's rows are contiguous in
    # its partition, so grouping by input_file_name keeps file order.
    rows = (
        spark.read.parquet(fact_dir)
        .withColumn("f", F.input_file_name())
        .select("f", "Marca")
        .collect()
    )
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append(r["Marca"])
    assert by_file, "no files read back"
    for fname, marcas in by_file.items():
        non_null = [m for m in marcas if m is not None]
        assert non_null == sorted(non_null), f"file not Marca-sorted: {fname}"
