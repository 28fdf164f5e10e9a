"""Incremental star updates: equivalence with full rebuild + key stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sri_spark.etl import EtlConfig, run_pipeline
from sri_spark.etl.incremental import apply_increment, publish_increment, read_star
from sri_spark.etl.pipeline import write_star
from sri_spark.operators.caching import unpersist_all
from tests.sri_fixture import write_sri_csv


@pytest.fixture(scope="module")
def split_csvs(tmp_path_factory):
    d = tmp_path_factory.mktemp("incr")
    full = d / "full.csv"
    write_sri_csv(str(full), n=1500, seed=7)
    lines = full.read_text().splitlines()
    header, rows = lines[0], lines[1:]
    base, incr = d / "base.csv", d / "incr.csv"
    base.write_text("\n".join([header] + rows[:1000]) + "\n")
    incr.write_text("\n".join([header] + rows[1000:]) + "\n")
    return str(full), str(base), str(incr)


def _fact_business_rows(tables):
    """Fact rows keyed by the JOIN-KEY-DETERMINED attributes: join out every
    dim and project the columns functionally determined by each lookup's
    join key. Attributes beyond the join key (e.g. Marca, when one
    CodigoVehiculo maps to several 12-col tuples — the reference's Q4
    hazard) depend on which tuple the min-ID dedup picks, and append-only
    keys may legitimately pick a different representative than a rebuild —
    the incremental contract is join-key resolution, not representative
    identity (documented in etl/incremental.py)."""
    f = tables["fact_registro_vehiculos"]
    joined = (
        f.join(tables["dim_tiempo"], "ID_Tiempo")
        .join(tables["dim_vehiculo"], "ID_Vehiculo")
        .join(tables["dim_transaccion"], "ID_Transaccion")
        .join(tables["dim_ubicacion"], "ID_Ubicacion")
        .select(
            F.date_format("FechaCompleta", "yyyy-MM-dd").alias("fecha"),
            "CodigoVehiculo",
            "TipoTransaccion",
            "TipoServicio",
            "CodigoCanton",
            "Provincia",
            F.round("MontoAvaluo", 2).alias("monto"),
            "CantidadRegistros",
        )
    )
    return sorted(
        tuple((v is None, str(v)) for v in r) for r in joined.collect()
    )


def test_incremental_equals_full_rebuild(spark, split_csvs):
    full, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    base_tables = run_pipeline(spark, base, cfg)
    updated = apply_increment(spark, base_tables, incr, cfg)
    rebuilt = run_pipeline(spark, full, cfg)

    assert _fact_business_rows(updated) == _fact_business_rows(rebuilt)
    # dim grains agree with the rebuild
    for name in ("dim_vehiculo", "dim_transaccion", "dim_ubicacion"):
        id_col = [c for c in updated[name].columns if c.startswith("ID_")][0]
        attrs = [c for c in updated[name].columns if c != id_col]
        norm = lambda rows: sorted(
            tuple((v is None, str(v)) for v in r) for r in rows
        )
        a = norm(updated[name].select(*attrs).collect())
        b = norm(rebuilt[name].select(*attrs).collect())
        assert a == b, name


def test_existing_keys_are_stable(spark, split_csvs):
    """The property full refresh cannot give: every (key -> attributes)
    mapping from the base run survives the increment bit-for-bit."""
    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    base_tables = run_pipeline(spark, base, cfg)
    before = {
        name: sorted(tuple(r) for r in base_tables[name].collect())
        for name in ("dim_vehiculo", "dim_transaccion", "dim_ubicacion")
    }
    updated = apply_increment(spark, base_tables, incr, cfg)
    for name, rows in before.items():
        after = set(tuple(r) for r in updated[name].collect())
        assert all(r in after for r in rows), f"{name}: existing keys changed"


def test_fact_ids_stay_dense(spark, split_csvs):
    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    updated = apply_increment(
        spark, run_pipeline(spark, base, cfg), incr, cfg
    )
    f = updated["fact_registro_vehiculos"]
    n = f.count()
    stats = f.agg(
        F.min("ID_Registro"), F.max("ID_Registro"), F.countDistinct("ID_Registro")
    ).first()
    assert stats[0] == 1 and stats[1] == n and stats[2] == n


def test_increment_roundtrips_through_star_dir(spark, split_csvs, tmp_path):
    """read_star(write_star(base)) + increment == in-memory increment."""
    from sri_spark.etl.pipeline import write_star

    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    base_tables = run_pipeline(spark, base, cfg)
    out = str(tmp_path / "star")
    write_star(base_tables, out)
    from_disk = apply_increment(spark, read_star(spark, out), incr, cfg)
    in_memory = apply_increment(spark, base_tables, incr, cfg)
    assert _fact_business_rows(from_disk) == _fact_business_rows(in_memory)


def test_null_attribute_tuples_not_reinserted(spark):
    """ADVICE r3 (medium): the grain anti-join must be null-safe — a dim
    tuple containing NULL must match itself on re-increment instead of
    being appended again with a fresh key on every run."""
    from sri_spark.etl.incremental import extend_dim

    existing = spark.createDataFrame(
        [(1, "A", None), (2, None, "x"), (3, "B", "y")],
        "ID_Vehiculo long, Marca string, Clase string",
    )
    # increment re-derives the exact same attribute tuples (plus one new)
    built = spark.createDataFrame(
        [(1, "A", None), (2, None, "x"), (3, "B", "y"), (4, "C", None)],
        "ID_Vehiculo long, Marca string, Clase string",
    )
    out = extend_dim(existing, built, "ID_Vehiculo")
    rows = {tuple(r) for r in out.collect()}
    assert rows == {
        (1, "A", None),
        (2, None, "x"),
        (3, "B", "y"),
        (4, "C", None),  # only the genuinely new tuple, keyed max+1
    }
    # idempotence: a second identical increment adds nothing
    again = extend_dim(out, built, "ID_Vehiculo")
    assert again.count() == 4


def test_extend_dim_bootstraps_from_empty(spark):
    """ADVICE r3 (low): max over an empty dim is NULL — keys must still
    start at 1, not become NULL."""
    from sri_spark.etl.incremental import extend_dim

    schema = "ID_Vehiculo long, Marca string"
    empty = spark.createDataFrame([], schema)
    built = spark.createDataFrame([(1, "A"), (2, "B")], schema)
    out = extend_dim(empty, built, "ID_Vehiculo")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, "A"), (2, "B")]


def test_publish_recovers_interrupted_swap(spark, split_csvs, tmp_path):
    """ADVICE r3 (low): simulate a crash between the two swap renames
    (live dir gone, .old intact, stale .staging present) — the next
    publish must restore the dim and complete cleanly."""
    import os
    import shutil

    from sri_spark.etl.incremental import publish_increment, read_star
    from sri_spark.etl.pipeline import write_star

    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    base_tables = run_pipeline(spark, base, cfg)
    out = str(tmp_path / "star_crash")
    write_star(base_tables, out)

    dim = os.path.join(out, "dim_vehiculo")
    os.rename(dim, dim + ".old")  # crash state: live dir missing
    os.makedirs(dim + ".staging")  # stale staging from the failed attempt

    published = publish_increment(spark, out, incr, cfg)
    assert not os.path.exists(dim + ".old")
    assert not os.path.exists(dim + ".staging")
    in_memory = apply_increment(spark, base_tables, incr, cfg)
    assert _fact_business_rows(read_star(spark, out)) == _fact_business_rows(
        in_memory
    )
    assert published["dim_vehiculo"].count() > 0


def test_publish_rolls_back_fact_after_crash(spark, split_csvs, tmp_path):
    """Write-ahead manifest contract: a publish that dies AFTER the fact
    delta append but BEFORE the dim swaps must (a) leave a manifest, (b)
    be rolled back and re-applied by the next publish, converging to the
    same state as a never-crashed publish."""
    import os

    from sri_spark.etl import incremental
    from sri_spark.etl.incremental import publish_increment, read_star
    from sri_spark.etl.pipeline import write_star

    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    base_tables = run_pipeline(spark, base, cfg)

    # reference: a clean publish
    clean = str(tmp_path / "star_clean")
    write_star(base_tables, clean)
    publish_increment(spark, clean, incr, cfg)
    clean_state = _fact_business_rows(read_star(spark, clean))
    clean_fact_n = read_star(spark, clean)["fact_registro_vehiculos"].count()

    # crashing publish
    out = str(tmp_path / "star_crashy")
    write_star(base_tables, out)
    base_fact_n = read_star(spark, out)["fact_registro_vehiculos"].count()
    incremental._CRASH_AFTER_FACT_APPEND = True
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            publish_increment(spark, out, incr, cfg)
    finally:
        incremental._CRASH_AFTER_FACT_APPEND = False

    manifest = os.path.join(out, "_publish_manifest.json")
    assert os.path.exists(manifest), "crash must leave the manifest behind"
    # delta rows really landed (the crash state is dirty, not a no-op)
    assert (
        spark.read.parquet(os.path.join(out, "fact_registro_vehiculos")).count()
        > base_fact_n
    )

    # retry: rollback + re-apply must converge to the clean-publish state
    publish_increment(spark, out, incr, cfg)
    assert not os.path.exists(manifest)
    assert _fact_business_rows(read_star(spark, out)) == clean_state
    assert (
        read_star(spark, out)["fact_registro_vehiculos"].count() == clean_fact_n
    ), "crash-retry double-appended the fact delta"


def test_parity_mode_rejected(spark, split_csvs):
    _, base, incr = split_csvs
    tables = run_pipeline(spark, base, EtlConfig(mode="fixed"))
    with pytest.raises(ValueError, match="parity"):
        apply_increment(spark, tables, incr, EtlConfig(mode="parity"))


def test_publish_increment_appends_fact_partitions(spark, split_csvs, tmp_path):
    """publish_increment must leave the base fact files untouched (append,
    not rewrite) and the published star must equal the in-memory result."""
    import glob
    import os

    from sri_spark.etl.incremental import publish_increment
    from sri_spark.etl.pipeline import write_star

    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    base_tables = run_pipeline(spark, base, cfg)
    out = str(tmp_path / "star_pub")
    write_star(base_tables, out)

    fact_dir = os.path.join(out, "fact_registro_vehiculos")
    before_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{fact_dir}/**/part-*.parquet", recursive=True)
    }
    assert before_files

    published = publish_increment(spark, out, incr, cfg)

    # every pre-existing fact file survives byte-stable (append semantics)
    for p, mtime in before_files.items():
        assert os.path.exists(p), f"{p} was rewritten"
        assert os.path.getmtime(p) == mtime
    # and new files exist
    after = set(glob.glob(f"{fact_dir}/**/part-*.parquet", recursive=True))
    assert after - set(before_files)

    # published star (read back) == in-memory increment result
    from sri_spark.etl.incremental import apply_increment, read_star

    in_memory = apply_increment(spark, base_tables, incr, cfg)
    disk = read_star(spark, out)
    assert _fact_business_rows(disk) == _fact_business_rows(in_memory)
    assert disk["fact_registro_vehiculos"].count() == published[
        "fact_registro_vehiculos"
    ].count()


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_publish_increment_releases_its_caches(spark, split_csvs, tmp_path):
    """publish_increment hands back fresh reads of the published star, so
    the source, dims and fact it cached to build the increment are
    released before it returns: publishes must not accumulate caches."""
    _, base, incr = split_csvs
    cfg = EtlConfig(mode="fixed")
    out = str(tmp_path / "star_cache")
    write_star(run_pipeline(spark, base, cfg), out)
    unpersist_all()
    before = _persisted_rdds(spark)
    publish_increment(spark, out, incr, cfg)
    assert _persisted_rdds(spark) == before


def test_unpersist_all_releases_pipeline_caches(spark, split_csvs, tmp_path):
    """run_pipeline caches the source, the dims and the fact for their
    several consumers; unpersist_all() releases every one of them."""
    _, base, _ = split_csvs
    unpersist_all()
    before = _persisted_rdds(spark)
    write_star(run_pipeline(spark, base, EtlConfig(mode="fixed")), str(tmp_path / "star"))
    assert _persisted_rdds(spark) > before
    unpersist_all()
    assert _persisted_rdds(spark) == before
