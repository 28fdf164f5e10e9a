"""Fact-table builder (reference dags/sri_vehiculos_etl_dag.py:395-587).

The reference re-reads the CSV, reads all four dims back from BigQuery, and
runs four sequential pandas left-merges. Here the dims are in-session
DataFrames (no round-trip — SURVEY §3.1). The three bounded dims (tiempo,
transaccion, ubicacion) are hint-broadcast, so the fact side never shuffles
for them; dim_vehiculo grows with the data, so its lookup is left to the
planner and AQE (`_RI_LOOKUPS` holds the one policy, shared with
`flag_integrity`).

Quirk handling (SURVEY §1.3):
- Q1 parity: the reference's date-column candidate list never matches the real
  header, so every fact row is stamped with the run date (reference :447-463);
  fixed mode parses `FECHA PROCESO (DD/MM/AA)` as M/d/yyyy (Q2) and drops
  unparseable rows (the `dropna` at :456).
- Q4 parity: the vehicle and transaction lookups join a 12-/4-column-distinct
  dim on a 1-/2-column key — m:m fan-out preserved, behind an explosion guard;
  fixed mode deduplicates each lookup dim on its join key (1:1).
- Q5: the fact side joins raw values against cleaned dim values (:494-508);
  fixed mode cleans the fact side identically before joining.
- Q3 parity: canton keys join in pandas float-string form ('10701.0', null ->
  'nan'); fixed mode uses canonical integer strings.

ID_Registro reproduces pandas' post-merge positional order: source file order,
then each lookup's dim order for fan-out rows — i.e. row_number over
(__src_id, ID_Vehiculo, ID_Transaccion). A fixed-mode source larger than one
scan task (`operators.keys.fits_one_task`) gets the same keys from the
sort-free two-phase ranking instead of that single-partition sort.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sri_spark.etl.config import EtlConfig
from sri_spark.etl.schema import (
    COL_AVALUO,
    COL_CANTON,
    COL_CODIGO,
    COL_FECHA_PROCESO,
    COL_TIPO_SERVICIO,
    COL_TIPO_TRANSACCION,
    FACT_COLS,
)
from sri_spark.etl.source import SRC_ID, pandas_str_double
from sri_spark.functions.cleaning import clean_text, coerce_date
from sri_spark.operators.keys import (
    add_surrogate_key,
    add_surrogate_key_scalable,
    fits_one_task,
)


# guard against Q4-style fan-out explosions in parity mode: abort when the
# worst-case lookup multiplier exceeds this (SURVEY §7.4). Parity mode is a
# small-fixture equivalence tool: at production scale even a guarded fan-out
# multiplies the fact by the average dim multiplicity AND funnels it through
# the reference's positional-order global sort — use fixed mode (1:1
# lookups) for real workloads, as the survey prescribes
MAX_FANOUT_FACTOR = 100.0


def check_fanout(dim_vehiculo: DataFrame, dim_transaccion: DataFrame) -> float:
    """Estimated worst-case fan-out factor of the two m:m-hazard lookups
    (max dim rows per join key, multiplied). Cheap: aggregates dims only."""
    max_v = (
        dim_vehiculo.groupBy("CodigoVehiculo").count().agg(F.max("count")).first()[0]
        or 1
    )
    max_t = (
        dim_transaccion.groupBy("TipoTransaccion", "TipoServicio")
        .count()
        .agg(F.max("count"))
        .first()[0]
        or 1
    )
    factor = float(max_v) * float(max_t)
    if factor > MAX_FANOUT_FACTOR:
        raise RuntimeError(
            f"lookup fan-out factor {factor:.0f} exceeds guard "
            f"{MAX_FANOUT_FACTOR:.0f} (SURVEY §7.4 Q4); use fixed mode"
        )
    return factor


# the fact's referential-integrity flag: true when all four keys find
# their dim row (reference :735-748); never written to a sink
RI = "__ri"
# (dim, surrogate key, broadcast?) of the star's lookups, used by the fact
# build and the integrity flag: the bounded dims are hint-broadcast;
# dim_vehiculo grows with the data, so the planner and AQE decide
_RI_LOOKUPS = (
    ("dim_tiempo", "ID_Tiempo", True),
    ("dim_vehiculo", "ID_Vehiculo", False),
    ("dim_transaccion", "ID_Transaccion", True),
    ("dim_ubicacion", "ID_Ubicacion", True),
)


def flag_integrity(
    tables: dict[str, DataFrame], carry: dict[str, list[str]] | None = None
) -> DataFrame:
    """The star's fact left-joined to each dim on its surrogate key: the
    fact's own columns, then the `carry[dim]` columns, then the `RI` flag.
    The dims' surrogate keys are unique, so no lookup fans a fact row out,
    and the count of true flags equals the reference's 4-way inner star
    join count."""
    carry = carry or {}
    fact = tables["fact_registro_vehiculos"]
    out, found = fact, []
    for name, key, bounded in _RI_LOOKUPS:
        mark = f"__found_{name}"
        dim = tables[name].select(key, *carry.get(name, ()), F.lit(True).alias(mark))
        out = out.join(F.broadcast(dim) if bounded else dim, key, "left")
        found.append(F.col(mark).isNotNull())
    carried = [c for name, _k, _b in _RI_LOOKUPS for c in carry.get(name, ())]
    return out.select(
        *fact.columns, *carried, functools.reduce(operator.and_, found).alias(RI)
    )


def build_fact(
    src: DataFrame,
    dim_tiempo: DataFrame,
    dim_vehiculo: DataFrame,
    dim_transaccion: DataFrame,
    dim_ubicacion: DataFrame,
    cfg: EtlConfig,
) -> DataFrame:
    fact = src
    bounded = {name: b for name, _key, b in _RI_LOOKUPS}

    def hint(name: str, dim: DataFrame) -> DataFrame:
        return F.broadcast(dim) if bounded[name] else dim

    # ---- date derivation (Q1/Q2) -----------------------------------------
    if cfg.parity:
        fact = fact.withColumn("__fecha", F.lit(cfg.run_date))
    else:
        fact = fact.withColumn(
            "__fecha", coerce_date(F.col(f"`{COL_FECHA_PROCESO}`"), "M/d/yyyy")
        ).filter(F.col("__fecha").isNotNull())

    # ---- two-phase ID_Registro for a large source, BEFORE the lookups ----
    # In fixed mode every lookup dim is deduplicated on its join key, so the
    # four left joins are 1:1 — the surviving row set equals the
    # date-filtered source and __src_id stays UNIQUE per fact row. The key
    # order (__src_id, ID_Vehiculo, ID_Transaccion) therefore collapses to
    # __src_id alone, and __src_id order IS the source frame's
    # (partition, row) order: monotonically_increasing_id ascends over it by
    # construction, and read_sri_csv's fan-out preserves it (range
    # repartition by __src_id + within-partition sort). Ranking HERE, on
    # the filter straight off the persisted source, costs zero exchanges
    # and zero sorts (docs/ETL_STAGE_ATTRIB_r14.json). Parity mode keeps
    # the window keyer after the joins: its m:m fan-out duplicates
    # __src_id, so the tie-breaking dim keys only exist after the joins.
    pre_keyed = not cfg.parity and not fits_one_task(src)
    if pre_keyed:
        fact = add_surrogate_key_scalable(fact, "ID_Registro")

    # ---- tiempo lookup (1:1; reference :469-474) ---------------------------
    fact = fact.join(
        hint("dim_tiempo", dim_tiempo.select("ID_Tiempo", "FechaCompleta")),
        fact["__fecha"] == dim_tiempo["FechaCompleta"],
        "left",
    ).drop("FechaCompleta")

    # ---- vehiculo lookup (reference :484-489) -----------------------------
    veh = dim_vehiculo.select("ID_Vehiculo", "CodigoVehiculo")
    if not cfg.parity:
        veh = veh.groupBy("CodigoVehiculo").agg(F.min("ID_Vehiculo").alias("ID_Vehiculo"))
    fact = fact.join(
        hint("dim_vehiculo", veh),
        fact[f"`{COL_CODIGO}`"] == veh["CodigoVehiculo"],
        "left",
    ).drop("CodigoVehiculo")

    # ---- transaccion lookup (reference :494-508) --------------------------
    tra = dim_transaccion.select("ID_Transaccion", "TipoTransaccion", "TipoServicio")
    if not cfg.parity:
        tra = tra.groupBy("TipoTransaccion", "TipoServicio").agg(
            F.min("ID_Transaccion").alias("ID_Transaccion")
        )
    left_tt = F.col(f"`{COL_TIPO_TRANSACCION}`")
    left_ts = F.col(f"`{COL_TIPO_SERVICIO}`")
    if not cfg.parity:
        left_tt, left_ts = clean_text(left_tt), clean_text(left_ts)
    fact = fact.join(
        hint("dim_transaccion", tra),
        (left_tt == tra["TipoTransaccion"]) & (left_ts == tra["TipoServicio"]),
        "left",
    ).drop("TipoTransaccion", "TipoServicio")

    # ---- ubicacion lookup (Q3; reference :514-526) ------------------------
    if cfg.parity:
        canton_key = pandas_str_double(F.col(f"`{COL_CANTON}`"))
    else:
        canton_key = F.col(f"`{COL_CANTON}`").cast("long").cast("string")
    ubi = dim_ubicacion.select("ID_Ubicacion", "CodigoCanton")
    fact = fact.join(
        hint("dim_ubicacion", ubi), canton_key == ubi["CodigoCanton"], "left"
    ).drop("CodigoCanton")

    # ---- keys + measures (reference :534-549) -----------------------------
    if not pre_keyed:
        # pandas post-merge positional order — global row_number
        key_order = [F.col(SRC_ID), F.col("ID_Vehiculo"), F.col("ID_Transaccion")]
        fact = add_surrogate_key(fact, "ID_Registro", key_order)
    fact = fact.withColumn("CantidadRegistros", F.lit(1).cast("long")).withColumn(
        "MontoAvaluo",
        F.coalesce(F.col(f"`{COL_AVALUO}`").try_cast("double"), F.lit(0.0)),
    )

    # ---- final projection + null-fill (reference :552-571) ----------------
    out = fact.select(*FACT_COLS)
    if cfg.fill_missing_fk:
        # reference semantics: unmatched lookups become FK=1 BEFORE the
        # warehouse load — which is why the reference's own null-FK
        # validation can never fire (it queries the filled table). Set
        # fill_missing_fk=False to keep misses as nulls and make the
        # quality gate's max_null_percentage check observable.
        out = out.na.fill(
            {k: 1 for k in ("ID_Tiempo", "ID_Vehiculo", "ID_Transaccion", "ID_Ubicacion")}
        )
        return out.na.fill(0)
    # fills disabled: zero-fill measures only, keep FK misses observable
    return out.na.fill({"CantidadRegistros": 0, "MontoAvaluo": 0.0})
