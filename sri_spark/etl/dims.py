"""Dimension builders for the SRI star schema.

Each builder is one lazy DataFrame expression. Parity mode reproduces the
reference's observable pandas behavior including quirks (SURVEY §1.3); fixed
mode repairs them. Reference spans cited per function.

Determinism contract for surrogate keys: parity keys follow first-occurrence
file order (what pandas `drop_duplicates`/`unique` produce); fixed keys
follow the natural-key sort. Both are total orders, so keys are stable across
runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.etl.config import EtlConfig
from sri_spark.etl.schema import (
    CANTON_MAP,
    COL_CANTON,
    COL_COLOR2,
    TRANSACCION_COLS,
    TRANSACCION_RENAME,
    VEHICULO_CLEAN_COLS,
    VEHICULO_COLS,
    VEHICULO_RENAME,
)
from sri_spark.etl.source import SRC_ID, pandas_str, pandas_str_double
from sri_spark.functions.cleaning import clean_text
from sri_spark.functions.dates import date_parts, nombre_dia_es, nombre_mes_es
from sri_spark.operators.caching import scoped_persist
from sri_spark.operators.keys import (
    add_surrogate_key,
    add_surrogate_key_scalable,
    fits_one_task,
)

_CALENDAR_START = "2020-01-01"


def build_dim_tiempo(spark: SparkSession) -> DataFrame:
    """Generated daily calendar 2020-01-01..2025-12-31, 2,192 rows
    (reference dags/sri_vehiculos_etl_dag.py:50-121). Narrow generate —
    no shuffle. The days are consecutive, so the key in date order (the
    order pandas used) is the day's offset from the first one: arithmetic,
    with no window and no single-partition exchange."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(_CALENDAR_START)),
                F.to_date(F.lit("2025-12-31")),
                F.expr("interval 1 day"),
            )
        ).alias("FechaCompleta")
    )
    parts = date_parts(F.col("FechaCompleta"))
    dim = days.select(
        "FechaCompleta",
        *[c.alias(n) for n, c in parts.items()],
        nombre_mes_es(F.col("FechaCompleta")).alias("NombreMes"),
        nombre_dia_es(F.col("FechaCompleta")).alias("NombreDiaSemana"),
    )
    return dim.select(
        (F.datediff("FechaCompleta", F.lit(_CALENDAR_START)) + 1)
        .cast("long")
        .alias("ID_Tiempo"),
        "FechaCompleta", "Anio", "Trimestre", "Mes", "Dia",
        "NombreMes", "NombreDiaSemana",
    )


def _parity_clean(col: F.Column) -> F.Column:
    """pandas `astype(str).str.upper().str.strip()` — note NaN -> 'NAN'
    (astype(str) stringifies NaN before upper; reference :164-166, :248-250)."""
    return F.upper(F.trim(pandas_str(col)))


def build_dim_vehiculo(src: DataFrame, cfg: EtlConfig) -> DataFrame:
    """Distinct 12-column vehicle dim (reference :123-210).

    parity: dedup raw columns first (clean AFTER dedup — Q5), key by first
    occurrence, text nulls become 'NAN'.
    fixed: standardize first, then dedup, key by natural sort, nulls stay null.

    Physically: the dedup is one hash-aggregate shuffle on the 12 columns
    with map-side partial aggregation. Unlike the other dims, dim_vehiculo
    is DATA-SIZED (most source rows carry a distinct vehicle combo), so in
    fixed mode a source larger than one scan task (`fits_one_task`) keys it
    with the sort-free two-phase ranking the fact uses: identical key
    values (same total order), no single-partition window sort. Parity
    mode always uses the window keyer: it is a small-fixture tool.
    """
    cols = VEHICULO_COLS
    if cfg.parity:
        dedup = src.groupBy(*cols).agg(F.min(SRC_ID).alias("__ord"))
        dedup = add_surrogate_key(dedup, "ID_Vehiculo", [F.col("__ord")])
        cleaned = dedup.select(
            "ID_Vehiculo",
            *[
                (_parity_clean(F.col(c)) if c in VEHICULO_CLEAN_COLS else F.col(c)).alias(c)
                for c in cols
            ],
        )
        # COLOR 2 is not in the cleaned set; real nulls -> 'N/A' (:169-170)
        filled = cleaned.withColumn(
            COL_COLOR2, F.coalesce(F.col(f"`{COL_COLOR2}`"), F.lit("N/A"))
        )
    else:
        std = src.select(
            *[
                (clean_text(F.col(f"`{c}`")) if c in VEHICULO_CLEAN_COLS else F.col(f"`{c}`")).alias(c)
                for c in cols
            ]
        )
        std = std.withColumn(COL_COLOR2, F.coalesce(F.col(f"`{COL_COLOR2}`"), F.lit("N/A")))
        key_cols = [F.col(f"`{c}`") for c in cols]
        if fits_one_task(src):
            filled = add_surrogate_key(std.dropDuplicates(), "ID_Vehiculo", key_cols)
        else:
            # range-partition FIRST (docs/ETL_STAGE_ATTRIB_r14.json):
            # equal rows co-locate (RangePartitioning on the full column
            # set satisfies the distinct aggregate's ClusteredDistribution),
            # so the dedup runs with no second exchange and the
            # within-partition sort establishes the key order once. The
            # persist lets the keyer's offsets job and every dim consumer
            # read one materialization of the ordered layout.
            ordered = scoped_persist(
                std.repartitionByRange(*key_cols)
                .dropDuplicates()
                .sortWithinPartitions(*key_cols)
            )
            filled = add_surrogate_key_scalable(ordered, "ID_Vehiculo")
    renamed = filled.withColumnsRenamed(VEHICULO_RENAME)
    return renamed.select("ID_Vehiculo", *VEHICULO_RENAME.values())


def build_dim_transaccion(src: DataFrame, cfg: EtlConfig) -> DataFrame:
    """Distinct 4-column transaction dim (reference :212-281). All four
    columns are standardized (including numeric CATEGORÍA -> string)."""
    cols = TRANSACCION_COLS
    if cfg.parity:
        dedup = src.groupBy(*cols).agg(F.min(SRC_ID).alias("__ord"))
        dedup = add_surrogate_key(dedup, "ID_Transaccion", [F.col("__ord")])
        cleaned = dedup.select(
            "ID_Transaccion",
            *[_parity_clean(F.col(f"`{c}`")).alias(c) for c in cols],
        )
    else:
        std = src.select(
            *[clean_text(F.col(f"`{c}`").cast("string")).alias(c) for c in cols]
        )
        dedup = std.dropDuplicates()
        cleaned = add_surrogate_key(
            dedup, "ID_Transaccion", [F.col(f"`{c}`") for c in cols]
        )
    renamed = cleaned.withColumnsRenamed(TRANSACCION_RENAME)
    return renamed.select("ID_Transaccion", *TRANSACCION_RENAME.values())


def _map_lit(pairs: dict[str, str]) -> F.Column:
    args: list[F.Column] = []
    for k, v in pairs.items():
        args.append(F.lit(k))
        args.append(F.lit(v))
    return F.create_map(*args)


def _canton_maps() -> tuple[F.Column, F.Column, F.Column]:
    """Literal-map form of the lookup: constant-folded by Catalyst, so the
    canton enrichment is a pure projection — no createDataFrame round-trip,
    no broadcast job (both are fixed multi-second overheads per run). Built
    lazily: Column literals need an active SparkContext."""
    return (
        _map_lit({k: v[0] for k, v in CANTON_MAP.items()}),
        _map_lit({k: v[1] for k, v in CANTON_MAP.items()}),
        _map_lit({k: v[2] for k, v in CANTON_MAP.items()}),
    )


def build_dim_ubicacion(src: DataFrame, cfg: EtlConfig) -> DataFrame:
    """Canton geography dim (reference :283-389).

    parity: codes stringified the pandas way ('10701.0' — Q3), so none match
    the integer-keyed map and every canton degrades to the CANTON_x /
    NO_IDENTIFICADA branch, exactly like the production run; keys follow
    first-occurrence order (pandas `unique()`).
    fixed: canonical integer-string codes that actually hit the map.
    """
    canton = F.col(f"`{COL_CANTON}`")
    distinct = (
        src.filter(canton.isNotNull())
        .groupBy(canton.alias("__codigo"))
        .agg(F.min(SRC_ID).alias("__ord"))
    )
    if cfg.parity:
        keyed = distinct.withColumn("CodigoCanton", F.trim(pandas_str_double(F.col("__codigo"))))
        keyed = add_surrogate_key(keyed, "ID_Ubicacion", [F.col("__ord")])
    else:
        keyed = distinct.withColumn(
            "CodigoCanton", F.col("__codigo").cast("long").cast("string")
        )
        keyed = add_surrogate_key(keyed, "ID_Ubicacion", [F.col("CodigoCanton")])
    code = F.col("CodigoCanton")
    name_map, prov_map, region_map = _canton_maps()
    return keyed.select(
        "ID_Ubicacion",
        "CodigoCanton",
        F.coalesce(
            name_map[code], F.concat(F.lit("CANTON_"), code)
        ).alias("NombreCanton"),
        F.coalesce(prov_map[code], F.lit("NO_IDENTIFICADA")).alias("Provincia"),
        F.coalesce(region_map[code], F.lit("NO_IDENTIFICADA")).alias("Region"),
        F.lit("ECUADOR").alias("Pais"),
    )
