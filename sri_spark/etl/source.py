"""SRI CSV source reader.

One declared-schema read shared by the whole pipeline (the reference
re-downloads and re-parses the CSV in four separate tasks — reference
dags/sri_vehiculos_etl_dag.py:136-141, :225-229, :296-300, :408-412; in Spark
the lazy plan plus column pruning makes one definition serve every consumer).

``__src_id`` is a file-order row id: Spark's CSV splits preserve byte order,
and `monotonically_increasing_id()` is ascending over (partition index, row
index), so sorting by it reproduces pandas' positional row order — the order
the reference's surrogate keys depend on (SURVEY §2.4 K1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.etl.schema import SRI_SCHEMA

SRC_ID = "__src_id"


def read_sri_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the CSV and apply the schema contract BY NAME.

    A declared `.schema(...)` on a CSV read binds by position, silently
    misreading files whose columns are reordered; pandas (the reference)
    binds by header name. So: read raw strings with header names, then cast
    each contract column by name — missing columns surface as typed nulls
    (the reference's graceful-degradation semantics, SURVEY §2.2 P6),
    extra columns are dropped, order never matters.
    """
    raw = spark.read.option("header", True).option("encoding", "UTF-8").csv(path)
    present = set(raw.columns)
    cols = []
    for field in SRI_SCHEMA.fields:
        if field.name in present:
            cols.append(F.col(f"`{field.name}`").try_cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    df = raw.select(*cols)
    # a production-sized SRI file (~75 MB) is one input split under the
    # default 128 MB maxPartitionBytes: stamp the file-order id on the
    # ordered pass, then fan out so every downstream operator parallelizes.
    # r14 (docs/ETL_STAGE_ATTRIB_r14.json): at the 100x replay the 7.3 GB
    # CSV already scans as ~58 splits, and the unconditional fan-out was a
    # pure 6.2 GiB shuffle round-trip — skip it when the scan is already
    # at least as parallel as the session. When fanning out, RANGE-partition
    # by __src_id and sort within partitions instead of round-robin: same
    # balance (ids are dense), but it PRESERVES the invariant that the
    # source frame is partition-ordered by __src_id — either way rows
    # arrive ascending over (partition, row) — which lets the fixed-mode
    # fact of a large source assign its two-phase ID_Registro with zero
    # exchanges (operators/keys.py; the ids themselves are stamped before
    # the exchange, so their VALUES are identical in all layouts).
    from sri_spark.session import default_parallelism

    stamped = with_src_id(df)
    if df.rdd.getNumPartitions() >= default_parallelism():
        return stamped
    return stamped.repartitionByRange(
        default_parallelism(), F.col(SRC_ID)
    ).sortWithinPartitions(SRC_ID)


def with_src_id(df: DataFrame) -> DataFrame:
    return df.withColumn(SRC_ID, F.monotonically_increasing_id())


def pandas_str(col: Column, null_repr: str = "nan") -> Column:
    """Replicate pandas `astype(str)` semantics for string/integer columns:
    NaN -> 'nan' (-> 'NAN' after upper), everything else via plain cast."""
    return F.when(col.isNull(), F.lit(null_repr)).otherwise(col.cast("string"))


def pandas_str_double(col: Column, null_repr: str = "nan") -> Column:
    """pandas `astype(str)` for float64 columns (Q3 '10701.0' keys).

    Spark's double->string cast matches str(float) only in [1e-3, 1e7) —
    outside it Spark prints scientific notation ('1.2E7') where Python gives
    '12000000.0'. Integral doubles (the canton/year/cc domain) are therefore
    formatted through decimal, which never uses scientific notation."""
    integral = (col == F.floor(col)) & (F.abs(col) < F.lit(1e15))
    return (
        F.when(col.isNull(), F.lit(null_repr))
        .when(
            integral,
            F.concat(col.cast("decimal(20,0)").cast("string"), F.lit(".0")),
        )
        .otherwise(col.cast("string"))
    )
