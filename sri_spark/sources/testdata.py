"""Readers for the driver-generated parquet fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.

Parquet is the scan format, so Catalyst gets predicate pushdown, column
pruning and (on a real lake) partition pruning for free. The one eager
step a parquet read takes is schema inference, a one-task Spark job per
read; `load_table` memoizes each file's inferred schema (keyed on its
path, the size and mtime of each data file, and the confs that change
how parquet types map to Spark's), so a session pays it once per file and
every later read of the same bytes runs no job until an action.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# session confs that change the Spark type parquet inference gives a column
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# absolute path -> (fingerprint, inferred schema); a rewritten file
# replaces its entry, so the memo holds at most one schema per path
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # timestamp-bearing queries format wall-clock strings compared against a
    # timezone-naive DuckDB oracle — pin the session to UTC so results don't
    # depend on the caller's environment (runtime-settable, driver-safe)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # runtime-settable; required because the fixture stores timestamp[ns]
        # (works even when the caller owns the SparkSession, e.g. the driver)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def _data_files(path: str) -> list[tuple[str, int, int]] | None:
    """(file, size, st_mtime_ns) of every data file under `path`, or None
    when the local file system cannot see it (a remote URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return [(path, st.st_size, st.st_mtime_ns)]
    out = []
    for root, dirs, files in os.walk(path):
        # Spark skips names that start with "_" or "." (_SUCCESS, .crc)
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                fst = os.stat(os.path.join(root, f))
                out.append((os.path.join(root, f), fst.st_size, fst.st_mtime_ns))
    return out


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the inferred schema memoized: the
    first read of a file infers it, and a later read of the same bytes
    under the same inference confs passes it with `.schema(...)`."""
    files = _data_files(path)
    if files is None:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    fingerprint = (
        tuple(files),
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fingerprint, df.schema)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to session-zoned TimestampType.

    The driver has regenerated the fixture with different physical types
    across rounds, so every reader funnels through this:
    - timestamp[ns] read under nanosAsLong → epoch-nanos long: truncate to
      microseconds with integer division (`div 1000`, not `/ 1000`: float
      division of an epoch-ns long loses precision past 2^53 and lands
      ~12% of values 1 µs off DuckDB's exact ns→µs truncation);
    - timestamp[us] with isAdjustedToUTC=false → TIMESTAMP_NTZ in Spark 4:
      cast to the session-zoned type (session tz pinned to UTC) so epoch
      arithmetic (unix_micros) works and instants match DuckDB's naive
      reading;
    - already TimestampType → no-op.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so `spark.sql` queries run
    verbatim (SURVEY §7.1: every output is also reachable through SQL)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
