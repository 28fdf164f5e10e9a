"""Surrogate-key generation (SURVEY §2.4 K1).

The reference assigns sequential 1..N surrogate keys by in-memory row order
(reference `dags/sri_vehiculos_etl_dag.py:70,161,245,534`). Row order is not a
meaningful concept for a distributed DataFrame, so the engine's determinism
contract is: **surrogate keys are 1..N in the total order of an explicit,
caller-supplied ordering key** (for dims: the natural key; for the calendar:
the date).

Two implementations, and one rule that picks between them:

- `add_surrogate_key` — `row_number()` over a global `Window.orderBy(...)`.
  Exact and simple, but a global-sort single partition; right for dimension
  tables and for any input one task can hold.
- `add_surrogate_key_scalable` — sort-free two-phase ranking of an input
  that is already partition-ordered: partition-local positions plus
  per-partition offsets (a tiny driver-side cumulative sum over partition
  counts, not a data collect). Keys are dense 1..N and equal to the
  window keyer's over the same total order.
- `fits_one_task` — the choice: the window keyer while the planner's size
  estimate of the source fits the input Spark gives one scan task, the
  two-phase keyer beyond it. It reads the estimate of the optimized plan,
  so it runs no job, and nothing about it is configured.

"Partition-ordered" means partitions form ascending ranges of the ordering
key and rows within each partition are ascending. Two provable sources of
that layout exist in this repo: a frame freshly stamped by
`source.with_src_id` and ranked by that id (monotonically_increasing_id is
ascending over (partition, row) BY CONSTRUCTION), and
`repartitionByRange(k).sortWithinPartitions(k)` done upstream (fused with
dim_vehiculo's dedup). The keyer does not persist its input: the rank is
deterministic given the (cached) upstream layout, so the offsets job and
the final plan each read that cache.

The partition-local position is decoded from
`monotonically_increasing_id()`, whose layout is
`(partition_id << 33) | row_index`: `mid & (2^33 - 1)` IS the 0-based
position, evaluated as a projection with no exchange, no window, no sort.
Upper bound: 2^33 ≈ 8.6B rows per partition — far above any sane task
size; the id layout is a documented stable contract of the function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# monotonically_increasing_id packs the 0-based row position within a
# partition into the low 33 bits (partition id in the high bits)
_MID_ROW_MASK = (1 << 33) - 1


def add_surrogate_key(
    df: DataFrame, key_name: str, order_by: list[Column | str]
) -> DataFrame:
    """Dense 1..N key via row_number() over an explicit total order."""
    w = Window.orderBy(*order_by)
    return df.withColumn(key_name, F.row_number().over(w).cast("long"))


def fits_one_task(df: DataFrame) -> bool:
    """True when the planner's size estimate of `df` is at most
    `spark.sql.files.maxPartitionBytes`, the input Spark gives one scan
    task. Reads the optimized plan's statistics: plans, runs no job."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return int(size) <= conf.filesMaxPartitionBytes()


def add_surrogate_key_scalable(df: DataFrame, key_name: str) -> DataFrame:
    """Dense 1..N key of a partition-ordered `df` without a global sort.

    Partition-local 1-based positions decoded from
    `monotonically_increasing_id` (a pure projection — no window, no
    exchange) plus per-partition row-count offsets (one tiny collect of a
    row per partition, not data). Rank in partition order + position
    within the partition = global rank, so key VALUES are identical to
    `add_surrogate_key` over the order the layout follows.
    """
    mid = F.monotonically_increasing_id()
    with_local = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__local_rn",
        (mid.bitwiseAND(F.lit(_MID_ROW_MASK)) + F.lit(1)).cast("long"),
    )
    # one row per partition — tiny collect, not data
    counts = {
        r["__pid"]: r["cnt"]
        for r in with_local.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # broadcast-join the per-partition offsets: O(1) expression depth (a
    # when/otherwise chain here would grow with the partition count and blow
    # codegen limits at exactly the scale this function targets)
    offsets_df = with_local.sparkSession.createDataFrame(
        offsets, "__pid int, __offset long"
    )
    return (
        with_local.join(F.broadcast(offsets_df), "__pid")
        .withColumn(key_name, F.col("__local_rn") + F.col("__offset"))
        .drop("__pid", "__local_rn", "__offset")
    )
