"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration scales to a multi-executor cluster because nothing here depends
on local mode: AQE handles partition coalescing/skew at runtime, shuffle
partition counts come from config, and all operators in this package are
expressed declaratively (DataFrame/SQL) so Catalyst picks physical strategies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(
    app_name: str = "sri_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Notes on scale: these settings are chosen to be correct at 100 TB, not just
    locally —
    - AQE on: runtime coalescing of small shuffle partitions, skew-join
      splitting (the reference's m:m fan-out joins are skew-prone, SURVEY §1.3 Q4).
    - Session timezone pinned to UTC so date/timestamp semantics are stable
      across driver/executor locales and match the DuckDB oracle.
    - Arrow enabled for the (rare) Pandas-UDF paths; every hot-path operator
      stays JVM-side.
    - Retention caps (status-store executions/stages/tasks/jobs) keep long
      sessions from accreting heap. The generated-code cache is sized the
      other way: large enough that a warm run never recompiles a class.
      Spark's default holds 100 classes and evicts the least recently
      used, so a workload that cycles through more classes than that
      evicts each one just before its next use and never hits. Measured
      working sets (distinct classes compiled per cycle): a 20k-row star
      refresh 140, a perfbench catalog_mix pass 161–173, bench.py's
      headline pass ~313, its extended pass ~1,050 and its graph replay
      family (1x + 10x + 100x points) ~1,430, the last three at sf0.01.
      At the default every warm star refresh recompiled 130–133 classes
      (326–330 class files, 1.3–2.0 s of Janino), and HotSpot then
      JIT-compiled the new copies again: JIT threads took 15–17 of a warm
      refresh's 24–27 CPU-seconds. At 1000 entries a warm refresh or
      catalog pass compiles 0 classes (now and then 2–4, when AQE re-plans
      a stage), but bench.py's extended pass and graph family still
      thrashed; 4000 holds the largest measured set with ~2.8x headroom.
      The cost is Metaspace for retained classes, about 9 KiB per cached
      compile: after bench.py's two query passes (sf0.01, then
      System.gc()) it read 193.1 MiB at 4000 entries vs 180.3 MiB at 100;
      after eight star refreshes, 161.4 MiB at 4000 vs 161.3 MiB at 100 —
      a small working set costs nothing extra. It is a static conf: it
      takes effect when the JVM's first session is built.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture stores timestamp[ns]; read as long and convert in
        # the loader (Spark has no native nanosecond timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write µs-precision INT64 timestamps, not legacy INT96 (interops
        # cleanly with pyarrow/DuckDB readers and our own schema probes)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # long sessions (bench runs ~300 executions incl. a 46M-row star
        # build) accrete status-store state: plan graphs for 1000 SQL
        # executions and 100k task rows/stage are hundreds of MB of heap
        # that starve the build's hash maps — cap retention; the audits
        # scrape stage metrics right after each run, well inside these caps
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "20000")
        .config("spark.ui.retainedJobs", "200")
        # generated-code cache sized to the largest measured working set
        # with headroom, so warm runs never recompile (see the docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
