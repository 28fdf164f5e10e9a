"""In-flight pipeline metrics via Spark's Observation API.

`observe()` metrics ride along with the job itself: named aggregates are
accumulated DURING the action that produces the output, so row counts /
null counts / value sums cost zero extra scans — the observability a
100 TB pipeline needs, where "run a count(*) afterwards" doubles the bill.
`etl/pipeline.py::write_star` computes the star's quality report this way,
inside the writes that publish it.

Batch usage:

    obs, df = observed(df, "fact", rows=F.count(F.lit(1)),
                       null_dates=F.sum(F.when(c.isNull(), 1).otherwise(0)))
    df.write.parquet(...)          # the action
    metrics = obs.get              # {'rows': ..., 'null_dates': ...}

`codegen_compiles` reads the JVM's generated-code compile counters, so a
caller can diff them around a run and see whether it recompiled classes
the session had already compiled (see session.py's codegen cache cap).

`stage_metrics` reads what Spark's scheduler recorded for the jobs a block
ran: jobs, stages, tasks, executor time, shuffle, spill, input and task
skew, from the in-process status store, which works with the UI off:

    with stage_metrics(spark, "fact_write") as m:
        df.write.parquet(...)
    m["shuffle_write"], m["spill_disk"]
"""

from __future__ import annotations

import contextlib
import itertools

from pyspark.sql import Column, DataFrame, Observation


def observed(
    df: DataFrame, name: str, **metrics: Column
) -> tuple[Observation, DataFrame]:
    """Attach named metric aggregates to `df`; returns (observation, df).

    The metrics accumulate during whatever action later runs on `df`
    (write, collect, count) — read `observation.get` AFTER that action.
    Each metric must be an aggregate Column; names become dict keys.
    DISTINCT aggregates are rejected; `size(collect_set(c))` counts the
    distinct values of a low-cardinality column.

    Placement: attach at the top of the action's plan, above any range
    exchange or sort. `repartitionByRange` (and a global sort) samples its
    child in a job of its own to pick the range bounds, so an observation
    below the exchange also runs in that sampling job and reads up to
    twice the rows. Above it, the observation sits in the action's result
    stage, whose task updates Spark applies exactly once.
    """
    if not metrics:
        raise ValueError("observed() needs at least one metric column")
    obs = Observation(name)
    return obs, df.observe(obs, *[c.alias(n) for n, c in metrics.items()])


def codegen_compiles(spark) -> dict[str, int]:
    """JVM-wide generated-code compile counters since the JVM started:
    {"compiles": Janino compilations, "classes": class files they produced}.

    Diff two readings to count what a run compiled; a warm run whose
    plans the codegen cache still holds reads 0. The counters are
    process-wide: in local mode the driver and the executors share one
    JVM, so the count covers both. On a cluster it covers the driver only.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "compiles": int(metrics.METRIC_COMPILATION_TIME().getCount()),
        "classes": int(metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount()),
    }


# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)
_GROUP_SEQ = itertools.count(1)


@contextlib.contextmanager
def stage_metrics(spark, label: str):
    """Run the body under a job group of its own and yield a dict that,
    once the block exits normally, holds the summed metrics of every
    stage the group's jobs completed:

    jobs, stages, tasks, exec_ms (executor run time), shuffle_read,
    shuffle_write, spill_disk, spill_mem, input_bytes (bytes);
    task_skew: max / median task duration of the stage with the most
    executor time (0.0 when no stage ran more than one task);
    evicted: completed stages the status store no longer holds;
    jobs_dropped: jobs the scheduler started during the block that the
    status store no longer holds.

    The group id is `label` plus a sequence number, so repeated blocks
    with one label never share jobs; the job group set before the block
    is restored after it. The read waits for the listener bus to drain,
    so every stage of the block has landed in the store, and it reads
    each stage only after the status tracker resolves its id: asking the
    store for a stage it no longer holds raises a py4j error, a round
    trip far dearer than the tracker's lookup.

    The store keeps `spark.ui.retainedStages` stages (session.py caps it
    at 200) and drops the oldest once a block runs more. `evicted` is the
    jobs' own completed-stage count minus the completed stages read, so a
    block that outran the cap reads nonzero there instead of quietly low
    byte counts. A job the store dropped (`spark.ui.retainedJobs`) is not
    listed at all, stages and all, so `evicted` cannot see it; instead
    every job id the scheduler issued during the block is looked up, and
    those the store no longer holds count in `jobs_dropped`. Jobs another
    thread started meanwhile count too, so a nonzero value means "maybe
    incomplete".
    """
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    group = f"{label}#{next(_GROUP_SEQ)}"
    sc.setJobGroup(group, label)
    first_job = scheduler.numTotalJobs()
    out: dict = {}
    try:
        yield out
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
    end_job = scheduler.numTotalJobs()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out.update(_read_group(sc, group))
    tracker = sc.statusTracker()
    out["jobs_dropped"] = sum(
        tracker.getJobInfo(j) is None for j in range(first_job, end_job)
    )


def _read_group(sc, group: str) -> dict:
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "exec_ms", "shuffle_read", "shuffle_write",
         "spill_disk", "spill_mem", "input_bytes"),
        0,
    )
    completed, seen, dominant = 0, set(), None
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        completed += store.job(job).numCompletedStages()
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            if sid in seen or tracker.getStageInfo(sid) is None:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # a skipped stage: an earlier stage wrote its output
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_ms"] += st.executorRunTime()
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill_disk"] += st.diskBytesSpilled()
            out["spill_mem"] += st.memoryBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            if st.numCompleteTasks() > 1 and (
                dominant is None or st.executorRunTime() > dominant.executorRunTime()
            ):
                dominant = st
    out["task_skew"] = _task_skew(sc, store, dominant) if dominant else 0.0
    out["evicted"] = completed - out["stages"]
    return out


def _task_skew(sc, store, st) -> float:
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(st.stageId(), st.attemptId(), q)
    if not summary.isDefined():
        return 0.0
    dur = summary.get().duration()
    med, top = dur.apply(0), dur.apply(1)
    return round(top / med, 3) if med > 0 else 0.0
