"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload star_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, from an
untraced run; with --trace 1 they are the per-layer ones, from a run that
alternates untraced and traced ops. The line before it is the full run
record: session config, sample counts, wall-clock figures, workload
figures and checks.

The gated timings are CPU seconds of the runner, the JVM and its Python
workers, not wall seconds: on a shared host the wall time of the same op
follows the CPU time the hypervisor steals, which the record also shows.

Everything the run writes stays under .bench_build/perfbench/ in the
checkout: seeded inputs (kept across runs, keyed by seed and size), the
published star, Spark's scratch space, and the spans of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# the driver heap, stated rather than inherited: bench.py's 24g default
# does not fit a 15 GiB host, and these workloads stay far below 4g
DRIVER_HEAP = "4g"
# a run must end within 180 s: a traced run starts no further optional
# publish cycle after this many seconds (a warm cycle takes about 10 s)
EPILOGUE_BY_S = 120.0

END_TO_END = {"setup_s": "s", "op_cpu_p50_s": "s", "ok_frac": "ratio"}
COUNTER_UNITS = {
    "s": "s", "jobs": "count", "tasks": "count", "exec_s": "s",
    "core_util": "ratio", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "task_skew": "ratio",
}
# layer -> its counters beyond COUNTER_UNITS; README.md maps each layer to
# the end-to-end metric it should move
LAYERS = {
    "etl.source": {"input_bytes": "bytes"},
    "etl.dims": {},
    "etl.dims.vehiculo": {},
    "etl.fact": {},
    "etl.pipeline": {"output_bytes": "bytes", "files": "count"},
    "etl.quality": {},
    "etl.incremental": {"files_added": "count", "output_bytes": "bytes"},
    "etl.metrics": {"plan_ms": "ms", "input_rows_per_result_row": "ratio"},
    **{f"plans.{f}": {"plan_ms": "ms"}
       for f in ("dedup", "similarity", "text", "events", "graph", "stats")},
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    out = {"session.start_s": "s", "trace.overhead_s": "s"}
    for layer, extras in LAYERS.items():
        for counter, unit in {**COUNTER_UNITS, **extras}.items():
            out[f"{layer}.{counter}"] = unit
    return out


def bootstrap() -> None:
    """Fail fast, before any output, outside a full checkout."""
    for need in ("sri_spark/session.py", "tests/sri_fixture.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from a checkout")
    # the checkout root replaces this script's directory on the path, so
    # perfbench/trace.py cannot shadow the standard library's trace module
    sys.path[0] = ROOT
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # keep every JVM's scratch files in the checkout too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def process_tree(root: int) -> set[int]:
    """The pid `root` and the pid of every live process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def peak_rss_mib(jvm_pid: int) -> dict[int, float]:
    """VmHWM in MiB of the JVM and of every process below it (the Python
    workers), by pid."""
    return {p: _hwm_kib(p) / 1024.0 for p in process_tree(jvm_pid)}


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process: its own CPU time
    and that of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this runner and every
    process below it: the JVM and its Python workers. A worker that ended
    still counts, through its parent's reaped-children time. Time the
    hypervisor stole from the host's CPUs is not in it."""
    return sum(_cpu_ticks(p) for p in process_tree(os.getpid())) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this host, over all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, and with it the Python workers, to
    exit: closing the gateway's stdin is the JVM's signal to shut down."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


class Loop:
    """Runs and checks operations; counts attempts and failures."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def op(self, run, timed: list[dict] | None) -> None:
        """One op, checked outside its clocks. If it passed, its wall
        seconds, CPU seconds and the seconds the host lost to steal while
        it ran go to `timed` (None: the untimed warm-up)."""
        self.attempted += 1
        try:
            t, cpu, steal = time.perf_counter(), cpu_s(), steal_s()
            result = run()
            sample = {
                "s": time.perf_counter() - t,
                "cpu_s": cpu_s() - cpu,
                "steal_s": steal_s() - steal,
            }
            self.w.check(result)
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            self.errors.append("".join(traceback.format_exception_only(ex)).strip())
            return
        if timed is not None:
            timed.append(sample)
            self.w.after_op(result, sample["s"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    bootstrap()

    from perfbench.stats import median, tail
    from perfbench.trace import Tracer, per_layer, self_times
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]()
    w.prepare(WORK, args.seed)  # inputs and reference answers: outside every clock

    load_start = os.getloadavg()
    t0, cpu0, steal0 = time.perf_counter(), cpu_s(), steal_s()
    from sri_spark.session import get_spark

    spark = get_spark(
        "perfbench", extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    )
    session_s = time.perf_counter() - t0
    w.start(spark)
    loop = Loop(w)
    loop.op(w.op, None)  # the untimed warm-up op ends set-up
    setup = {"s": time.perf_counter() - t0, "cpu_s": cpu_s() - cpu0, "steal_s": steal_s() - steal0}

    plain: list[dict] = []
    traced: list[dict] = []
    tracer = Tracer(spark) if args.trace else None
    t_loop = time.perf_counter()
    rounds = 0
    # a traced run alternates plain and traced ops, min_ops of each
    while rounds < w.min_ops or time.perf_counter() - t_loop < args.seconds:
        loop.op(w.op, plain)
        if tracer:
            tracer.op = f"op-{rounds}"
            loop.op(lambda: w.traced_op(tracer), traced)
        rounds += 1
    loop_s = time.perf_counter() - t_loop
    if tracer:
        a, f = w.epilogue(tracer, t_start + EPILOGUE_BY_S)
        loop.attempted, loop.failed = loop.attempted + a, loop.failed + f

    jvm = spark._jvm
    config = {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "load_avg_start": load_start,
    }
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    rss = peak_rss_mib(jvm_pid)
    stop_session(spark)
    config["load_avg_end"] = os.getloadavg()

    record = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "config": config,
        "samples": {
            "ops": len(plain), "loop_s": loop_s,
            **{f"op_{k}": [x[k] for x in plain] for k in ("s", "cpu_s", "steal_s")},
        },
        # wall-clock figures, not gated: on a shared host they follow the
        # time the hypervisor steals (steal_s), which swung from 0.3 to 14
        # CPU-seconds per op between runs of the same op
        "op_p50_s": median([x["s"] for x in plain]),
        "setup": setup,
        # not gated: G1 sizes the heap from GC timing, so the same run
        # peaks anywhere from 1.4 to 2.5 GiB
        "peak_rss_mb": sum(rss.values()),
        "rss_mb": {"jvm": rss[jvm_pid], "workers": sorted(v for p, v in rss.items() if p != jvm_pid)},
        "session_start_s": session_s,
        "op_tail_s": tail([x["s"] for x in plain]),
        "figures": w.extras(),
        "errors": loop.errors[:5],
    }
    if tracer:
        cores = config["cpus"]
        ops = sorted({s["op"] for s in tracer.spans if str(s["op"]).startswith("op-")})
        layers = per_layer(tracer.spans, ops, w.layers, cores)
        serve = sorted({s["op"] for s in tracer.spans if str(s["op"]).startswith("serve-")})
        if serve:
            # the last publish cycle is warm; the first pays code generation
            layers.update(per_layer(tracer.spans, [serve[-1]], ("etl.incremental", "etl.metrics"), cores))
        metrics = {}
        for name, unit in per_layer_units().items():
            layer, _, counter = name.rpartition(".")
            vals = layers.get(layer, {})
            if counter == "input_rows_per_result_row":
                v = vals.get("input_records", 0) / max(vals.get("result_rows", 0), 1)
            else:
                v = vals.get(counter, 0)
            metrics[name] = {"value": float(v), "unit": unit}
        metrics["session.start_s"]["value"] = session_s
        wall = {k: median([x["s"] for x in v]) for k, v in (("plain", plain), ("traced", traced))}
        metrics["trace.overhead_s"]["value"] = wall["traced"] - wall["plain"]
        # per traced op, each span name's time outside its child spans: the
        # root span's share is what the layer spans leave unaccounted
        record["self_s"] = {op: self_times(tracer.spans, op) for op in ops + serve}
        record["traced_samples"] = len(traced)
        record["op_p50_traced_s"] = wall["traced"]
        record["op_cpu_p50_traced_s"] = median([x["cpu_s"] for x in traced])
        with open(os.path.join(WORK, f"spans-{w.name}-{args.seed}.json"), "w") as fh:
            json.dump([{k: v for k, v in s.items() if k != "own"} | s["own"]
                       for s in tracer.spans], fh, default=str)
    else:
        record["ops_per_s"] = len(plain) / loop_s
        metrics = {
            "setup_s": setup["cpu_s"],
            "op_cpu_p50_s": median([x["cpu_s"] for x in plain]),
            "ok_frac": (loop.attempted - loop.failed) / loop.attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
