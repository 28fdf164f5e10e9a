"""Per-query optimization harness for the optimization rounds.

Times named catalog queries with EXACTLY the bench methodology (untimed
warm-up pass, then median-of-3 noop-sink executions, unpersist_all between
runs) so numbers here are comparable to bench.py's, and optionally dumps
`explain('formatted')` to plans/r13/<query>_<tag>.txt — the before/after
evidence the optimization round commits.

Each timed execution goes through bench.py's ledger, so next to its median
wall every query prints its median-repeat stage metrics: jobs, tasks,
executor time, shuffle write/read, disk spill and task skew — the layer
that moved in an A/B, not just the wall. It also prints the median CPU
seconds of this process, the JVM and its Python workers per execution
(perfbench/run.py::cpu_s, the unit perfbench gates), which host CPU steal
does not inflate the way it inflates the wall.

Usage:
    python scripts/opt_measure.py q1 q2 ...            # time only
    python scripts/opt_measure.py --explain before q1  # also dump plans
    python scripts/opt_measure.py --repeats 5 q1
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--explain", default=None, metavar="TAG",
                    help="dump explain('formatted') to plans/r{N}/<q>_<TAG>.txt "
                         "(N = the current round, from bench._current_round)")
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from sri_spark.operators.caching import unpersist_all
    from sri_spark.plans import all_queries
    from sri_spark.session import get_spark

    spark = get_spark("sri_spark-opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import bench
    from perfbench.run import cpu_s

    plans_dir = os.path.join(here, "plans", f"r{bench._current_round()}")
    ledger = bench._Ledger()
    ledger.arm(spark)

    out: dict[str, dict] = {}
    for name in args.queries:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.explain:
            os.makedirs(plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                queries[name](spark, SF_DIR).explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.explain}.txt"), "w") as f:
                f.write(buf.getvalue())
            unpersist_all()

        def run():
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            unpersist_all()

        def run_cpu():
            before = cpu_s()
            run()
            return cpu_s() - before

        run()  # warm-up, untimed (JIT, codegen caches, footer reads)
        reps = [ledger.timed(run_cpu, name) for _ in range(args.repeats)]
        ts, cpus = sorted(r[0] for r in reps), sorted(r[1] for r in reps)
        sm = bench._median_repeat(ledger.stage_metrics[name])
        out[name] = {
            "sec": round(ts[len(ts) // 2], 4),
            "cpu_s": round(cpus[len(cpus) // 2], 3),
            "stage_metrics": sm,
        }
        print(f"{name}: median {out[name]['sec']}s  (all: {[round(t, 3) for t in ts]})"
              f"  cpu {out[name]['cpu_s']} s  (all: {[round(c, 2) for c in cpus]})"
              f"  jobs {sm['jobs']} tasks {sm['tasks']} exec {sm['exec_ms']} ms"
              f"  shuffle w/r {sm['shuffle_write'] / bench.MIB:.2f}/"
              f"{sm['shuffle_read'] / bench.MIB:.2f} MiB"
              f"  spill {sm['spill_disk'] / bench.MIB:.2f} MiB"
              f"  skew {sm['task_skew']}"
              + ("  (store dropped work: bytes read low)"
                 if bench._incomplete(ledger.stage_metrics[name]) else ""),
              flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
