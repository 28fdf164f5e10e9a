"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py

Run from the root of a checkout; exits non-zero on the first failed check.
It checks that the same seed produces byte-identical inputs (and another
seed different ones), that the tail-percentile rule picks the right sample
and refuses when there are too few, that the CPU meter counts a child
process that has ended, and that the status-store reader sees the shuffle
of a known groupBy.
"""

from __future__ import annotations

import filecmp
import os
import random
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench.run import WORK, bootstrap, stop_session  # noqa: E402 — needs ROOT on the path


# files no seed changes: the fixed geography tables
_SEED_FREE = {"region.parquet", "nation.parquet"}


def check_inputs_reproducible() -> None:
    from perfbench import inputs

    base = os.path.join(WORK, "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    made = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        work = os.path.join(base, tag)
        made[tag] = (
            os.path.dirname(inputs.sri_inputs(work, seed)["source"]),
            inputs.catalog_inputs(work, seed),
        )
    for da, db, dc in zip(made["a"], made["b"], made["c"]):
        names = sorted(os.listdir(da))
        same, diff, err = filecmp.cmpfiles(da, db, names, shallow=False)
        assert same == names and not diff and not err, f"seed 7 twice differs: {diff + err}"
        same, _diff, _err = filecmp.cmpfiles(da, dc, names, shallow=False)
        assert not set(same) - _SEED_FREE, f"seeds 7 and 8 share inputs: {same}"
    shutil.rmtree(base)


def check_tail_rule() -> None:
    from perfbench.stats import tail

    values = [float(i) for i in range(1, 201)]
    random.Random(0).shuffle(values)
    assert tail(values[:10]) is None and tail(values[:99]) is None
    t = tail([float(i) for i in range(1, 101)])  # n=100: rank 90 is p90
    assert t == {"value": 90.0, "pct": 90.0, "n": 100}, t
    t = tail(values)  # n=200, unsorted: rank 190 is p95
    assert t == {"value": 190.0, "pct": 95.0, "n": 200}, t


def check_cpu_meter() -> None:
    from perfbench.run import cpu_s

    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    before = cpu_s()
    subprocess.run([sys.executable, "-c", busy], check=True)
    spent = cpu_s() - before
    # the child's half second plus its interpreter start
    assert 0.45 <= spent <= 1.5, f"a 0.5 CPU-second child read as {spent:.2f} s"


def check_status_store() -> None:
    from perfbench.trace import Tracer
    from sri_spark.session import get_spark

    spark = get_spark("perfbench-selfcheck")
    try:
        tr = Tracer(spark)
        tr.op = "check"
        with tr.span("groupby"):
            df = spark.range(100_000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v")
            assert len(df.collect()) == 97
        own = tr.spans[-1]["own"]
        assert own["jobs"] >= 1 and own["tasks"] >= 1, own
        assert own["shuffle_bytes"] > 0, f"no shuffle read back: {own}"
    finally:
        stop_session(spark)


def main() -> int:
    bootstrap()
    for check in (check_tail_rule, check_inputs_reproducible, check_cpu_meter, check_status_store):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
