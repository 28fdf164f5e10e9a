"""Spans around calls into the program's layers, with Spark's own counters.

A span records (name, start, end, parent, op id). Each span runs its jobs
under a job group of its own; when the span closes, the group's jobs and
stages are read back from the in-process status store
(``sc._jsc.sc().statusStore()``), which works with the UI disabled. The
read happens right after the span because sri_spark/session.py caps the
store at 200 stages and 50 SQL executions. Spans stay in memory until the
run ends.

Spans come only from this benchmark's files: `patched` swaps a module's
public functions for wrappers that open a span around each call.
"""

from __future__ import annotations

import contextlib
import time

from perfbench.stats import median

COUNTERS = (
    "jobs", "tasks", "exec_ms", "shuffle_bytes", "spill_bytes",
    "input_bytes", "input_records",
)
# values a workload attaches to a span record after the call it wraps
EXTRAS = ("plan_ms", "result_rows", "output_bytes", "files", "files_added")


def read_group(sc, group: str) -> dict:
    """Sum the stage metrics of every job run under `group`.

    `dominant` is (executor ms, max task ms / median task ms) of the stage
    with the most executor time, the stage a skew would slow most."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(COUNTERS, 0)
    dominant = (0, 0.0)
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in list(info.stageIds) if info else []:
            try:
                st = store.lastStageAttempt(stage)
            except Exception:  # evicted from the capped store, or never ran
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier stage's output
            out["tasks"] += st.numCompleteTasks()
            out["exec_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            if st.executorRunTime() > dominant[0] and st.numCompleteTasks() > 1:
                dominant = (st.executorRunTime(), _skew(sc, store, st))
    out["dominant"] = dominant
    return out


def _skew(sc, store, st) -> float:
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(st.stageId(), st.attemptId(), q)
    if not summary.isDefined():
        return 0.0
    dur = summary.get().duration()
    med, top = dur.apply(0), dur.apply(1)
    return top / med if med > 0 else 0.0


class Tracer:
    """Collects spans for one run. `op` names the operation the next spans
    belong to; spans of one operation share it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, **extra):
        self._seq += 1
        rec = {
            "id": self._seq,
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self._seq}",
            **extra,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["own"] = read_group(self.sc, rec["group"])
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def wrap(self, name: str, fn, results: dict | None = None, key: str = ""):
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if results is not None:
                results[key] = out
            return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, module, names: dict[str, str], results: dict | None = None):
        """Replace module.<attr> with a span-opening wrapper for each
        attr -> layer entry of `names`, and restore them on exit. With
        `results`, each wrapper also stores its call's return value there
        under the attribute name."""
        saved = {attr: getattr(module, attr) for attr in names}
        try:
            for attr, layer in names.items():
                setattr(module, attr, self.wrap(layer, saved[attr], results, attr))
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)


def _in_layer(name: str, layer: str) -> bool:
    return name == layer or name.startswith(layer + ".")


def layer_totals(spans: list[dict], op: str, layer: str, cores: int) -> dict:
    """Counters of `layer` within one operation.

    A span counts when its name is the layer or a sub-layer of it and no
    enclosing span already counted for the layer, so nested spans are not
    double-counted. Its own jobs and those of every span nested in it are
    included."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def covered(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if _in_layer(by_id[p]["name"], layer):
                return True
            p = by_id[p]["parent"]
        return False

    def subtree(s: dict):
        yield s
        for c in children.get(s["id"], []):
            yield from subtree(c)

    tot = dict.fromkeys(COUNTERS + EXTRAS, 0)
    tot["s"] = 0.0
    dominant = (0, 0.0)
    for s in spans:
        if s["op"] != op or not _in_layer(s["name"], layer) or covered(s):
            continue
        tot["s"] += s["end"] - s["start"]
        for k in EXTRAS:
            tot[k] += s.get(k, 0)
        for t in subtree(s):
            for k in COUNTERS:
                tot[k] += t["own"][k]
            if t["own"]["dominant"][0] > dominant[0]:
                dominant = t["own"]["dominant"]
    tot["exec_s"] = tot.pop("exec_ms") / 1000.0
    tot["core_util"] = tot["exec_s"] / (tot["s"] * cores) if tot["s"] > 0 else 0.0
    tot["task_skew"] = dominant[1]
    return tot


def self_times(spans: list[dict], op: str) -> dict[str, float]:
    """Seconds each span name spends outside its child spans, per op."""
    out: dict[str, float] = {}
    kids: dict[int, float] = {}
    for s in spans:
        if s["op"] == op and s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in spans:
        if s["op"] == op:
            own = s["end"] - s["start"] - kids.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def per_layer(spans: list[dict], ops: list[str], layers, cores: int) -> dict:
    """Median over `ops` of each layer's per-op counters, for the ops in
    which the layer ran."""
    out = {}
    for layer in layers:
        samples = [layer_totals(spans, op, layer, cores) for op in ops]
        samples = [s for s in samples if s["s"] > 0]
        if samples:
            out[layer] = {k: median([s[k] for s in samples]) for k in samples[0]}
    return out
