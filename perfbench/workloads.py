"""The benchmark's workloads: one closed-loop client each.

star_build  the reference's entire nightly job: a full WRITE_TRUNCATE
            refresh of the star from the SRI CSV, then its quality gate.
catalog_mix the LLM-data operators of the query catalog, interleaved.

Each workload has `prepare` (inputs and reference answers, outside every
clock), `op` (one operation, returning what `check` needs), `check` (run
outside the op's clock; raises when the answer is wrong) and `traced_op`
(the same operation with a span around each layer call). Set-up ends with
one untimed op, and a run times at least `min_ops` ops.
See README.md for why these workloads and how the layers map to metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import inputs
from perfbench.trace import Tracer


class CheckFailed(Exception):
    """An operation's result differs from the answer the seed fixes."""


def noop(df) -> None:
    """Evaluate a frame's complete plan without collecting it. A count()
    would let Catalyst prune columns and unique-key joins (bench.py::_noop)."""
    df.write.format("noop").mode("overwrite").save()


def listing(path: str) -> dict[str, int]:
    """Size of every file under a directory, by path."""
    return {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _dns, fs in os.walk(path)
        for f in fs
    }


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory; data files exclude the
    _SUCCESS markers and checksum files the local file system writes."""
    files = listing(path)
    data = [f for f in files if not os.path.basename(f).startswith(("_", "."))]
    return sum(files.values()), len(data)


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of a frame's own query
    execution, after an action ran on it."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


# ------------------------------------------------------------------ star_build

_STAR_TABLES = (
    "dim_tiempo", "dim_vehiculo", "dim_transaccion", "dim_ubicacion",
    "fact_registro_vehiculos",
)
# run_pipeline's calls into the layers, as named in the per-layer metrics
_PIPELINE_LAYERS = {
    "read_sri_csv": "etl.source",
    "build_dim_tiempo": "etl.dims",
    "build_dim_vehiculo": "etl.dims.vehiculo",
    "build_dim_transaccion": "etl.dims",
    "build_dim_ubicacion": "etl.dims",
    "build_fact": "etl.fact",
}
_INCREMENT_LAYERS = {
    "read_sri_csv": "etl.source",
    "build_dim_vehiculo": "etl.dims.vehiculo",
    "build_dim_transaccion": "etl.dims",
    "build_dim_ubicacion": "etl.dims",
    "extend_dim": "etl.dims",
    "build_fact": "etl.fact",
}
SERVE_CYCLES = 2  # the first publish is cold; its successor is reported


class StarBuild:
    name = "star_build"
    min_ops = 2
    layers = ("etl.source", "etl.dims", "etl.dims.vehiculo", "etl.fact",
              "etl.pipeline", "etl.quality", "etl.incremental", "etl.metrics")

    def prepare(self, work: str, seed: int) -> None:
        self.inp = inputs.sri_inputs(work, seed)
        self.expected = self.inp["expected"]
        self.src_bytes = os.path.getsize(self.inp["source"])
        self.star = os.path.join(work, "run", "star")
        shutil.rmtree(os.path.dirname(self.star), ignore_errors=True)
        self.star_ratio: list[float] = []
        self.rows_per_s: list[float] = []
        self.serve: list[dict] = []

    def start(self, spark) -> None:
        from sri_spark.etl import EtlConfig

        self.spark = spark
        self.cfg = EtlConfig(mode="fixed")

    def check(self, report: dict) -> None:
        for table in _STAR_TABLES:
            got = report[table]["total_registros"]
            if got != self.expected[table]:
                raise CheckFailed(f"{table}: {got} rows, seed fixes {self.expected[table]}")
        fact = self.expected["fact_registro_vehiculos"]
        if report["registros_con_integridad"] != fact:
            raise CheckFailed("referential integrity lost fact rows")

    def _release(self) -> None:
        from sri_spark.operators.caching import unpersist_all

        unpersist_all()
        self.spark.catalog.clearCache()

    def op(self) -> dict:
        from sri_spark.etl.pipeline import run_pipeline, write_star
        from sri_spark.etl.quality import quality_report

        tables = run_pipeline(self.spark, self.inp["source"], self.cfg)
        write_star(tables, self.star)
        report = quality_report(tables, enforce=True)  # raises if the gate fails
        self._release()
        return report

    def after_op(self, report: dict, seconds: float) -> None:
        self.star_ratio.append(tree_bytes(self.star)[0] / self.src_bytes)
        self.rows_per_s.append(self.inp["rows"] / seconds)

    def traced_op(self, tr: Tracer) -> dict:
        """The refresh with each leg forced in order through a full noop
        evaluation of its persisted frame: the source scan, the four dims,
        the fact; then write_star and quality_report."""
        import sri_spark.etl.pipeline as pipeline
        from sri_spark.etl.quality import quality_report

        made: dict = {}
        with tr.span("star_build.refresh"):
            with tr.patched(pipeline, _PIPELINE_LAYERS, made):
                tables = pipeline.run_pipeline(self.spark, self.inp["source"], self.cfg)
            with tr.span("etl.source"):
                noop(made["read_sri_csv"])  # run_pipeline persisted this frame
            with tr.span("etl.dims"):
                for name in ("dim_tiempo", "dim_transaccion", "dim_ubicacion"):
                    noop(tables[name])
                with tr.span("etl.dims.vehiculo"):
                    noop(tables["dim_vehiculo"])
            with tr.span("etl.fact"):
                noop(tables["fact_registro_vehiculos"])
            with tr.span("etl.pipeline") as rec:
                pipeline.write_star(tables, self.star)
            rec["output_bytes"], rec["files"] = tree_bytes(self.star)
            with tr.span("etl.quality"):
                report = quality_report(tables, enforce=True)
            self._release()
        return report

    def epilogue(self, tr: Tracer, deadline: float) -> tuple[int, int]:
        """Traced runs only: publish the seeded 1% deltas onto the star the
        loop left behind, each followed by the reference's nine verbatim
        validation and metrics statements and the three etl.metrics
        rollups over read_star. A cycle after the first starts only before
        `deadline` (a perf_counter value), so a slow host still ends the
        run in time. Returns (ops attempted, ops failed)."""
        import sri_spark.etl.incremental as incremental

        attempted = failed = 0
        fact_rows = self.expected["fact_registro_vehiculos"]
        for cycle, delta in enumerate(self.inp["deltas"][:SERVE_CYCLES]):
            if cycle and time.perf_counter() > deadline:
                break
            tr.op = f"serve-{cycle}"
            attempted += 1
            try:
                before = listing(self.star)
                with tr.span("etl.incremental") as rec:
                    with tr.patched(incremental, _INCREMENT_LAYERS):
                        incremental.publish_increment(self.spark, self.star, delta, self.cfg)
                after = listing(self.star)
                rec["files_added"] = len(set(after) - set(before))
                rec["output_bytes"] = sum(after.values()) - sum(before.values())
                fact_rows += self.expected["delta_fact_rows"][cycle]
                self._release()
                self.serve.append({
                    "publish_s": rec["end"] - rec["start"],
                    "rows_per_s": self.inp["delta_rows"] / (rec["end"] - rec["start"]),
                    "star_bytes_per_src_byte": rec["output_bytes"] / os.path.getsize(delta),
                })
            except Exception as ex:  # noqa: BLE001 — a failed op is counted
                failed += 1
                self.serve.append({"error": f"{type(ex).__name__}: {ex}"})
                continue
            a, f = self._reads(tr, fact_rows)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def _reads(self, tr: Tracer, fact_rows: int) -> tuple[int, int]:
        from sri_spark.etl import metrics
        from sri_spark.etl.incremental import read_star
        from sri_spark.plans.reference_sql import _REFERENCE_SQL

        tables = read_star(self.spark, self.star)
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        reads = {n: (lambda s=s: self.spark.sql(s)) for n, s in _REFERENCE_SQL.items()}
        for fn in (metrics.metricas_por_anio, metrics.metricas_por_marca,
                   metrics.metricas_por_provincia):
            reads[fn.__name__] = lambda fn=fn: fn(tables)
        checks = {
            "refsql_validate_fact": lambda r: r[0]["total_registros"] == fact_rows,
            "refsql_referential_integrity": lambda r: r[0]["registros_con_claves_validas"] == fact_rows,
            "refsql_metrics_por_anio": lambda r: sum(x["total_registros"] for x in r) == fact_rows,
            "metricas_por_anio": lambda r: sum(x["total_registros"] for x in r) == fact_rows,
        }
        failed = 0
        for name, make in reads.items():
            try:
                with tr.span("etl.metrics", statement=name) as rec:
                    df = make()
                    rows = df.collect()
                rec["plan_ms"], rec["result_rows"] = plan_ms(df), len(rows)
                if not rows or not checks.get(name, lambda r: True)(rows):
                    raise CheckFailed(f"{name}: wrong result {rows[:3]}")
            except Exception as ex:  # noqa: BLE001 — a failed op is counted
                failed += 1
                self.serve[-1].setdefault("errors", []).append(f"{name}: {ex}"[:300])
        return len(reads), failed

    def extras(self) -> dict:
        from perfbench.stats import median

        out = {
            "rows": self.inp["rows"],
            "src_bytes": self.src_bytes,
            "rows_per_s": median(self.rows_per_s),
            "star_bytes_per_src_byte": median(self.star_ratio),
            "expected_counts": self.expected,
        }
        if self.serve:
            out["serve_cycles"] = self.serve
        return out


# ----------------------------------------------------------------- catalog_mix

# (registered name, layer): one or two queries per catalog family, each
# about 3 s or less warm on 4 cores; the 5-9 s queries (graph_pagerank_trade,
# stats_theil_sen_trend) are left out so a run holds two passes
MIX = (
    ("dedup_exact", "plans.dedup"),
    ("similarity_ivf_topk", "plans.similarity"),
    ("text_quality_score", "plans.text"),
    ("events_window_agg", "plans.events"),
    ("graph_triangle_count", "plans.graph"),
    ("agg_percentiles", "plans.stats"),
    ("agg_weighted_median_price", "plans.stats"),
)


def _normalized(records: list[dict]) -> list[tuple]:
    from tests.oracle_harness import _norm

    cols = sorted(records[0]) if records else []
    return sorted(tuple(_norm(r[c]) for c in cols) for r in records)


class CatalogMix:
    """One op is one pass over the mix: every query once, interleaved in an
    order the seed shuffles anew for each pass. A single query varies
    10-20% from one execution to the next, so a pass, not a query, is
    the sample; per-query medians are in the run record."""

    name = "catalog_mix"
    min_ops = 2
    layers = tuple(sorted({layer for _q, layer in MIX}))

    def prepare(self, work: str, seed: int) -> None:
        """Write the seeded fixture and compute every query's answer once
        with its DuckDB oracle."""
        from sri_spark.plans import all_oracles
        from tests.oracle_harness import run_oracle

        self.dir = inputs.catalog_inputs(work, seed)
        oracles = all_oracles()
        self.answers = {}
        for name, _layer in MIX:
            odf = run_oracle(oracles[name], self.dir)
            self.answers[name] = _normalized(odf.where(odf.notna(), None).to_dict("records"))
        self.rng = random.Random(seed)
        self.seconds: dict[str, list[float]] = {}

    def start(self, spark) -> None:
        from sri_spark.plans import all_queries

        self.spark = spark
        self.queries = all_queries()

    def _pass(self, run_query) -> list[tuple[str, list, float]]:
        order = list(MIX)
        self.rng.shuffle(order)
        out = []
        for name, layer in order:
            t = time.perf_counter()
            rows = run_query(name, layer)
            out.append((name, rows, time.perf_counter() - t))
        return out

    def _run(self, name: str):
        from sri_spark.operators.caching import unpersist_all

        df = self.queries[name](self.spark, self.dir)
        rows = df.collect()
        unpersist_all()
        return df, rows

    def op(self) -> list[tuple[str, list, float]]:
        return self._pass(lambda name, _layer: self._run(name)[1])

    def traced_op(self, tr: Tracer) -> list[tuple[str, list, float]]:
        def run(name: str, layer: str):
            with tr.span(layer, query=name) as rec:
                df, rows = self._run(name)
            rec["plan_ms"], rec["result_rows"] = plan_ms(df), len(rows)
            return rows

        return self._pass(run)

    def check(self, result: list[tuple[str, list, float]]) -> None:
        from tests.oracle_harness import _rows_close

        for name, rows, _sec in result:
            got = _normalized([r.asDict() for r in rows])
            want = self.answers[name]
            if len(got) != len(want) or not all(_rows_close(a, b) for a, b in zip(got, want)):
                raise CheckFailed(f"{name}: result differs from its oracle")

    def after_op(self, result: list[tuple[str, list, float]], seconds: float) -> None:
        for name, _rows, sec in result:
            self.seconds.setdefault(name, []).append(sec)

    def epilogue(self, tr: Tracer, deadline: float) -> tuple[int, int]:
        return 0, 0

    def extras(self) -> dict:
        from perfbench.stats import median

        return {
            "fixture_rows": inputs.CATALOG_ROWS,
            "query_p50_s": {q: median(v) for q, v in sorted(self.seconds.items())},
        }


WORKLOADS = {w.name: w for w in (StarBuild, CatalogMix)}

