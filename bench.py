"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with a no-op sink (format('noop')) so the measurement
is engine work — scan, shuffle, join, aggregate — not driver-side row
collection.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: the flagship star rollup + the heaviest operator families
HEADLINE = [
    "flagship_star_rollup",
    "metrics_by_brand",
    "metrics_by_region",
    "metrics_by_year",
    "star_integrity_count",
    "agg_overview",
    "join_left_composite",
    "dim_build_distinct",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_quality_score",
    "similarity_cosine_topk",
    "similarity_lsh_near_pairs",
    "events_window_agg",
    "events_sessionize",
    "events_pivot_by_type",
    "text_tfidf_top_terms",
    "embeddings_label_centroids",
    "agg_percentiles",
    "corpus_select_training",
    "join_asof_attribution",
    "join_range_price_bands",
]


# round-3 additions benched separately: EXTENDED changes as operators land,
# so its queries never pollute the cross-round-comparable headline total
EXTENDED = [
    "graph_pagerank_trade",
    "dedup_corpus_end_to_end",
    "text_chunk_windows",
    "text_bigram_lm_score",
    "corpus_curation_funnel",
    "events_ewma",
    "events_anomaly_mad",
    "metrics_pricing_summary",
    "orders_basket_pairs",
    "corpus_source_overlap",
    # round-4 additions
    "dedup_span_exact",
    "agg_cms_heavy_hitters",
    "join_bloom_prefilter",
    "layout_zorder_pruning",
    "text_perplexity_filter",
    "graph_triangle_count",
    "events_bitmap_exact_distinct",
    # round-4 late additions: TPC-H closure heavies + ranked retrieval
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    "text_bm25_topk",
    "retrieval_hybrid_rrf",
    # round-4 session-2 additions: audit/stats family + Spark 4 SQL surface
    "dedup_sentence_exact",
    "stats_ks_two_sample",
    # round-5 additions: parity quirks + verbatim reference SQL
    "parity_fanout_join",
    "parity_floatstring_join",
    "refsql_referential_integrity",
    "refsql_metrics_por_anio",
    "refsql_metrics_por_marca",
    "refsql_metrics_por_provincia",
    "dedup_cluster_keep_best",
    "retrieval_phrase_top_docs",
    "warehouse_cdc_compaction",
    "embeddings_matryoshka_fidelity",
    "governance_table_digest",
    "embeddings_pca_top_component",
    "sql_recursive_cte_chain",
    "semi_json_variant",
    "sql_lateral_topn",
    # round-10 additions: model-adjacent statistics batch
    "stats_ols_regression",
    "stats_anova_oneway",
    "stats_cusum_drift",
    # round-11: fixed-unroll IRLS logistic regression (4 full scans)
    "stats_logistic_irls",
    # round-12: fixed-unroll graph additions (k-core peel, bipartite HITS)
    "graph_kcore_peel",
    "graph_hits_trade",
    # round-12 late additions: robust trend duo + graph structure scalar
    "stats_theil_sen_trend",
    "stats_mann_kendall_trend",
    "graph_degree_assortativity",
]


def sri_etl_replay(spark) -> dict:
    """BASELINE.md's one reference-derived target: the full 5-table star
    build over a production-scale SRI-shaped CSV (460,550 rows, vehicle-code
    pool sized so dim_vehiculo lands at the reference's recorded ~331k
    distinct combos). The reference's recorded per-dim work totalled ≈41 s
    (Colab, pandas + BigQuery round-trips) and its fact task never completed;
    the replay times read_csv → 4 dims → fact → partitioned/clustered star
    write, end to end, on local parquet."""
    import shutil

    from sri_spark.etl import EtlConfig, run_pipeline
    from sri_spark.etl.pipeline import write_star
    from tests.sri_fixture import write_sri_csv

    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    csv_path = os.path.join(cache, "sri_460k.csv")
    if not os.path.exists(csv_path):
        write_sri_csv(csv_path, n=460550, seed=20250702, n_codes=660000)
    out_dir = os.path.join(cache, "sri_star_out")
    shutil.rmtree(out_dir, ignore_errors=True)

    def run():
        shutil.rmtree(out_dir, ignore_errors=True)  # each repeat builds fresh
        tables = run_pipeline(spark, csv_path, EtlConfig(mode="fixed"))
        return write_star(tables, out_dir)

    # median-of-3 + warm-up like every other replay point (verdict item 1);
    # clearCache between repeats releases the 5 star tables AND the src scan.
    # Row counts come from the quality report the writes observed: no
    # re-read of the written star, no recompute of a dim
    elapsed, report = _median_point(
        run, cleanup=spark.catalog.clearCache, warmup=True
    )
    return {
        "sec": elapsed,
        "fact_rows": report["fact_registro_vehiculos"]["total_registros"],
        "dim_vehiculo_rows": report["dim_vehiculo"]["total_registros"],
        "source_rows": 460550,
        # ADVICE r11: the 100x point records its forced 128-reducer layout;
        # record the session layout here too so growth_vs_* readers see the
        # layout asymmetry explicitly instead of inferring it
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def sri_etl_replay_10x(spark) -> dict:
    """Round-3 verdict item 6: the same star build at 10x the rows
    (4,605,500). The source's planned size (~640 MB) exceeds one scan
    task, so the build takes the sort-free two-phase keys
    (operators.keys.fits_one_task) with no config. Recording both replay
    rows per round shows that path runs and that the build scales
    superlinearly-safe (10x rows should cost ~10x, not 100x)."""
    import shutil

    from sri_spark.etl import EtlConfig, run_pipeline
    from sri_spark.etl.pipeline import write_star
    from tests.sri_fixture import write_sri_csv

    n = 4_605_500
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    csv_path = os.path.join(cache, "sri_4605k.csv")
    if not os.path.exists(csv_path):
        write_sri_csv(csv_path, n=n, seed=20250702, n_codes=6_600_000)
    out_dir = os.path.join(cache, "sri_star_out_10x")
    shutil.rmtree(out_dir, ignore_errors=True)

    def run():
        shutil.rmtree(out_dir, ignore_errors=True)  # each repeat builds fresh
        tables = run_pipeline(spark, csv_path, EtlConfig(mode="fixed"))
        return write_star(tables, out_dir)

    # median-of-3, no separate warm-up: the 1x replay just ran the same
    # pipeline code (verdict item 1)
    elapsed, report = _median_point(run, cleanup=spark.catalog.clearCache)
    spark.catalog.clearCache()
    shutil.rmtree(out_dir, ignore_errors=True)  # ~0.5 GB — don't accrete
    return {
        "sec": elapsed,
        "fact_rows": report["fact_registro_vehiculos"]["total_registros"],
        "source_rows": n,
        # ADVICE r11: make the 10x->100x layout asymmetry explicit in-artifact
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


# Shuffle partitions of the 100x star build, not the session's cores=32
# default: the r11 knob forensics (docs/ETL_100X_knobs_r11.json) measured
# that point LAYOUT-bound — 128 reducers cut wall 646->416 s (-35%) and disk
# spill 35.7->10.6 GiB (-70%) at byte-identical shuffle volume (~87 GiB,
# +1.2%) — and 128 is inside the sizing prescription for the build's
# widest shuffles (~8-20 GiB / 128 MiB-per-task => 64-160 tasks). This is
# the config a cluster would run, so it is the config the growth curve
# should measure.
ETL_100X_SHUFFLE_PARTITIONS = 128


def sri_etl_replay_100x(spark) -> dict:
    """Round-7 verdict item 3 (carried from r6 ask #1): the star build at
    100x the reference's production rows (46,055,000) — the largest
    single-host point on the growth curve, sized so near-linear
    10x->100x scaling is measured, not extrapolated. Same config as every
    other caller: the source exceeds one scan task, so the build takes the
    two-phase keys, and the code pool scales with the rows, so dim_vehiculo
    lands at ~33M rows (GBs serialized) — its lookup is never
    hint-broadcast (etl/fact.py::_RI_LOOKUPS), so it runs as an
    AQE-planned shuffle join, the same shape a 1000-executor cluster uses
    at 100 TB.

    The source CSV (~7.3 GB) is generated once into the bench cache by the
    parallel chunked writer and reused across rounds."""
    import shutil

    from sri_spark.etl import EtlConfig, run_pipeline
    from sri_spark.etl.pipeline import write_star
    from tests.sri_fixture import write_sri_csv

    n = 46_055_000
    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    csv_path = os.path.join(cache, "sri_46055k.csv")
    if not os.path.exists(csv_path):
        write_sri_csv(
            csv_path,
            n=n,
            seed=20250702,
            n_codes=66_000_000,
            chunk_rows=250_000,
            workers=min(16, os.cpu_count() or 1),
        )
    out_dir = os.path.join(cache, "sri_star_out_100x")
    shutil.rmtree(out_dir, ignore_errors=True)

    # single-shot BY CHOICE (the one replay point exempt from verdict
    # item 1's median-of-3): an ~8-minute 46M-row build has <2% scheduler
    # noise, a median would triple a 25-minute block, and its cross-round
    # cost gate is the shuffle and spill BYTES the ledger records for the
    # build (shuffle_gate), which don't jitter with host load.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(ETL_100X_SHUFFLE_PARTITIONS))

    def run():
        tables = run_pipeline(spark, csv_path, EtlConfig(mode="fixed"))
        return write_star(tables, out_dir)

    try:
        elapsed, report = _LEDGER.timed(run, _LEDGER.next_point())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    spark.catalog.clearCache()
    shutil.rmtree(out_dir, ignore_errors=True)  # multi-GB — don't accrete
    return {
        "sec": round(elapsed, 4),
        "fact_rows": report["fact_registro_vehiculos"]["total_registros"],
        "dim_vehiculo_rows": report["dim_vehiculo"]["total_registros"],
        "source_rows": n,
        "shuffle_partitions": ETL_100X_SHUFFLE_PARTITIONS,
    }


def ann_recall(spark) -> dict:
    """Round-3 verdict item 7: recall@10 of both ANN paths vs the
    brute-force cosine truth, averaged over a fixed 5-query panel, with
    wall time per path — so the recall/latency tradeoff is tracked in the
    bench artifact every round, not just asserted once in pytest."""
    from sri_spark.similarity.cosine import cosine_topk
    from sri_spark.similarity.ivf import build_ivf_index, ivf_probe
    from sri_spark.similarity.lsh import N_PLANES, rp_ann_topk
    from sri_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings").persist()
    ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").collect()]
    qids = [ids[(i * len(ids)) // 5] for i in range(5)]
    K = 10

    truth: dict[int, set] = {}
    t0 = time.perf_counter()
    for qid in qids:
        truth[qid] = {r["vec_id"] for r in cosine_topk(emb, qid, k=K).collect()}
    brute_sec = time.perf_counter() - t0

    # multi-probe LSH recall/scan-fraction CURVE (hamming = probe radius,
    # the recall knob documented in similarity/lsh.py). The fixture's true
    # top-10 cosines are only ~0.3-0.4 (near-random neighbors), so recall
    # at small scan fractions is intrinsically bounded — the curve, not a
    # single point, is the honest tradeoff record.
    import math

    lsh_curve = {}
    for hamming in (1, 2, 3):
        t0 = time.perf_counter()
        hits = sum(
            len(
                {
                    r["vec_id"]
                    for r in rp_ann_topk(emb, qid, k=K, hamming=hamming).collect()
                }
                & truth[qid]
            )
            for qid in qids
        )
        n_buckets = sum(math.comb(N_PLANES, d) for d in range(hamming + 1))
        lsh_curve[f"hamming_{hamming}"] = {
            "recall": round(hits / (K * len(qids)), 4),
            "sec": round(time.perf_counter() - t0, 4),
            "scan_fraction": round(n_buckets / 2**N_PLANES, 4),
        }

    # round-11 verdict item 3: the margin-ranked multiprobe path
    # (similarity/lsh.py rp_ann_multiprobe_topk) on the SAME recall
    # harness, at probe budgets equal to the hamming balls' bucket counts
    # (9/37/93 of 256) — so each multiprobe point reads directly against
    # the hamming point at the identical scan fraction. Advisory like the
    # rest of the organic curve (the fixture's neighbors are near-random).
    from sri_spark.similarity.lsh import rp_ann_multiprobe_topk

    multiprobe_curve = {}
    for n_probe in (9, 37, 93):
        t0 = time.perf_counter()
        hits = sum(
            len(
                {
                    r["vec_id"]
                    for r in rp_ann_multiprobe_topk(
                        emb, qid, k=K, n_probe=n_probe
                    ).collect()
                }
                & truth[qid]
            )
            for qid in qids
        )
        multiprobe_curve[f"probe_{n_probe}"] = {
            "recall": round(hits / (K * len(qids)), 4),
            "sec": round(time.perf_counter() - t0, 4),
            "scan_fraction": round(n_probe / 2**N_PLANES, 4),
        }

    # IVF in the amortized serving shape: ONE index build, many probes —
    # build cost reported separately from per-query probe cost
    t0 = time.perf_counter()
    model, indexed = build_ivf_index(emb, n_lists=16)
    indexed = indexed.persist()
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    indexed.count()  # materialize the build
    ivf_build_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    ivf_hits = sum(
        len(
            {
                r["vec_id"]
                for r in ivf_probe(
                    indexed, centroids, qid, k=K, n_probe=4
                ).collect()
            }
            & truth[qid]
        )
        for qid in qids
    )
    ivf_probe_sec = time.perf_counter() - t0

    # IVF+PQ composed pipeline (similarity_ivf_pq_pipeline's shape): the
    # same prebuilt coarse index gates which codes ADC even scores; PQ
    # codebooks train once corpus-wide
    from pyspark.sql import functions as F

    from sri_spark.similarity.ivf import rank_probe_cells
    from sri_spark.similarity.pq import build_pq_codebooks, pq_encode, pq_topk

    t0 = time.perf_counter()
    books = build_pq_codebooks(emb)  # train ONCE, serve every query
    # encode ONCE at build time too: the M x K_SUB argmin expression is the
    # expensive, query-independent half of PQ — production indexes store
    # codes, and a serving loop that re-encodes per query measures the
    # wrong thing (observed 5x per-query inflation)
    codes = pq_encode(indexed, books).persist()
    codes.count()
    ivfpq_build_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    ivfpq_hits = 0
    for qid in qids:
        cells = rank_probe_cells(indexed, centroids, qid, n_probe=4)
        subset = codes.filter(F.col("__cell").isin(cells)).drop("__cell")
        got = {
            r["vec_id"]
            for r in pq_topk(
                emb, qid, k=K, books=books, encoded_df=subset
            ).collect()
        }
        ivfpq_hits += len(got & truth[qid])
    ivfpq_sec = time.perf_counter() - t0
    codes.unpersist()

    # round-12 verdict item 2: the BINDING organic contract. The curve
    # above stays advisory (the fixture's neighbors are near-random, so
    # fixed operating points track the fixture); what IS defensible on
    # any corpus is the serving discipline — tune n_probe on a held-out
    # TUNING panel at build time, then bind the EVALUATION panel's
    # recall at that operating point. tests/test_ann_organic.py runs the
    # same procedure as a gate; this block records the bench-corpus
    # numbers with binding: true.
    from sri_spark.similarity.ivf import tune_n_probe

    tune_qids = [ids[((2 * i + 1) * len(ids)) // 10] for i in range(5)]
    tune_truth = {
        qid: {r["vec_id"] for r in cosine_topk(emb, qid, k=K).collect()}
        for qid in tune_qids
    }
    t0 = time.perf_counter()
    n_probe_star, tune_recall = tune_n_probe(
        indexed,
        centroids,
        tune_qids,
        tune_truth,
        k=K,
        recall_min=ORGANIC_TUNE_RECALL_MIN,
    )
    organic_hits = sum(
        len(
            {
                r["vec_id"]
                for r in ivf_probe(
                    indexed, centroids, qid, k=K, n_probe=n_probe_star
                ).collect()
            }
            & truth[qid]
        )
        for qid in qids
    )
    organic_recall = organic_hits / (K * len(qids))
    organic_contract = {
        "binding": True,
        "recall_min": ORGANIC_EVAL_RECALL_MIN,
        "max_scan_fraction": ORGANIC_MAX_SCAN_FRACTION,
        "n_probe_tuned": n_probe_star,
        "tuning_recall": tune_recall,
        "recall": round(organic_recall, 4),
        "scan_fraction": round(n_probe_star / 16, 4),
        "sec": round(time.perf_counter() - t0, 4),
        "pass": bool(
            organic_recall >= ORGANIC_EVAL_RECALL_MIN
            and n_probe_star / 16 <= ORGANIC_MAX_SCAN_FRACTION
        ),
    }
    indexed.unpersist()
    emb.unpersist()

    denom = K * len(qids)
    return {
        "k": K,
        "n_queries": len(qids),
        # round-5 verdict item 7: the organic fixture's neighbors are
        # near-random (true top-10 cosines ~0.3-0.4), so these recall
        # numbers track the fixture, not the index — informational only.
        # The BINDING recall gate is the planted block
        # (ann_recall.planted, tests/test_ann_planted.py, >= PLANTED_RECALL_MIN).
        "advisory": True,
        "brute_sec": round(brute_sec, 4),
        "lsh": lsh_curve,
        "lsh_multiprobe": multiprobe_curve,
        "ivf": {
            "recall": round(ivf_hits / denom, 4),
            "build_sec": round(ivf_build_sec, 4),
            "probe_sec": round(ivf_probe_sec, 4),
            "n_lists": 16,
            "n_probe": 4,
        },
        "ivf_pq": {
            "recall": round(ivfpq_hits / denom, 4),
            "build_sec": round(ivfpq_build_sec, 4),
            "probe_sec": round(ivfpq_sec, 4),
            "n_lists": 16,
            "n_probe": 4,
        },
        # r13: the tuned-operating-point contract — binding, unlike the
        # fixed-point curve above (see ORGANIC_* constants)
        "organic_contract": organic_contract,
    }


def _floor_candidates() -> list[tuple[int, int, str]]:
    """(round, preference, path) for every bench artifact on disk: the
    driver's possibly-truncated BENCH_r*.json tails AND the complete
    docs/BENCH_full_r*.json copies this script commits (round-4 verdict
    item 4: r4's raw timings were lost to tail truncation). Higher round
    wins; within a round the full copy wins."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        out.append((int(re.search(r"BENCH_r(\d+)", path).group(1)), 0, path))
    for path in glob.glob(os.path.join(here, "docs", "BENCH_full_r*.json")):
        out.append(
            (int(re.search(r"BENCH_full_r(\d+)", path).group(1)), 1, path)
        )
    return sorted(out)


def _current_round() -> int:
    """The round this bench run belongs to: one past the newest
    driver-written BENCH_r*.json (the driver records round N's artifact
    AFTER the round, so during round N only rounds < N exist)."""
    driver_rounds = [r for r, pref, _ in _floor_candidates() if pref == 0]
    return (max(driver_rounds) + 1) if driver_rounds else 1


# Timed executions per replay point; the published `sec` is their median.
# 1 is single-shot: every point runs once, whatever repeat count it asks
# for, with no warm-up. The replay-invariant tests set it, because they
# assert counts and never read a wall.
REPLAY_REPEATS = 3


def _noop(df) -> None:
    """Full-plan evaluation for replay measurements: a noop-sink write
    executes the frame's COMPLETE optimized plan — every join, window and
    aggregate expression — without driver-side row collection. Replays
    must never time `.count()` instead: Catalyst legally prunes unused
    columns and unique-key left joins under a count. The r11 judge
    verified graph's count-measured replay retained 1 join / 6 aggregates
    of PageRank's real 13-join / 29-aggregate plan and ran >20x faster
    than the honest evaluation; a count over `groupBy(k).agg(sum(v))`
    likewise drops the sum expression and the scan of `v` entirely.
    tests/test_replay_plan_integrity.py gates every replay family on this.
    """
    df.write.format("noop").mode("overwrite").save()


def _noop_counted(df) -> int:
    """Noop-evaluate the FULL plan and return the result's row count. The
    frame is persisted first so the noop write populates the cache and the
    follow-up count reads cached partitions (milliseconds, no re-execution,
    and — crucially — no pruned count-plan sneaking into the measurement).
    Replay outputs are result-grain (sessions, clusters, candidate pairs,
    node ranks), orders of magnitude smaller than their inputs, so the
    cache write inside the timed window is noise and uniform across a
    family's points — the growth ratios the scale argument rests on are
    unaffected."""
    p = df.persist()
    try:
        _noop(p)
        return p.count()
    finally:
        p.unpersist()


class _Ledger:
    """What each timed execution compiled and what its stages did, keyed
    "<block>.<point>", one entry per repeat:
    - `compiles`: generated-code compilations
      (operators/observability.py::codegen_compiles). A repeat of code
      that already ran should read 0, because session.py sizes the codegen
      cache to keep every class the bench compiles, so a cache that
      thrashes again shows up here as a number rather than as JIT CPU
      inside the walls. The first repeat of a point that has no warm-up of
      its own (the 10x/100x points of a family, whose plans differ from
      the 1x plan) also books that point's first-touch compiles.
    - `stage_metrics`: jobs, stages, tasks, executor time, shuffle, spill,
      input and task skew (operators/observability.py::stage_metrics),
      the numbers shuffle_gate compares across rounds.
    Both are read outside the clock. main() arms it over the bench
    session; unarmed (unit tests) it only times."""

    def __init__(self) -> None:
        self.probe = None  # zero-arg callable -> JVM compile count
        self.reader = None  # label -> context manager yielding stage metrics
        self.block = ""
        self.points = 0
        self.compiles: dict[str, list[int]] = {}
        self.stage_metrics: dict[str, list[dict]] = {}

    def arm(self, spark) -> None:
        from sri_spark.operators.observability import (
            codegen_compiles,
            stage_metrics,
        )

        self.probe = lambda: codegen_compiles(spark)["compiles"]
        self.reader = lambda label: stage_metrics(spark, label)

    def start_block(self, name: str) -> None:
        self.block, self.points = name, 0

    def next_point(self) -> str:
        self.points += 1
        return f"point{self.points}"

    def timed(self, fn, label):
        """(seconds, result) of one execution of `fn`, booked under
        `label` (a string, or a tuple of strings as some replay families
        key their points)."""
        if isinstance(label, tuple):
            label = ".".join(label)
        key = f"{self.block}.{label}" if self.block else label
        before = self.probe() if self.probe else 0
        with (self.reader(key) if self.reader else contextlib.nullcontext()) as sm:
            t0 = time.perf_counter()
            result = fn()
            sec = time.perf_counter() - t0
        if self.probe:
            self.compiles.setdefault(key, []).append(self.probe() - before)
        if self.reader:
            self.stage_metrics.setdefault(key, []).append(sm)
        return sec, result


_LEDGER = _Ledger()


def _median_point(run, *, cleanup=None, warmup: bool = False):
    """Round-9 verdict item 1: replay points were timed ONCE, and round 8's
    two same-HEAD runs measured dedup's 1x point 4.6x apart (2.22 s vs
    10.16 s — first-touch codegen/JIT noise), swinging the published growth
    ratios up to 3x. Same medicine the catalog queries got in round 5
    (_timed_query): the published `sec` is the median of REPLAY_REPEATS
    timed executions. `warmup` adds one untimed execution first and is only
    needed on the FIRST point of a replay family — the smaller points of
    the same operator warm the code path for the bigger ones. `cleanup`
    releases scoped persists between runs so every timed run re-does the
    full work. Returns (median_sec, last_run_result)."""
    repeats = REPLAY_REPEATS
    if warmup and repeats > 1:
        run()
        if cleanup:
            cleanup()
    times = []
    result = None
    label = _LEDGER.next_point()
    for _ in range(repeats):
        sec, result = _LEDGER.timed(run, label)
        times.append(sec)
        if cleanup:
            cleanup()
    return round(sorted(times)[repeats // 2], 4), result


def _interleaved_medians(
    measures: dict, *, cleanup=None, repeats: int | None = None, warmup_keys=()
) -> dict:
    """Time-INTERLEAVE the repeats across a replay family's points
    (cycle 1: 1x,10x,100x; cycle 2: 1x,10x,100x; ...) instead of
    exhausting each point's repeats consecutively.

    Why: per-point medians (the first half of verdict item 1) cancel
    burst noise but not SUSTAINED host-load shifts — round 9's two
    same-HEAD runs measured dedup's 1x point 7.15 s vs 1.73 s with all
    three consecutive repeats slow and a 44% different single-core
    calibration, skewing the published growth ratios ~3x while every
    individual point was a clean median. Interleaving puts every cycle's
    points under the SAME host conditions, so a load shift moves the
    family's absolute walls together and the ratios — the quantities the
    scale argument rests on — stay comparable.

    `measures` is {label: zero-arg callable}; returns
    {label: (median_sec, last_result)}. `warmup_keys` run once untimed
    first (JIT/codegen warm-up; the family's other points share the code
    path). `repeats` defaults to REPLAY_REPEATS."""
    if repeats is None or REPLAY_REPEATS == 1:
        repeats = REPLAY_REPEATS
    if repeats == 1:
        warmup_keys = ()
    for k in warmup_keys:
        measures[k]()
        if cleanup:
            cleanup()
    times: dict = {k: [] for k in measures}
    results: dict = {}
    for _ in range(repeats):
        for k, fn in measures.items():
            sec, results[k] = _LEDGER.timed(fn, k)
            times[k].append(sec)
            if cleanup:
                cleanup()
    return {
        k: (round(sorted(ts)[len(ts) // 2], 4), results[k])
        for k, ts in times.items()
    }


def _replicated_union(base, n_copies: int, per_copy):
    """The one replica builder every 10x replay shares: `per_copy(base, i)`
    must shift/salt keys so copies are DISJOINT (the invariant
    tests/test_replay_invariants.py pins), and the copies are unioned into
    one frame. Keeping this in one place means a future guard (e.g. a
    shift-collision check) lands in every replay at once."""
    from functools import reduce

    from pyspark.sql import DataFrame

    return reduce(
        DataFrame.unionByName, [per_copy(base, i) for i in range(n_copies)]
    )


def _salted_docs_corpus(spark, n_copies: int):
    """(base_1x_salted, n_copies_corpus, base_rows): `n_copies` copies of
    `documents` with every token salted by its copy index (regexp, no
    Python UDF) — each copy keeps the original's internal near-dup
    structure while copies share NO shingles, i.e. a corpus n_copies
    bigger at the SAME duplication rate. Shared by dedup_replay_10x and
    keepbest_replay_10x."""
    from pyspark.sql import functions as F

    from sri_spark.sources.testdata import load_table

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n1 = base.count()

    def per_copy(df, i):
        return df.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1_{i}").alias("text"),
        )

    return per_copy(base, 0), _replicated_union(base, n_copies, per_copy), n1


def dedup_replay_10x(spark) -> dict:
    """Round-4 verdict item 9: the LSH dedup path's analogue of
    sri_etl_replay_10x — run dedup_minhash_lsh's operator
    (dedup/minhash.py::minhash_lsh_pairs) over the documents table and
    over a 10x corpus, recording wall time AND candidate-pair counts.

    The 10x corpus is ten copies of `documents` with every token salted
    by its copy index (regexp, no Python UDF), so each copy keeps the
    original's internal near-dup structure while copies share NO
    shingles: a corpus 10x bigger at the SAME duplication rate. Healthy
    LSH grows candidates ~linearly here (banding keys the join, so
    disjoint shingle spaces cannot collide); a quadratic blowup would
    mean bucket collisions across unrelated text.

    Round 8 extends the curve a decade: a `hundred_x` point (100 salted
    copies, ~600k docs at sf0.1) rides in the same block, so the
    linear-candidates claim is measured across TWO decades of corpus
    growth, the same evidence standard as the star ETL's 100x replay."""
    from sri_spark.dedup.minhash import minhash_lsh_pairs
    from sri_spark.operators.caching import unpersist_all

    one_x, corpus10, n1 = _salted_docs_corpus(spark, 10)
    _, corpus100, _ = _salted_docs_corpus(spark, 100)
    # salted 1x twin: same text shape as the 10x/100x corpora
    corpora = {"one_x": one_x, "ten_x": corpus10, "hundred_x": corpus100}
    # r12: noop-counted evaluation (see _noop) — the pair frame's inner
    # joins and the exact-Jaccard verify survive a count, but the gate in
    # tests/test_replay_plan_integrity.py holds every family to the same
    # full-plan standard so no future edit regresses into a prunable action
    med = _interleaved_medians(
        {
            k: (lambda d=d: _noop_counted(minhash_lsh_pairs(d)))
            for k, d in corpora.items()
        },
        cleanup=unpersist_all,
        warmup_keys=("one_x",),
    )
    one, ten, hundred = (
        {
            "sec": med[k][0],
            "pairs": med[k][1],
            "candidates": _dedup_lsh_candidates(corpora[k]),
        }
        for k in ("one_x", "ten_x", "hundred_x")
    )
    return {
        "rows_1x": n1,
        "rows_10x": n1 * 10,
        "rows_100x": n1 * 100,
        "one_x": one,
        "ten_x": ten,
        "hundred_x": hundred,
        "candidate_growth": (
            round(ten["candidates"] / one["candidates"], 4)
            if one["candidates"]
            else None
        ),
        "time_growth": round(ten["sec"] / one["sec"], 4) if one["sec"] else None,
        "candidate_growth_10x_to_100x": (
            round(hundred["candidates"] / ten["candidates"], 4)
            if ten["candidates"]
            else None
        ),
        "time_growth_10x_to_100x": (
            round(hundred["sec"] / ten["sec"], 4) if ten["sec"] else None
        ),
    }


def jaccard_replay_10x(spark) -> dict:
    """Round-13 verdict item 7: decade evidence for dedup_ngram_jaccard —
    the most expensive untouched non-contract catalog query was the only
    headline dedup family without a 1x/10x/100x growth artifact.

    Exact n-gram Jaccard's self-join cost is bounded by shingle COLLISION
    counts, not |docs|²: the salted corpus keeps each copy's internal
    near-dup structure while copies share no shingles, so healthy growth
    is ~linear in corpus size (collisions only happen within a copy — the
    same standard the LSH family is held to, and what the operator's
    singleton-shingle pruning is supposed to preserve). Superlinear
    growth here would mean the shared-shingle join or the size joins
    stopped scaling with collisions. Same operator and knobs as the
    catalog query (md5 shingles, threshold 0.5, exact/no df cap),
    evaluated through the noop sink (_noop_counted) like every family."""
    from sri_spark.dedup.jaccard import ngram_jaccard_pairs
    from sri_spark.operators.caching import unpersist_all
    from sri_spark.plans.dedup_queries import JACCARD_THRESHOLD

    one_x, corpus10, n1 = _salted_docs_corpus(spark, 10)
    _, corpus100, _ = _salted_docs_corpus(spark, 100)
    corpora = {"one_x": one_x, "ten_x": corpus10, "hundred_x": corpus100}
    med = _interleaved_medians(
        {
            k: (
                lambda d=d: _noop_counted(
                    ngram_jaccard_pairs(d, threshold=JACCARD_THRESHOLD)
                )
            )
            for k, d in corpora.items()
        },
        cleanup=unpersist_all,
        warmup_keys=("one_x",),
    )
    one, ten, hundred = (
        {"sec": med[k][0], "pairs": med[k][1]}
        for k in ("one_x", "ten_x", "hundred_x")
    )
    return {
        "rows_1x": n1,
        "rows_10x": n1 * 10,
        "rows_100x": n1 * 100,
        "one_x": one,
        "ten_x": ten,
        "hundred_x": hundred,
        "pair_growth": (
            round(ten["pairs"] / one["pairs"], 4) if one["pairs"] else None
        ),
        "time_growth": round(ten["sec"] / one["sec"], 4) if one["sec"] else None,
        "pair_growth_10x_to_100x": (
            round(hundred["pairs"] / ten["pairs"], 4) if ten["pairs"] else None
        ),
        "time_growth_10x_to_100x": (
            round(hundred["sec"] / ten["sec"], 4) if ten["sec"] else None
        ),
    }


def spans_replay_10x(spark) -> dict:
    """Round-12 verdict item 4: the span-grain dedup decade curve — the
    most shuffle-intensive dedup grain (every document explodes into
    k-token windows before the global row_number on the span key), and
    until this round the only headline dedup family without 1x/10x/100x
    evidence.

    Same corpus construction as dedup_replay_10x (`_salted_docs_corpus`:
    N copies of `documents`, every token salted by copy index, so copies
    keep the original's internal duplication structure but share no
    spans — N× the data at the SAME duplication rate). The measured
    action is the full mark-duplicates plan — explode_spans →
    row_number over xxhash64(span) — through the noop sink
    (_noop_counted), so Catalyst cannot prune the window or the explode;
    the plan-integrity gate (tests/test_replay_plan_integrity.py) holds
    this family to that standard. Healthy growth is ~linear: the span
    shuffle is fixed-width (64-bit hash key), dup ranking per span key
    is rank-1-keeps regardless of occurrence count, and salting means
    cross-copy collisions cannot occur, so span rows, dup spans and wall
    should all scale with corpus size."""
    from pyspark.sql import functions as F

    from sri_spark.dedup.spans import explode_spans, mark_duplicate_spans
    from sri_spark.operators.caching import unpersist_all

    one_x, corpus10, n1 = _salted_docs_corpus(spark, 10)
    _, corpus100, _ = _salted_docs_corpus(spark, 100)
    corpora = {"one_x": one_x, "ten_x": corpus10, "hundred_x": corpus100}

    def _marked(d):
        return mark_duplicate_spans(explode_spans(d), hash_key=True)

    med = _interleaved_medians(
        {k: (lambda d=d: _noop_counted(_marked(d))) for k, d in corpora.items()},
        cleanup=unpersist_all,
        warmup_keys=("one_x",),
    )
    counts = {
        k: _marked(d)
        .agg(
            F.count("*").alias("spans"),
            F.count(F.when(F.col("is_dup"), 1)).alias("dup_spans"),
        )
        .first()
        for k, d in corpora.items()
    }
    one, ten, hundred = (
        {
            "sec": med[k][0],
            "span_rows": med[k][1],
            "spans": counts[k]["spans"],
            "dup_spans": counts[k]["dup_spans"],
        }
        for k in ("one_x", "ten_x", "hundred_x")
    )
    return {
        "rows_1x": n1,
        "rows_10x": n1 * 10,
        "rows_100x": n1 * 100,
        "one_x": one,
        "ten_x": ten,
        "hundred_x": hundred,
        "span_growth": (
            round(ten["spans"] / one["spans"], 4) if one["spans"] else None
        ),
        "dup_growth": (
            round(ten["dup_spans"] / one["dup_spans"], 4)
            if one["dup_spans"]
            else None
        ),
        "time_growth": round(ten["sec"] / one["sec"], 4) if one["sec"] else None,
        "span_growth_10x_to_100x": (
            round(hundred["spans"] / ten["spans"], 4) if ten["spans"] else None
        ),
        "time_growth_10x_to_100x": (
            round(hundred["sec"] / ten["sec"], 4) if ten["sec"] else None
        ),
    }


def _dedup_lsh_candidates(docs) -> int:
    """Untimed candidate-pair count for one dedup replay point."""
    from pyspark.sql import functions as F

    from sri_spark.dedup.minhash import (
        _band_buckets,
        minhash_signatures_from_shingles,
    )
    from sri_spark.dedup.shingles import shingle_hashes_df

    sh = shingle_hashes_df(docs, "text", "doc_id")
    sig = minhash_signatures_from_shingles(sh, id_col="doc_id")
    b = _band_buckets(sig, "doc_id")
    left = b.select(F.col("doc_id").alias("a"), "band", "bucket")
    right = b.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )


# the binding planted ANN recall contract: tests/test_ann_planted.py
# fails CI when either path's planted recall drops below this; the
# organic ann_recall CURVE stays advisory (round-5 item 7) but the tuned
# organic operating point binds too since r13 — see the constants below
PLANTED_RECALL_MIN = 0.9

# r13 (round-12 verdict item 2): the ORGANIC binding contract. n_probe is
# tuned on a held-out 5-query panel to reach TUNE_RECALL_MIN, then the
# evaluation panel's recall at that point must clear EVAL_RECALL_MIN
# (margin absorbs panel-to-panel variance) without scanning more than
# MAX_SCAN_FRACTION of the 16 cells — i.e. the index must beat a full
# scan even on a corpus whose neighbors are near-random (measured IVF
# curve: recall 0.30/0.45/0.72/0.96/1.0 at n_probe 2/4/8/12/16 on the
# sf0.1 organic fixture; the tuned point lands at 12). Gate:
# tests/test_ann_organic.py.
ORGANIC_TUNE_RECALL_MIN = 0.9
ORGANIC_EVAL_RECALL_MIN = 0.85
ORGANIC_MAX_SCAN_FRACTION = 0.75


def _planted_emb(spark, *, sigma: float, seed: int):
    """20 seeded unit-norm cluster centers x 50 points at noise `sigma`:
    every query's true top-10 are its cluster siblings by construction.
    Returns (persisted frame, n_clusters, per_cluster)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_clusters, per_cluster, dim = 20, 50, 64
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(scale=sigma, size=(per_cluster, dim))
        for j in range(per_cluster):
            rows.append((c * per_cluster + j, [float(x) for x in pts[j]]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).persist()
    emb.count()
    return emb, n_clusters, per_cluster


def ann_planted(spark) -> dict:
    """Round-4 verdict item 8: recall on a PLANTED-neighbor fixture. The
    organic embeddings fixture has near-random neighbors (true top-10
    cosines ~0.3-0.4), so its recall numbers can't catch a regression.
    Here 20 seeded unit-norm cluster centers each get 50 points at noise
    sigma=0.01 — every query's true top-10 are its cluster siblings by
    construction — and both ANN paths must score recall@10 >= 0.9
    (tests/test_ann_planted.py asserts the same bound)."""
    from sri_spark.similarity.cosine import cosine_topk
    from sri_spark.similarity.ivf import build_ivf_index, ivf_probe
    from sri_spark.similarity.lsh import rp_ann_multiprobe_topk, rp_ann_topk

    emb, n_clusters, per_cluster = _planted_emb(spark, sigma=0.01, seed=20250814)
    K = 10
    qids = [c * per_cluster for c in range(0, n_clusters, 4)]  # 5 queries
    truth = {
        q: {r["vec_id"] for r in cosine_topk(emb, q, k=K).collect()}
        for q in qids
    }

    t0 = time.perf_counter()
    lsh_hits = sum(
        len(
            {r["vec_id"] for r in rp_ann_topk(emb, q, k=K, hamming=3).collect()}
            & truth[q]
        )
        for q in qids
    )
    lsh_sec = time.perf_counter() - t0

    # margin-ranked multiprobe at a 16-bucket budget (6.25% scan vs the
    # hamming-3 ball's 36%): planted siblings differ from the query only
    # by sigma=0.01 noise, so any bucket disagreement is a low-margin
    # straddle — exactly what the margin ranking probes first. Binding at
    # the same contract as the other two paths.
    t0 = time.perf_counter()
    margin_hits = sum(
        len(
            {
                r["vec_id"]
                for r in rp_ann_multiprobe_topk(emb, q, k=K, n_probe=16).collect()
            }
            & truth[q]
        )
        for q in qids
    )
    margin_sec = time.perf_counter() - t0

    model, indexed = build_ivf_index(emb, n_lists=16)
    indexed = indexed.persist()
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    t0 = time.perf_counter()
    ivf_hits = sum(
        len(
            {
                r["vec_id"]
                for r in ivf_probe(indexed, centroids, q, k=K, n_probe=4).collect()
            }
            & truth[q]
        )
        for q in qids
    )
    ivf_sec = time.perf_counter() - t0
    indexed.unpersist()
    emb.unpersist()
    denom = K * len(qids)

    # round-12 (r11 verdict item 7): a second, HIGH-NOISE geometry
    # (sigma=0.08 — deviations comparable to the planes' own margins)
    # that binds the margin ranking's operating ENVELOPE instead of
    # demonstrating the tight-cluster case once. Measured regime, pinned
    # by tests/test_ann_planted.py:
    #   - hamming-1 visibly fails (0.46): siblings flip >1 plane;
    #   - margin-16 extracts more recall than the radius-1 ball (0.62 at
    #     2x its budget) but NO LONGER holds the 0.9 contract — once
    #     flips decorrelate from plane margins the ranking's information
    #     is spent, and at the EQUAL 9-bucket budget margin probing drops
    #     below hamming-1 (0.38 vs 0.46);
    #   - the data-adaptive IVF path is the rescue in this regime
    #     (recall 1.0 at n_probe=4): the clusters are still clusters,
    #     they just stop aligning with fixed hyperplanes.
    emb2, _, _ = _planted_emb(spark, sigma=0.08, seed=20250815)
    truth2 = {
        q: {r["vec_id"] for r in cosine_topk(emb2, q, k=K).collect()}
        for q in qids
    }
    model2, indexed2 = build_ivf_index(emb2, n_lists=16)
    indexed2 = indexed2.persist()
    centroids2 = [
        (i, [float(x) for x in c]) for i, c in enumerate(model2.clusterCenters())
    ]
    high_noise: dict = {"sigma": 0.08, "binding": True}
    for label, probe in (
        ("lsh_hamming1", lambda q: rp_ann_topk(emb2, q, k=K, hamming=1)),
        ("lsh_margin_probe9", lambda q: rp_ann_multiprobe_topk(emb2, q, k=K, n_probe=9)),
        ("lsh_margin_probe16", lambda q: rp_ann_multiprobe_topk(emb2, q, k=K, n_probe=16)),
        ("ivf_probe4", lambda q: ivf_probe(indexed2, centroids2, q, k=K, n_probe=4)),
    ):
        t0 = time.perf_counter()
        hits = sum(
            len({r["vec_id"] for r in probe(q).collect()} & truth2[q])
            for q in qids
        )
        high_noise[label] = {
            "recall": round(hits / denom, 4),
            "sec": round(time.perf_counter() - t0, 4),
        }
    indexed2.unpersist()
    emb2.unpersist()

    return {
        "n_clusters": n_clusters,
        "per_cluster": per_cluster,
        "binding": True,
        "recall_min_contract": PLANTED_RECALL_MIN,
        "lsh_hamming3": {
            "recall": round(lsh_hits / denom, 4),
            "sec": round(lsh_sec, 4),
        },
        "lsh_margin_probe16": {
            "recall": round(margin_hits / denom, 4),
            "sec": round(margin_sec, 4),
        },
        "ivf_probe4": {
            "recall": round(ivf_hits / denom, 4),
            "sec": round(ivf_sec, 4),
        },
        "high_noise_sigma008": high_noise,
    }


def _events_base(spark):
    """The events replay family's base frame — shared with
    replay_plan_probes, so the plan-integrity gate checks the exact
    corpus/plan shapes events_replay_10x times."""
    from sri_spark.sources.testdata import load_table

    return load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _events_corpus(base, n_copies: int):
    """n_copies of events with event_id/user_id shifted per copy: every
    copy keeps the original per-user streams, so the corpus has n_copies x
    users with IDENTICAL session structure (the replay's 10x invariant)."""
    from pyspark.sql import functions as F

    return _replicated_union(
        base,
        n_copies,
        lambda df, i: df.select(
            (F.col("event_id") + F.lit(i * 100_000_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 100_000_000)).alias("user_id"),
            "event_type",
            "value",
        ),
    )


def _events_window_agg(df):
    """The replay's hourly (window, event_type) rollup cell."""
    from pyspark.sql import functions as F

    return df.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def events_replay_10x(spark) -> dict:
    """Round-5 verdict item 3: the state/window family's measured growth
    curve. Ten copies of `events` with user_id/event_id shifted per copy —
    every copy keeps the original per-user event streams, so the 10x
    corpus has 10x users with IDENTICAL session structure. Sessionize cost
    must scale with rows (per-user window partitions, no global sort);
    window-agg with rows (same window grid, 10x counts). Superlinear
    growth would mean a global sort or skew crept into the plan."""
    from sri_spark.plans.events_queries import sessionize

    base = _events_base(spark)
    n1 = base.count()

    def corpus(n_copies):
        return _events_corpus(base, n_copies)

    window_agg = _events_window_agg

    # round 8: a hundred_x point (10M events at sf0.1) extends the curve a
    # decade — the same two-decade evidence standard as the ETL/dedup 100x
    out = {"rows_1x": n1, "rows_10x": n1 * 10, "rows_100x": n1 * 100}
    labels = ("one_x", "ten_x", "hundred_x")
    frames = {k: corpus(c) for k, c in zip(labels, (1, 10, 100))}
    cells: dict = {}
    # r12: noop-counted, not `.count()` — under a count Catalyst prunes
    # window_agg's sum(value) aggregate expression (and the scan of the
    # value column) because only cardinality is needed, so the pre-r12
    # window_agg walls under-measured the real aggregate. sessionize's
    # window feeds its grouping key and survived a count, but the family
    # is held to the uniform full-plan standard.
    for k in labels:
        cells[(k, "sess")] = lambda d=frames[k]: _noop_counted(sessionize(d))
        cells[(k, "win")] = lambda d=frames[k]: _noop_counted(window_agg(d))
    # repeats=5: the 1x cells are 0.1-0.5 s — pure scheduler-noise
    # territory — and a full cycle costs ~10 s, so two extra cycles are
    # cheap insurance on the family's smallest denominators
    med = _interleaved_medians(
        cells, repeats=5, warmup_keys=(("one_x", "sess"), ("one_x", "win"))
    )
    for k in labels:
        out[k] = {
            "sessionize_sec": med[(k, "sess")][0],
            "n_sessions": med[(k, "sess")][1],
            "window_agg_sec": med[(k, "win")][0],
            "n_window_rows": med[(k, "win")][1],
        }
    out["sessionize_time_growth"] = round(
        out["ten_x"]["sessionize_sec"] / out["one_x"]["sessionize_sec"], 4
    )
    out["window_agg_time_growth"] = round(
        out["ten_x"]["window_agg_sec"] / out["one_x"]["window_agg_sec"], 4
    )
    out["sessionize_growth_10x_to_100x"] = round(
        out["hundred_x"]["sessionize_sec"] / out["ten_x"]["sessionize_sec"], 4
    )
    out["window_agg_growth_10x_to_100x"] = round(
        out["hundred_x"]["window_agg_sec"] / out["ten_x"]["window_agg_sec"], 4
    )
    return out


def _trade_pairs(spark):
    """The graph replay family's base (customer, supplier) trade pairs —
    shared with replay_plan_probes, so the plan-integrity gate checks
    exactly the replay's edge construction."""
    from pyspark.sql import functions as F

    from sri_spark.sources.testdata import load_table

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c_id"),
            (F.col("l_suppkey") * 2 + 1).alias("s_id"),
        )
        .distinct()
    )


def _trade_edges(pairs, n_copies: int):
    """Undirected (both-direction) edge set over n_copies disjoint shifted
    copies of the trade pairs."""
    from pyspark.sql import functions as F

    p = _replicated_union(
        pairs,
        n_copies,
        lambda df, i: df.select(
            (F.col("c_id") + F.lit(i * 1_000_000_000)).alias("c_id"),
            (F.col("s_id") + F.lit(i * 1_000_000_000)).alias("s_id"),
        ),
    )
    return p.select(
        F.col("c_id").alias("src"), F.col("s_id").alias("dst")
    ).union(p.select(F.col("s_id").alias("src"), F.col("c_id").alias("dst")))


def graph_replay_10x(spark) -> dict:
    """Round-5 verdict item 3 for the slowest catalog query
    (graph_pagerank_trade): PageRank over 10 disjoint shifted copies of
    the customer-supplier trade graph — 10x nodes, 10x edges, identical
    diameter, so per-round shuffle volume should scale ~linearly and the
    round count stays fixed. The dst-partitioned persisted-arcs plan is
    exactly the catalog query's (graph/pagerank.py)."""
    from sri_spark.graph.pagerank import pagerank
    from sri_spark.operators.caching import unpersist_all
    from sri_spark.plans.graph_queries import PR_ITERS

    pairs = _trade_pairs(spark).persist()
    n_pairs = pairs.count()

    def edges_for(n_copies):
        return _trade_edges(pairs, n_copies)

    # round 8: hundred_x point (~117M directed arcs at sf0.1) — PageRank's
    # O(E·iters) class measured across two decades, like the other replays.
    # Round 12 (r11 verdict item 1): evaluated through _noop_counted, NOT
    # `.count()` — pagerank's unique-key left joins are join-eliminated
    # under a count (the judge measured 1 join / 6 aggregates remaining of
    # the real 13 / 29, >20x faster), so every pre-r12 decade growth for
    # this family characterized the pruned distinct/degree skeleton, not
    # the rank recurrence. tests/test_replay_plan_integrity.py now pins
    # the measured action's plan against the full materialization.
    med = _interleaved_medians(
        {
            k: (
                lambda e=edges_for(c): _noop_counted(
                    pagerank(e, iterations=PR_ITERS)
                )
            )
            for k, c in (("one_x", 1), ("ten_x", 10), ("hundred_x", 100))
        },
        cleanup=unpersist_all,  # pagerank's per-round scoped persists
        warmup_keys=("one_x",),
    )
    one, ten, hundred = (
        {"sec": med[k][0], "n_nodes": med[k][1]}
        for k in ("one_x", "ten_x", "hundred_x")
    )
    pairs.unpersist()
    return {
        "edges_1x": n_pairs * 2,
        "edges_10x": n_pairs * 20,
        "edges_100x": n_pairs * 200,
        "iterations": PR_ITERS,
        "action": "noop_sink",  # r12: full plan, not a prunable count
        "one_x": one,
        "ten_x": ten,
        "hundred_x": hundred,
        "time_growth": round(ten["sec"] / one["sec"], 4) if one["sec"] else None,
        "time_growth_10x_to_100x": (
            round(hundred["sec"] / ten["sec"], 4) if ten["sec"] else None
        ),
    }


def ann_replay_10x(spark) -> dict:
    """Round-5 verdict item 3 for the ANN probe path: per-query latency of
    both serving paths on the embeddings table and on a 10x replica
    (vec_id-shifted copies — identical directions land in identical
    buckets, so bucket occupancy and the exact-rerank candidate set grow
    exactly 10x: the worst case for probe cost). LSH probes here include
    corpus signing (the catalog query's own shape, no prebuilt index);
    IVF reports index build and probe separately, as in serving."""
    from pyspark.sql import functions as F

    from sri_spark.similarity.ivf import build_ivf_index, ivf_probe
    from sri_spark.similarity.lsh import rp_ann_topk
    from sri_spark.sources.testdata import load_table

    base = load_table(spark, SF_DIR, "embeddings")
    n1 = base.count()
    ids = [r[0] for r in base.select("vec_id").orderBy("vec_id").collect()]
    qids = [ids[(i * len(ids)) // 5] for i in range(5)]
    K = 10

    def corpus(n_copies):
        return _replicated_union(
            base,
            n_copies,
            lambda df, i: df.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "embedding",
            ),
        )

    # round 9: hundred_x point (200k vectors) — probe latency across two
    # decades pins the bucketed-scan claim; per-point times are medians of
    # three full 5-query panels (verdict item 1)
    out = {
        "rows_1x": n1,
        "rows_10x": n1 * 10,
        "rows_100x": n1 * 100,
        "k": K,
        "n_queries": len(qids),
    }
    for label, n_copies in (("one_x", 1), ("ten_x", 10), ("hundred_x", 100)):
        emb = corpus(n_copies).persist()
        emb.count()
        first = label == "one_x"
        lsh_sec, _ = _median_point(
            lambda: [rp_ann_topk(emb, q, k=K, hamming=3).collect() for q in qids],
            warmup=first,
        )

        indexed_holder: list = []

        def _build():
            if indexed_holder:  # release the previous repeat's index
                indexed_holder.pop().unpersist()
            model, idx = build_ivf_index(emb, n_lists=16)
            idx = idx.persist()
            idx.count()
            indexed_holder.append(idx)
            return [
                (i, [float(x) for x in c])
                for i, c in enumerate(model.clusterCenters())
            ]

        ivf_build_sec, centroids = _median_point(_build, warmup=first)
        indexed = indexed_holder.pop()
        ivf_probe_sec, _ = _median_point(
            lambda: [
                ivf_probe(indexed, centroids, q, k=K, n_probe=4).collect()
                for q in qids
            ],
            warmup=first,
        )
        indexed.unpersist()
        emb.unpersist()
        out[label] = {
            "lsh_probe_sec_per_query": round(lsh_sec / len(qids), 4),
            "ivf_build_sec": ivf_build_sec,
            "ivf_probe_sec_per_query": round(ivf_probe_sec / len(qids), 4),
        }
    for key in ("lsh_probe_sec_per_query", "ivf_probe_sec_per_query"):
        out[key.replace("_sec_per_query", "_time_growth")] = round(
            out["ten_x"][key] / out["one_x"][key], 4
        )
        out[key.replace("_sec_per_query", "_growth_10x_to_100x")] = round(
            out["hundred_x"][key] / out["ten_x"][key], 4
        )
    return out


def keepbest_replay_10x(spark) -> dict:
    """Round-5 verdict item 3 for the slowest new catalog query
    (dedup_cluster_keep_best): LSH pairs -> star-CC -> per-cluster
    keep-best over the salted 1x/10x documents corpora
    (_salted_docs_corpus: 10x docs at the same duplication rate, no
    cross-copy shingles). Healthy growth is ~linear in candidates —
    banding keys every join, CC rounds depend on cluster diameter, not
    corpus size."""
    from pyspark.sql import functions as F

    from sri_spark.operators.caching import unpersist_all
    from sri_spark.plans.curation_extra_queries import keep_best_members

    one_x, corpus10, n1 = _salted_docs_corpus(spark, 10)
    # round 9: hundred_x point (500k docs) — closes the loop with the dedup
    # 100x point this operator consumes (verdict item 5)
    _, corpus100, _ = _salted_docs_corpus(spark, 100)

    # r12: noop-counted evaluation of the cluster rollup (see _noop) — the
    # keep-best window ranking feeds the kept-row filter so a count never
    # pruned it, but the uniform full-plan standard (and its gate) applies
    med = _interleaved_medians(
        {
            k: (
                lambda d=d: _noop_counted(
                    keep_best_members(d)
                    .groupBy("cluster_id")
                    .agg(F.count("*").alias("n_members"))
                )
            )
            for k, d in (
                ("one_x", one_x),
                ("ten_x", corpus10),
                ("hundred_x", corpus100),
            )
        },
        cleanup=unpersist_all,
        warmup_keys=("one_x",),
    )
    one, ten, hundred = (
        {"sec": med[k][0], "n_clusters": med[k][1]}
        for k in ("one_x", "ten_x", "hundred_x")
    )
    return {
        "rows_1x": n1,
        "rows_10x": n1 * 10,
        "rows_100x": n1 * 100,
        "one_x": one,
        "ten_x": ten,
        "hundred_x": hundred,
        "cluster_growth": (
            round(ten["n_clusters"] / one["n_clusters"], 4)
            if one["n_clusters"]
            else None
        ),
        "time_growth": round(ten["sec"] / one["sec"], 4) if one["sec"] else None,
        "cluster_growth_10x_to_100x": (
            round(hundred["n_clusters"] / ten["n_clusters"], 4)
            if ten["n_clusters"]
            else None
        ),
        "time_growth_10x_to_100x": (
            round(hundred["sec"] / ten["sec"], 4) if ten["sec"] else None
        ),
    }


def corpus_pipeline_replay(spark) -> dict:
    """Round-5 verdict item 6: the composed LLM-corpus pipeline (langID ->
    quality -> exact dedup -> keep-best -> decontaminate -> budget -> pack
    -> shard export) as ONE measured run over the sf documents fixture —
    the mandate surface's analogue of sri_etl_replay. Per-stage
    rows-in/rows-out/seconds; stage counts are pinned to the individual
    catalog queries by tests/test_corpus_pipeline.py (at the catalog's
    3-gram decontamination grain). The replay runs the PRODUCTION
    13-gram decontamination grain — ANY-3-gram overlap flags 100% of the
    phrase-repetitive fixture at sf0.1, which would zero out the
    budget/pack/export tail this block exists to measure."""
    import shutil

    from sri_spark.etl.corpus_pipeline import run_corpus_pipeline
    from sri_spark.operators.caching import unpersist_all

    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    out_dir = os.path.join(cache, "corpus_shards")
    shutil.rmtree(out_dir, ignore_errors=True)
    result = run_corpus_pipeline(spark, SF_DIR, out_dir, decontaminate_ngram=13)
    unpersist_all()
    shutil.rmtree(out_dir, ignore_errors=True)
    return result


def replay_plan_probes(spark) -> dict:
    """Plan-integrity probes (round-11 verdict item 2): for every replay
    family in scripts/compare_replay_growth.py::REPLAY_BLOCKS, the frame(s)
    the replay times and HOW it evaluates them, so
    tests/test_replay_plan_integrity.py can compare the measured action's
    optimized plan against the frame's full-materialization plan and fail
    if the action lets Catalyst eliminate joins/windows/aggregates. (The
    r11 defect this generalizes: graph's `.count()` join-eliminated
    PageRank's rank rounds — 1 join / 6 aggregates survived of 13 / 29 —
    so three rounds of decade growths measured the pruned skeleton.)

    Entry shape: {"action", "measure_marker", "frames"}.
    - action: "noop" (noop-sink write via _noop_counted), "write" (parquet
      sink), or "collect" (top-k serving collect) — all three execute the
      frame's complete optimized plan; a "count" action would not, and the
      gate proves it would be caught (the meta-test re-creates the r11 bug).
    - measure_marker: substring that must appear in the replay function's
      source — binds this registry's claim to the code actually timed, so
      an edit that swaps the evaluation back to a prunable action without
      updating the registry fails the gate's source check.
    - frames: [(label, DataFrame)] built by the SAME builders the replay
      uses, at 1x/test scale.

    corpus_pipeline_replay carries no probe frames: run_corpus_pipeline's
    measured evaluation is persist()+count per stage (building the cache
    materializes every column of the full stage plan) plus a parquet shard
    export — full materialization by construction; the source marker still
    binds it.
    """
    from pyspark.sql import functions as F

    from sri_spark.dedup.jaccard import ngram_jaccard_pairs
    from sri_spark.dedup.minhash import minhash_lsh_pairs
    from sri_spark.dedup.spans import explode_spans, mark_duplicate_spans
    from sri_spark.graph.pagerank import pagerank
    from sri_spark.plans.curation_extra_queries import keep_best_members
    from sri_spark.plans.events_queries import sessionize
    from sri_spark.plans.graph_queries import PR_ITERS
    from sri_spark.similarity.ivf import build_ivf_index, ivf_probe
    from sri_spark.similarity.lsh import rp_ann_topk
    from sri_spark.sources.testdata import load_table
    from tests.sri_fixture import write_sri_csv

    from sri_spark.etl import EtlConfig, run_pipeline

    cache = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    csv_path = os.path.join(cache, "sri_plan_probe.csv")
    if not os.path.exists(csv_path):
        write_sri_csv(csv_path, n=2000, seed=20250702, n_codes=3000)
    star = run_pipeline(spark, csv_path, EtlConfig(mode="fixed"))
    etl_probe = {
        "action": "write",
        "measure_marker": ("write_star(tables, out_dir)",),
        "frames": [(name, df) for name, df in sorted(star.items())],
    }

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    events = _events_base(spark)
    edges = _trade_edges(_trade_pairs(spark), 1)

    emb = load_table(spark, SF_DIR, "embeddings")
    qid = emb.agg(F.min("vec_id")).first()[0]
    model, indexed = build_ivf_index(emb, n_lists=4)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]

    return {
        "sri_etl_replay": etl_probe,
        "sri_etl_replay_10x": etl_probe,
        "sri_etl_replay_100x": etl_probe,
        "dedup_replay_10x": {
            "action": "noop",
            "measure_marker": ("_noop_counted(", "minhash_lsh_pairs("),
            "frames": [("lsh_pairs", minhash_lsh_pairs(docs))],
        },
        "jaccard_replay_10x": {
            "action": "noop",
            "measure_marker": ("_noop_counted(", "ngram_jaccard_pairs("),
            "frames": [("jaccard_pairs", ngram_jaccard_pairs(docs))],
        },
        "spans_replay_10x": {
            "action": "noop",
            "measure_marker": (
                "_noop_counted(",
                "mark_duplicate_spans(",
                "explode_spans(",
            ),
            "frames": [
                (
                    "span_marked",
                    mark_duplicate_spans(explode_spans(docs), hash_key=True),
                ),
            ],
        },
        "events_replay_10x": {
            "action": "noop",
            "measure_marker": ("_noop_counted(", "sessionize(", "window_agg("),
            "frames": [
                ("sessionize", sessionize(events)),
                ("window_agg", _events_window_agg(events)),
            ],
        },
        "graph_replay_10x": {
            "action": "noop",
            "measure_marker": ("_noop_counted(", "pagerank("),
            "frames": [
                ("pagerank", pagerank(edges, iterations=PR_ITERS)),
            ],
        },
        "ann_replay_10x": {
            "action": "collect",
            "measure_marker": (".collect()",),
            "frames": [
                ("lsh_topk", rp_ann_topk(emb, qid, k=10, hamming=3)),
                ("ivf_probe", ivf_probe(indexed, centroids, qid, k=10, n_probe=2)),
            ],
        },
        "keepbest_replay_10x": {
            "action": "noop",
            "measure_marker": ("_noop_counted(", "keep_best_members("),
            "frames": [
                (
                    "keepbest_rollup",
                    keep_best_members(docs)
                    .groupBy("cluster_id")
                    .agg(F.count("*").alias("n_members")),
                ),
            ],
        },
        "corpus_pipeline_replay": {
            "action": "write",
            "measure_marker": ("run_corpus_pipeline(",),
            "frames": [],
        },
    }


# Floor-eligibility band (round-11 verdict item 1): the r10 floor was
# captured at load-avg 17.5 with host_factor 1.286 vs its own floor, and
# every r11 comparison would have inherited that contamination through the
# scalar-calibration assumption. An artifact whose own recorded
# host_factor (its capture host vs ITS floor's host) falls outside this
# band is refused as a floor; the loader falls back to the next-older
# parseable artifact.
FLOOR_HOST_FACTOR_BAND = (0.85, 1.15)


# The driver captures only the LAST 2,000 chars of stdout; the final
# printed line must fit that window with margin or the round envelope
# records "parsed": null (it did for rounds 1-12).
COMPACT_LINE_BUDGET = 1800


def compact_final_line(
    artifact: dict, regression: dict | None, full_artifact_rel: str
) -> str:
    """The LAST stdout line of a bench run: a driver-parseable JSON
    envelope guaranteed <= COMPACT_LINE_BUDGET bytes.

    Carries totals, calibration, regression counts and the HEADLINE
    queries only (2dp) — the EXTENDED tail and replay blocks live in the
    committed docs/BENCH_full copy referenced by `full_artifact`. If a
    future headline growth ever overflows the budget, the per-query dict
    is dropped entirely rather than risking a 13th parsed-null round."""
    queries = {
        name: round(sec, 2)
        for name, sec in artifact["queries"].items()
        if name in HEADLINE
    }
    compact = {
        "metric": "all_queries_total",
        "value": artifact["value"],
        "unit": "sec",
        "sf": artifact["sf"],
        "headline_total": artifact["headline_total"],
        "extended_total": artifact["extended_total"],
        "calibration": artifact["calibration"],
        "regression_counts": (regression or {}).get("counts"),
        "host_factor": (regression or {}).get("host_factor"),
        "floor_eligible": artifact["floor_eligible"],
        "full_artifact": full_artifact_rel,
        "queries": queries,
    }
    line = json.dumps(compact)
    # shed optional payloads in least-valuable-first order until the
    # line fits; everything dropped here survives in the full artifact
    for droppable in ("queries", "calibration", "regression_counts"):
        if len(line) <= COMPACT_LINE_BUDGET:
            break
        compact.pop(droppable, None)
        line = json.dumps(compact)
    return line


def _floor_eligible(doc: dict) -> bool:
    """Whether a bench artifact may serve as the next round's floor.
    Artifacts written at/after r11 carry an explicit `floor_eligible`
    bool; older ones are judged by their recorded regression.host_factor
    (absent = pre-calibration artifact, eligible by default).

    One-sided since r12 (see the artifact-level comment in main()): only
    an ABOVE-band factor — this capture slower than its floor's —
    indicts the artifact; a below-band factor means the floor was the
    contended capture, and refusing the fast/quiet run would pin the
    floor at contended grade forever. An r11-era doc that recorded
    `floor_eligible: false` purely for a below-band factor is
    re-admitted by recomputing from its host_factor."""
    hf = (doc.get("regression") or {}).get("host_factor")
    if "floor_eligible" in doc:
        explicit = bool(doc["floor_eligible"])
        if not explicit and hf is not None and hf < FLOOR_HOST_FACTOR_BAND[0]:
            return True  # refused under the old two-sided rule only
        return explicit
    if hf is None:
        return True
    return hf <= FLOOR_HOST_FACTOR_BAND[1]


def _load_floor_artifact() -> tuple[str, dict] | None:
    """Newest FLOOR-ELIGIBLE bench artifact (see _floor_candidates), with
    its bench line extracted (the driver wraps the line in a
    {"tail": ...} envelope) and any `extended_queries` merged into
    `queries` so pre-merge floors compare. Artifacts captured under host
    contention (_floor_eligible) are skipped; if NO candidate is eligible
    the newest parseable one is returned with `_floor_ineligible_fallback`
    set, so the gate degrades loudly instead of silently disabling."""
    candidates = _floor_candidates()
    # the floor is the previous ROUND's artifact: ignore any full copy this
    # script itself wrote for the CURRENT round (driver rounds are defined
    # by the driver-written BENCH_r*.json files)
    this_round = _current_round()
    candidates = [c for c in candidates if c[0] < this_round]
    # newest PARSEABLE artifact wins: a driver tail truncated mid-line
    # (how r4's raw timings were lost) is skipped in favor of the next
    # older round rather than silently disabling the regression gate
    fallback: tuple[str, dict] | None = None
    for _, _, path in reversed(candidates):
        with open(path) as f:
            text = f.read()
        doc = None
        try:
            doc = json.loads(text)
            if "queries" not in doc:
                text, doc = doc.get("tail", ""), None
        except json.JSONDecodeError:
            pass
        if doc is None:
            for line in text.splitlines():
                line = line.strip()
                if line.startswith("{"):
                    try:
                        cand = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if "queries" in cand:
                        doc = cand
        if doc is None:
            continue
        doc["queries"] = {**doc["queries"], **doc.get("extended_queries", {})}
        if not _floor_eligible(doc):
            if fallback is None:
                fallback = (os.path.basename(path), doc)
            continue
        return os.path.basename(path), doc
    if fallback is not None:
        fallback[1]["_floor_ineligible_fallback"] = True
        return fallback
    return None


def regression_block(
    queries: dict[str, float], calib: float, shuffle_calib: float
) -> dict | None:
    """Round-3 verdict item 3: the host-normalized per-query comparison
    against the previous round's artifact, embedded IN the artifact so the
    judge never needs median-ratio guesswork. Floor times are scaled by the
    calibration ratio (both artifacts time the same fixed JVM workload);
    verdict per query: regressed = >2x normalized floor AND >0.5 s slower.

    Host normalization prefers the MULTICORE calibration scalar when the
    floor recorded one (round-5 verdict item 1: the single-threaded
    range-sum loop does not track the multicore/shuffle contention that
    actually varies between hosts for 1.5-3.5 s shuffle-heavy queries —
    same-code runs drifted 1.3x under it). Floors older than r06 only
    carry range_sum, so the first round after this change still normalizes
    by the weaker scalar; every later round uses the shuffle one."""
    loaded = _load_floor_artifact()
    if not loaded:
        return None
    floor_name, floor = loaded
    floor_cal = floor.get("calibration") or {}
    fsc = floor_cal.get("shuffle_groupby_sec")
    fc = floor_cal.get("range_sum_500m_sec")
    if fsc:
        host, scalar = round(shuffle_calib / fsc, 4), "shuffle_groupby_sec"
    elif fc:
        host, scalar = round(calib / fc, 4), "range_sum_500m_sec"
    else:
        host, scalar = 1.0, None
    per_query, counts = {}, {"ok": 0, "regressed": 0, "improved": 0, "new": 0}
    for name, t in sorted(queries.items()):
        base = floor["queries"].get(name)
        if base is None:
            counts["new"] += 1
            per_query[name] = "new"
            continue
        norm_base = base * host
        ratio = round(t / norm_base, 2) if norm_base else None
        if t > norm_base * 2.0 and t - norm_base > 0.5:
            counts["regressed"] += 1
            per_query[name] = f"regressed:{ratio}x"
        elif t < norm_base * 0.8:
            counts["improved"] += 1
            per_query[name] = f"improved:{ratio}x"
        else:
            counts["ok"] += 1
            per_query[name] = f"ok:{ratio}x"
    return {
        "floor": floor_name,
        "host_factor": host,
        "calibrated": scalar is not None,
        "calibration_scalar": scalar,
        # r10: a 1.71 host_factor (load-avg-14 neighbor tenant) flagged 3
        # regressed / 38 improved on byte-identical plans. A factor this
        # far from 1.0 means the calibration itself ran under contention,
        # so per-query verdicts are unreliable in BOTH directions — the
        # deterministic shuffle_regression block is the trustworthy gate
        # on such a run, and wall verdicts need a quiet-host re-measure
        # (scripts/pin_band.py) before anyone acts on them.
        "host_factor_suspect": bool(host > 1.4 or host < 0.7),
        # set only when every prior artifact failed _floor_eligible and
        # the loader fell back to the newest parseable one anyway
        "floor_ineligible_fallback": bool(
            floor.get("_floor_ineligible_fallback")
        ),
        "counts": counts,
        "per_query": per_query,
    }


MIB = 2**20


def _median_repeat(reps: list[dict]) -> dict:
    """Each stage metric's median over a key's repeats (the upper middle
    for an even count, as for the walls)."""
    return {k: sorted(r[k] for r in reps)[len(reps) // 2] for k in reps[0]}


def _incomplete(reps: list[dict]) -> bool:
    return any(r.get("evicted", 0) or r.get("jobs_dropped", 0) for r in reps)


def shuffle_regression(
    current: dict, floor: dict, *, abs_mib: float, spill_floor_mib: float
) -> dict:
    """Deterministic scale-cost gate (round-5 verdict item 2) over two
    stage-metrics ledgers, {"<block>.<point>": [per-repeat metrics]}.
    Shuffle bytes, unlike wall time, do not jitter with host load, so
    growth against the floor is a plan change, not noise. A key regresses
    if its median-repeat shuffle traffic (write + read) grows >20% AND by
    more than `abs_mib` (the absolute floor keeps small points from
    tripping on rounding), or if its disk spill exceeds
    max(`spill_floor_mib`, 1.2x the floor's spill): the absolute arm
    catches new spill where the floor had none, the relative arm catches
    growth of existing spill without a nonzero floor permanently disabling
    detection. Floor keys absent from `current` are reported as `missing`
    (a visible coverage shrink, not a failure — an intentional rename
    clears on the next floor). A key where any repeat, in the run or in
    the floor, lost stages or jobs to the status store's retention caps
    (`evicted`, `jobs_dropped`) summed short bytes, so it is reported as
    `unmeasured` rather than ok or regressed."""
    per_key = {}
    counts = {"ok": 0, "regressed": 0, "new": 0, "missing": 0, "unmeasured": 0}
    for key in sorted(set(floor) - set(current)):
        counts["missing"] += 1
        per_key[key] = "missing (in floor, not in this run)"
    for key, reps in sorted(current.items()):
        if key not in floor:
            counts["new"] += 1
            per_key[key] = "new"
            continue
        if _incomplete(reps) or _incomplete(floor[key]):
            counts["unmeasured"] += 1
            per_key[key] = "unmeasured (the status store dropped stages or jobs)"
            continue
        m, base = _median_repeat(reps), _median_repeat(floor[key])
        cur = (m["shuffle_write"] + m["shuffle_read"]) / MIB
        ref = (base["shuffle_write"] + base["shuffle_read"]) / MIB
        spill, base_spill = m["spill_disk"] / MIB, base["spill_disk"] / MIB
        spilled = spill > max(spill_floor_mib, base_spill * 1.2)
        grew = cur > ref * 1.2 and cur - ref > abs_mib
        ratio = round(cur / ref, 2) if ref else None
        shown = f"{ratio}x" if ratio is not None else "from 0 MiB"
        if grew or spilled:
            counts["regressed"] += 1
            why = "spill" if spilled else shown
            per_key[key] = (
                f"regressed:{why} (shuffle {ref:.2f}->{cur:.2f} MiB,"
                f" spill {base_spill:.2f}->{spill:.2f} MiB)"
            )
        else:
            counts["ok"] += 1
            per_key[key] = f"ok:{shown}"
    return {
        "threshold": (
            f"shuffle(write+read) > 1.2x floor and > +{abs_mib:g} MiB, "
            f"or spill > max({spill_floor_mib:g} MiB, 1.2x floor spill)"
        ),
        "counts": counts,
        "per_key": per_key,
    }


def _stage_metrics_floor(here: str, this_round: int) -> tuple[str, dict] | None:
    """(file name, stage_metrics) of the newest docs/BENCH_full_r{N}.json
    with N < this_round that carries a stage-metrics ledger."""
    rounds = []
    for path in glob.glob(os.path.join(here, "docs", "BENCH_full_r*.json")):
        m = re.fullmatch(r"BENCH_full_r(\d+)\.json", os.path.basename(path))
        if m and int(m.group(1)) < this_round:
            rounds.append((int(m.group(1)), path))
    for _, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if doc.get("stage_metrics"):
            return os.path.basename(path), doc["stage_metrics"]
    return None


def shuffle_gate(ledger: dict, here: str, this_round: int) -> dict | None:
    """shuffle_regression of this run's stage-metrics ledger against the
    floor (_stage_metrics_floor): the catalog queries at a 1 MiB shuffle
    and 1 MiB spill floor, the replay points — which move GiBs, and whose
    100x ETL point legitimately spills tens of GiB on one host
    (docs/SCALE.md) — at 100 MiB and 1 GiB. None when no prior artifact
    carries a ledger."""
    loaded = _stage_metrics_floor(here, this_round)
    if loaded is None:
        return None
    name, floor = loaded

    def scope(log: dict, queries: bool) -> dict:
        return {k: v for k, v in log.items() if k.startswith("queries.") == queries}

    return {
        "floor": name,
        "queries": shuffle_regression(
            scope(ledger, True), scope(floor, True), abs_mib=1.0, spill_floor_mib=1.0
        ),
        "replays": shuffle_regression(
            scope(ledger, False),
            scope(floor, False),
            abs_mib=100.0,
            spill_floor_mib=1024.0,
        ),
    }


def check_shuffle_gate(path: str) -> int:
    """Exit status for a bench artifact's shuffle gate: 1 when any key
    regressed (printed), else 0. scripts/round_artifacts.sh runs it after
    bench.py, which itself always exits 0 and only records the verdict."""
    with open(path) as f:
        gate = json.load(f).get("shuffle_regression")
    if gate is None:
        print(f"shuffle gate: {path} has no floor yet, nothing to check")
        return 0
    failed = 0
    for scope in ("queries", "replays"):
        block = gate[scope]
        print(f"shuffle gate {scope} vs {gate['floor']}: {block['counts']}")
        for key, verdict in block["per_key"].items():
            if verdict.startswith(("regressed", "unmeasured")):
                print(f"  {key}: {verdict}")
        failed += block["counts"]["regressed"]
    return 1 if failed else 0


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _timed_query(name: str, run) -> float:
    """Median of three timed executions — for EVERY query, not just
    sub-second ones. Round-5 verdict item 1: the 1.5-3.5 s shuffle-heavy
    queries were single-shot, and two same-code round-5 runs measured them
    1.3x apart (dedup_ngram_jaccard 1.39x vs 1.82x calibrated), parking
    five queries one noisy run from a false 2x regression trip. The ~35 s
    the extra runs cost buys a trustworthy gate."""
    ts = sorted(_LEDGER.timed(run, name)[0] for _ in range(3))
    return round(ts[1], 4)


def _bench_queries(spark, queries: dict, names: list[str], plan_ms: dict) -> dict:
    """Median walls (_timed_query) of the catalog queries in `names`,
    after an untimed warm-up pass over all of them (JIT, codegen caches,
    file-footer reads), so the timed pass measures steady-state engine
    work. Each execution builds the query, noop-sinks it and releases its
    scoped caches. plan_ms[name] is the warm-up frame's planning time,
    read after its write (which warmed the same planning code) and before
    its caches go, so the plan it times reads the same cached leaves."""
    from sri_spark.operators.caching import unpersist_all

    names = [n for n in names if n in queries]
    for name in names:
        df = queries[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        plan_ms[name] = _plan_ms(df)
        unpersist_all()

    def run_one(name):
        def run():
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            unpersist_all()  # release per-query scoped caches

        return run

    return {name: _timed_query(name, run_one(name)) for name in names}


def _plan_ms(df) -> int:
    """Analysis + optimization + physical planning time of a built frame,
    from its own query execution's phase tracker. Forces the physical
    plan, so call it outside any clock."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def _session_config(spark) -> dict:
    """The session settings every wall in the artifact depends on."""
    from sri_spark.session import default_parallelism

    conf = spark.conf
    return {
        "cpus": default_parallelism(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "driver_heap": conf.get("spark.driver.memory"),
        "spark": spark.version,
        "codegen_cache_entries": int(
            conf.get("spark.sql.codegen.cache.maxEntries")
        ),
    }


def main() -> None:
    # 24g heap unless the caller overrides: the 100x ETL fact write sits on
    # the execution-memory edge BY DESIGN (~50 GiB spill), and at the old
    # 12g default it OOMed (UNABLE_TO_ACQUIRE_MEMORY) for the first time in
    # r11 once the catalog grew past 275 sessions-worth of codegen/broadcast
    # residue. Heap is a single-host knob; every gated signal (shuffle/spill
    # bytes, calibrated walls) is unchanged by it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

    from sri_spark.plans import all_queries
    from sri_spark.session import get_spark

    spark = get_spark("sri_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _LEDGER.arm(spark)
    queries = all_queries()

    from sri_spark.operators.caching import unpersist_all

    _LEDGER.start_block("queries")
    plan_ms: dict[str, int] = {}
    timings = _bench_queries(spark, queries, HEADLINE, plan_ms)
    ext_timings = _bench_queries(spark, queries, EXTENDED, plan_ms)

    # production-scale ETL replay (BASELINE.md's reference-derived target);
    # runs after the timed query pass so it never contends with it. Kept out
    # of the query total so `value` stays comparable across rounds.
    _LEDGER.start_block("sri_etl_replay")
    replay = sri_etl_replay(spark)
    _LEDGER.start_block("sri_etl_replay_10x")
    replay_10x = sri_etl_replay_10x(spark)

    # every replay block that holds a 10x/100x build (46M-row star, 117M
    # arcs, 10M events, 500k docs) is big enough to die on a starved host;
    # a failure there must cost THAT block, not the whole bench artifact
    # the driver records for the round (ADVICE r8: the guard the 100x ETL
    # had, applied to all of them)
    def _guarded(fn) -> dict:
        _LEDGER.start_block(fn.__name__)
        try:
            return fn(spark)
        except Exception as ex:  # noqa: BLE001 — record, don't lose artifact
            spark.catalog.clearCache()
            unpersist_all()
            return {"error": f"{type(ex).__name__}: {ex}"[:500]}

    replay_100x = _guarded(sri_etl_replay_100x)
    if "sec" in replay_100x:
        # the growth the judge reads: 10x more rows should cost ~10x, not 100x
        replay_100x["growth_vs_10x"] = round(
            replay_100x["sec"] / replay_10x["sec"], 2
        )
    recall = _guarded(ann_recall)
    recall["planted"] = _guarded(ann_planted)
    # round-5 verdict item 3: measured 10x growth curves for the remaining
    # headline families (ETL and LSH-dedup already had them above)
    dedup_replay = _guarded(dedup_replay_10x)
    jaccard_replay = _guarded(jaccard_replay_10x)  # r14 (r13 verdict item 7)
    spans_replay = _guarded(spans_replay_10x)
    events_replay = _guarded(events_replay_10x)
    graph_replay = _guarded(graph_replay_10x)
    ann_replay = _guarded(ann_replay_10x)
    keepbest_replay = _guarded(keepbest_replay_10x)
    corpus_replay = _guarded(corpus_pipeline_replay)

    # CPU self-calibration: a fixed JVM-side workload whose time depends only
    # on host speed, not on this repo's code. Cross-round bench comparisons
    # divide by this to separate code regressions from host-speed changes
    # (observed: identical code measured ~2x apart across round drivers).
    calib = min(
        _timed(lambda: spark.range(500_000_000).selectExpr("sum(id * 2)").collect())
        for _ in range(3)
    )
    # multicore twin of the scalar above: a fixed 20M-row / 1M-group hash
    # shuffle across every core. Wall time for the catalog's shuffle-heavy
    # queries tracks THIS (cross-core contention, shuffle IO), not the
    # single-threaded codegen loop — round-5 verdict item 1.
    shuffle_calib = min(
        _timed(
            lambda: spark.range(20_000_000)
            .selectExpr("id % 1000000 as k", "id as v")
            .groupBy("k")
            .sum("v")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for _ in range(3)
    )

    # ONE gated total covering every benched query (round-3 verdict item 4):
    # a regression in the former `extended` set now moves `value` and gets a
    # per-query normalized verdict like everything else. The subtotals keep
    # continuity with rounds 1-3 artifacts.
    all_timings = {**timings, **ext_timings}

    here = os.path.dirname(os.path.abspath(__file__))
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    regression = regression_block(
        all_timings, round(calib, 4), round(shuffle_calib, 4)
    )
    # regression verdict FIRST (round-4 verdict item 4: the driver keeps
    # only the output TAIL, so anything that must survive truncation goes
    # last; the human-readable summary can lead)
    print(
        json.dumps(
            {"metric": "regression_summary", "regression": regression}
        )
    )
    artifact = {
        "metric": "all_queries_total",
        "value": round(sum(all_timings.values()), 4),
        "unit": "sec",
        "sf": sf,
        "headline_total": round(sum(timings.values()), 4),
        "extended_total": round(sum(ext_timings.values()), 4),
        "sri_etl_replay": replay,
        "sri_etl_replay_10x": replay_10x,
        "sri_etl_replay_100x": replay_100x,
        "dedup_replay_10x": dedup_replay,
        "jaccard_replay_10x": jaccard_replay,
        "spans_replay_10x": spans_replay,
        "events_replay_10x": events_replay,
        "graph_replay_10x": graph_replay,
        "ann_replay_10x": ann_replay,
        "keepbest_replay_10x": keepbest_replay,
        "corpus_pipeline_replay": corpus_replay,
        "ann_recall": recall,
        "calibration": {
            "range_sum_500m_sec": round(calib, 4),
            "shuffle_groupby_sec": round(shuffle_calib, 4),
            # host contention snapshot (r10: a load-avg-14 neighbor made
            # host_factor read 1.71 and flagged 3 regressed / 38 improved
            # on byte-identical plans — record the evidence in-artifact)
            "load_avg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
        },
        "regression": regression,
        # round-11 verdict item 1, re-derived in r12: whether THIS
        # artifact may serve as a future round's floor — false when its
        # own host_factor shows the capture host ran >15% SLOWER than the
        # floor's (contention skews the scalar-calibration assumption
        # every later comparison rests on, as the r10 floor captured at
        # load-avg 17.5 demonstrated). The check is ONE-SIDED by design:
        # neighbor contention can only inflate times, never deflate them,
        # so a below-band factor means the FLOOR's capture was the noisy
        # one — r12's genuinely quiet run (shuffle calib 0.79, the known
        # quiet level on this host: 0.77-0.79 across r9/r9B/r12) read
        # 0.736 against the contended r11 driver-rerun floor (calib
        # 1.076) and the old two-sided band refused it, which would have
        # pinned every future floor at contended grade forever.
        "floor_eligible": (
            regression is None
            or regression["host_factor"] is None
            or regression["host_factor"] <= FLOOR_HOST_FACTOR_BAND[1]
        ),
        # deterministic scale-cost gate (round-5 verdict item 2): this
        # run's per-key shuffle and spill bytes against the newest prior
        # artifact that recorded them. Shuffle bytes don't jitter with host
        # load, so this gate can't false-fire the way wall time can.
        "shuffle_regression": shuffle_gate(
            _LEDGER.stage_metrics, here, _current_round()
        ),
        "session_config": _session_config(spark),
        # per timed execution (see _Ledger): classes compiled, and what
        # its stages did
        "codegen_compiles": _LEDGER.compiles,
        "stage_metrics": _LEDGER.stage_metrics,
        # analysis + optimization + planning of each query's built frame
        "plan_ms": plan_ms,
        # the per-query dict LAST inside the line, so a truncated tail
        # still carries every raw timing
        "queries": all_timings,
    }
    line = json.dumps(artifact)
    # commit-able complete copy (tail truncation loses the line's head):
    # docs/BENCH_full_r{N}.json is also a floor candidate for next round
    full_path = os.path.join(
        here, "docs", f"BENCH_full_r{_current_round():02d}.json"
    )
    try:
        with open(full_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass  # read-only checkout: the printed line is still complete
    print(line)
    # round-12 verdict item 1: the driver tail-captures only the LAST
    # 2,000 chars of stdout, so the final printed line must fit that
    # window or the envelope reads "parsed": null (it did for 12 rounds —
    # the r11 "compact" line still carried all ~71 queries and ran
    # ~2.4-3 KB). Print a line the tail window can hold: totals +
    # calibration + regression counts + the HEADLINE queries only,
    # rounded to 2dp (~1.1 KB measured). The complete artifact is the
    # docs/BENCH_full copy above, which the floor loader prefers anyway.
    print(
        compact_final_line(
            artifact, regression, os.path.relpath(full_path, here)
        )
    )


if __name__ == "__main__":
    main()
