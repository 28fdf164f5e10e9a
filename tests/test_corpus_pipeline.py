"""The composed corpus pipeline (etl/corpus_pipeline.py) must agree,
stage by stage, with the INDIVIDUAL oracle-checked catalog queries it is
composed from (round-5 verdict item 6): every stage's row count is
re-derived here from catalog query outputs (plus a pandas re-statement of
the budget/pack oracles), never from the pipeline's own operators — so a
drift between the composition and the piecewise-verified surface fails
this test, not just the bench number."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"  # big enough that every stage drops rows


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    from sri_spark.etl.corpus_pipeline import run_corpus_pipeline

    out_dir = str(tmp_path_factory.mktemp("shards") / "export")
    result = run_corpus_pipeline(spark, SF, out_dir)
    return result, out_dir


@pytest.fixture(scope="module")
def catalog_frames(spark):
    """The catalog-query outputs the expectations derive from, as pandas."""
    from sri_spark.plans import all_queries
    from sri_spark.sources.testdata import load_table

    q = all_queries()
    return {
        "select_training": q["corpus_select_training"](spark, SF).toPandas(),
        "clusters": q["dedup_duplicate_clusters"](spark, SF).toPandas(),
        "quality": q["text_quality_score"](spark, SF).toPandas(),
        "decontaminate": q["corpus_decontaminate"](spark, SF).toPandas(),
        "pack": q["corpus_pack_sequences"](spark, SF).toPandas(),
        "docs": load_table(spark, SF, "documents")
        .select("doc_id", "lang")
        .toPandas(),
    }


def _expected_counts(cat):
    """Re-derive every stage's expected survivor set from catalog outputs."""
    from sri_spark.plans.curation_queries import TOKEN_BUDGET_PER_LANG
    from sri_spark.plans.training_queries import PACK_BUDGET

    n0 = len(cat["docs"])
    s3 = set(cat["select_training"]["doc_id"])

    # near-dup keep-best: corpus-wide clusters (dedup_duplicate_clusters) ranked
    # by text_quality_score's composite — drop non-keeper members
    qual = dict(zip(cat["quality"]["doc_id"], cat["quality"]["quality"]))
    drop = set()
    for _, grp in cat["clusters"].groupby("cluster_id"):
        members = sorted(grp["doc_id"], key=lambda d: (-qual[d], d))
        drop.update(members[1:])
    s4 = s3 - drop

    # decontamination: corpus_decontaminate rows are the non-bench docs
    # with their contamination flag; bench docs are absent from it
    decon = cat["decontaminate"]
    clean = set(decon.loc[~decon["contaminated"], "doc_id"])
    s5 = s4 & clean

    # per-language token budget: quality-desc greedy fill per stratum
    ntok = dict(zip(cat["pack"]["doc_id"], cat["pack"]["n_tokens"]))
    lang = dict(zip(cat["docs"]["doc_id"], cat["docs"]["lang"]))
    s6 = set()
    by_lang: dict = {}
    for d in s5:
        by_lang.setdefault(lang[d], []).append(d)
    for members in by_lang.values():
        cum = 0
        for d in sorted(members, key=lambda d: (-qual[d], d)):
            cum += ntok[d]
            if cum > TOKEN_BUDGET_PER_LANG:
                break
            s6.add(d)

    # concat-and-chop packing in doc_id order
    off, seqs = 0, set()
    for d in sorted(s6):
        seqs.add(off // PACK_BUDGET)
        off += ntok[d]
    return {
        "score": n0,
        "lang_quality_exact": len(s3),
        "near_dup_keep_best": len(s4),
        "decontaminate": len(s5),
        "token_budget": len(s6),
        "packed_sequences": len(seqs),
    }


def test_stage_counts_match_catalog(pipeline_result, catalog_frames):
    result, _ = pipeline_result
    got = {s["stage"]: s for s in result["stages"]}
    exp = _expected_counts(catalog_frames)

    assert got["score"]["n_out"] == exp["score"]
    # the lang -> quality -> exact-dedup cascade equals the composed
    # corpus_select_training query exactly (identical text => identical
    # lang/quality, so rank-within-filtered == rank-before-filter)
    assert got["exact_dedup"]["n_out"] == exp["lang_quality_exact"]
    assert got["near_dup_keep_best"]["n_out"] == exp["near_dup_keep_best"]
    assert got["decontaminate"]["n_out"] == exp["decontaminate"]
    assert got["token_budget"]["n_out"] == exp["token_budget"]
    assert got["pack"]["n_out"] == exp["token_budget"]  # pack is 1:1 on rows
    assert result["packed_sequences"] == exp["packed_sequences"]
    # every stage is a filter: monotone non-increasing row counts and
    # consistent n_in chaining
    order = [
        "score",
        "lang_id",
        "quality_gate",
        "exact_dedup",
        "near_dup_keep_best",
        "decontaminate",
        "token_budget",
        "pack",
        "shard_export",
    ]
    assert [s["stage"] for s in result["stages"]] == order
    for prev, nxt in zip(result["stages"], result["stages"][1:]):
        assert nxt["n_in"] == prev["n_out"]
    # the funnel must actually discriminate at this sf — a fixture change
    # that collapses a stage to a no-op should be loud, not silent
    assert exp["score"] > exp["lang_quality_exact"] > exp["decontaminate"] > 0


def test_empty_tail_is_safe(spark, tmp_path, monkeypatch):
    """A filter stage that drops EVERY row (here: an impossible quality
    floor) must flow an empty frame through keep-best, decontamination,
    budget, packing and shard export and report 0s — not crash. This is
    the sf0.1 production hazard: ANY-3-gram decontamination flags 100% of
    a phrase-repetitive corpus, and the export read-back previously died
    on JSON schema inference over a data-file-less directory."""
    import sri_spark.plans.curation_queries as cq
    from sri_spark.etl.corpus_pipeline import run_corpus_pipeline

    monkeypatch.setattr(cq, "QUALITY_FLOOR", 2.0)  # quality is in [0, 1]
    result = run_corpus_pipeline(
        spark, "/root/testdata/sf0.001", str(tmp_path / "shards")
    )
    got = {s["stage"]: s for s in result["stages"]}
    assert got["quality_gate"]["n_out"] == 0
    assert got["shard_export"]["n_in"] == 0
    assert got["shard_export"]["n_out"] == 0
    assert result["packed_sequences"] == 0


def test_shard_export_round_trips(spark, pipeline_result):
    from sri_spark.sources.export import with_shard_assignment

    result, out_dir = pipeline_result
    exported = spark.read.json(out_dir)
    n7 = result["stages"][-1]["n_in"]
    assert result["stages"][-1]["n_out"] == n7
    assert exported.count() == n7
    # shard membership is the deterministic salted-hash contract
    expected = (
        with_shard_assignment(
            exported.select("doc_id"), id_col="doc_id", n_shards=result["n_shards"]
        )
        .select("doc_id", F.col("shard").alias("expected_shard"))
    )
    mismatches = (
        exported.select("doc_id", "shard")
        .join(expected, "doc_id")
        .filter(F.col("shard") != F.col("expected_shard"))
        .count()
    )
    assert mismatches == 0
