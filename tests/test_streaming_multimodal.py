"""Structured Streaming (availableNow) equals the batch twin; multimodal
binary plumbing round-trips through Arrow batches."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from sri_spark.multimodal import attach_fake_payloads, decode_stats, frame_sample
from sri_spark.sources.testdata import load_table
from sri_spark.streaming import run_windowed_stream, windowed_event_counts


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-000.parquet")

    streamed = run_windowed_stream(
        spark, str(events_dir), str(tmp_path / "ckpt")
    ).collect()

    batch = windowed_event_counts(
        load_table(spark, sf_dir, "events"), watermark=None
    ).collect()

    key = lambda r: (r["window_start"], r["event_type"])
    s = {key(r): (r["n_events"], r["total_value"]) for r in streamed}
    b = {key(r): (r["n_events"], r["total_value"]) for r in batch}
    assert s == b and len(s) > 0


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    from sri_spark.streaming.jobs import enrich_events_with_dim, run_enriched_stream

    events_dir = tmp_path / "events_enrich"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-000.parquet")
    cust = load_table(spark, sf_dir, "customer")

    streamed = run_enriched_stream(
        spark, str(events_dir), cust, str(tmp_path / "ckpt_enrich")
    ).collect()
    batch = enrich_events_with_dim(
        load_table(spark, sf_dir, "events"), cust
    ).collect()

    key = lambda r: (r["event_id"], r["segmento"], r["value"])
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(streamed) > 0
    # the static side actually enriched something
    assert any(r["segmento"] != "SIN_SEGMENTO" for r in streamed)


def test_multimodal_decode_and_frames(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    assets = attach_fake_payloads(docs)
    stats = decode_stats(assets)
    rows = stats.collect()
    assert len(rows) == 50
    assert set(stats.columns) == {
        "asset_id", "kind", "n_bytes", "sha256", "byte_mean", "byte_std",
        "decoded_width", "decoded_height", "pixel_mean", "pixel_std",
    }
    # deterministic: sha256 of utf-8 text payload
    import hashlib

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rows[:5]:
        assert r["sha256"] == hashlib.sha256(texts[r["asset_id"]].encode()).hexdigest()
        assert r["n_bytes"] == len(texts[r["asset_id"]].encode())

    frames = frame_sample(assets, stride=64)
    fcount = frames.groupBy("asset_id").agg(F.count("*").alias("n")).collect()
    assert len(fcount) == 50
    for r in fcount:
        nb = next(x["n_bytes"] for x in rows if x["asset_id"] == r["asset_id"])
        expected = max(1, (nb + 63) // 64) if nb > 0 else 1
        assert r["n"] == expected


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    import shutil

    events_dir = tmp_path / "events_dup"
    events_dir.mkdir()
    # the same file twice = every event duplicated across micro-batches
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-000.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-001.parquet")

    from sri_spark.streaming.jobs import run_dedupe_stream

    out = run_dedupe_stream(spark, str(events_dir), str(tmp_path / "ckpt_dedup"))
    ids = [r["event_id"] for r in out.select("event_id").collect()]
    n_distinct_src = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert len(ids) == len(set(ids)), "stream emitted duplicate event_ids"
    assert len(set(ids)) == n_distinct_src


def test_multimodal_resize_chains_into_decode(spark, sf_dir):
    from sri_spark.multimodal import resize

    docs = load_table(spark, sf_dir, "documents").limit(20)
    assets = attach_fake_payloads(docs)
    small = resize(assets, factor=4)
    rows = {r["asset_id"]: r for r in small.collect()}
    originals = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    assert len(rows) == 20
    for aid, orig in originals.items():
        r = rows[aid]
        assert bytes(r["content"]) == orig[::4]  # deterministic fake kernel
        assert r["n_bytes"] == len(orig[::4])
        assert r["scale"] == 0.25
    # binary-out contract: the resized table feeds decode_stats unchanged
    stats = decode_stats(small)
    assert stats.count() == 20
    assert set(stats.columns) == {
        "asset_id", "kind", "n_bytes", "sha256", "byte_mean", "byte_std",
        "decoded_width", "decoded_height", "pixel_mean", "pixel_std",
    }

    import pytest

    with pytest.raises(ValueError, match="factor"):
        resize(assets, factor=0)


def test_interval_join_stream_equals_batch(spark, sf_dir, tmp_path):
    from sri_spark.plans.events_queries import events_interval_join
    from sri_spark.streaming.jobs import run_interval_join_stream

    events_dir = tmp_path / "events_ivj"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-000.parquet")

    batch = events_interval_join(spark, sf_dir).collect()
    streamed = run_interval_join_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_ivj")
    ).collect()
    key = lambda r: (r["click_id"], r["view_id"], r["user_id"], r["lag_us"])
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(batch) > 0


def test_foreach_batch_merge_latest_per_user(spark, sf_dir, tmp_path):
    """Two micro-batches (second one entirely out-of-order: earlier
    timestamps) merge into the same per-user latest table the batch twin
    computes — the latest-wins update condition absorbs the disorder."""
    from sri_spark.streaming.jobs import (
        latest_event_per_user,
        run_foreach_batch_merge_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.select(F.percentile_approx("ts", 0.5)).first()[0]
    events_dir = tmp_path / "events_merge"
    events_dir.mkdir()
    # file 1 = LATE half, file 2 = EARLY half -> batch 2 must not clobber.
    # The file source does not recurse, so move each part file up flat.
    from sri_spark.sources.testdata import normalize_event_ts

    src = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    for name, pred in [
        ("0-late", F.col("ts") > cutoff),
        ("1-early", F.col("ts") <= cutoff),
    ]:
        out = tmp_path / f"half_{name}"
        src.filter(pred).coalesce(1).write.parquet(str(out))
        part = next(out.glob("part-*.parquet"))
        shutil.copy(part, events_dir / f"{name}.parquet")

    merged = run_foreach_batch_merge_stream(
        spark,
        str(events_dir),
        str(tmp_path / "target"),
        str(tmp_path / "ckpt_merge"),
    )
    batch = latest_event_per_user(ev)

    key = lambda r: (r["user_id"], r["event_id"], r["ts"], r["event_type"])
    got = sorted(map(key, merged.collect()))
    want = sorted(map(key, batch.collect()))
    assert got == want and len(got) > 0


def test_session_window_stream_equals_batch(spark, sf_dir, tmp_path):
    from sri_spark.streaming.jobs import (
        run_session_window_stream,
        session_window_counts,
    )

    events_dir = tmp_path / "events_sess"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-000.parquet")

    streamed = run_session_window_stream(
        spark, str(events_dir), str(tmp_path / "ckpt_sess")
    ).collect()
    batch = session_window_counts(
        load_table(spark, sf_dir, "events"), watermark=None
    ).collect()

    key = lambda r: (r["user_id"], r["session_start"], r["n_events"], r["total_value"])
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(streamed) > 0
