"""Chunk geometry invariants of the `text_chunk_windows` catalog query."""

from __future__ import annotations

from sri_spark.plans.text_queries import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    text_chunk_windows,
)


def test_chunk_geometry(spark, sf_dir):
    rows = text_chunk_windows(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r["chunk_idx"])
        # contiguous indices from 0
        assert [r["chunk_idx"] for r in doc_rows] == list(range(len(doc_rows)))
        # chunk k covers tokens [k*STRIDE, k*STRIDE + SIZE) clipped to the
        # doc: n_tokens = min(SIZE, n_doc - k*STRIDE) for every chunk
        n_doc = (len(doc_rows) - 1) * CHUNK_STRIDE + doc_rows[-1]["n_tokens"]
        for r in doc_rows:
            want = min(CHUNK_SIZE, n_doc - r["chunk_idx"] * CHUNK_STRIDE)
            assert r["n_tokens"] == want, (r["chunk_idx"], n_doc)
        # consecutive chunks overlap by SIZE - STRIDE tokens
        if len(doc_rows) > 1:
            a = doc_rows[0]["chunk"].split()
            b = doc_rows[1]["chunk"].split()
            assert a[CHUNK_STRIDE:] == b[: CHUNK_SIZE - CHUNK_STRIDE]
