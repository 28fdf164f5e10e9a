"""operators/median.py vs numpy — the distributed exact median must
reproduce quantile_cont(0.5) (linear interpolation = average of the two
central order statistics) on every shape that has bitten a median
implementation somewhere: even/odd counts, heavy ties, constant columns,
single values, NULLs, and empty input."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sri_spark.operators.median import exact_quantile_by_group


def _med(spark, values):
    """The median of `values` as one constant-key group; None when no
    non-NULL value leaves the group without a row."""
    df = spark.createDataFrame([(float(v),) if v is not None else (None,)
                                for v in values] or [(None,)], "v double")
    if not values:
        df = df.limit(0)
    df = df.withColumn("k", F.lit(0))
    row = exact_quantile_by_group(df, ["k"], "v", "med", p=0.5).first()
    return None if row is None else row["med"]


def test_median_matches_numpy_on_random_data(spark):
    rng = np.random.default_rng(20250816)
    for n in (1, 2, 7, 100, 101, 1000):
        vals = rng.normal(scale=100, size=n).round(3).tolist()
        assert _med(spark, vals) == pytest.approx(float(np.median(vals)), abs=1e-12)


def test_median_even_count_interpolates_central_pair(spark):
    assert _med(spark, [1.0, 2.0, 10.0, 100.0]) == 6.0


def test_median_heavy_ties(spark):
    # 999 copies of 5.0 plus one 0.0 and one 10.0: ties dominate one bucket
    vals = [5.0] * 999 + [0.0, 10.0]
    assert _med(spark, vals) == 5.0
    # even count with the central pair split across a tie run
    vals = [1.0, 2.0, 2.0, 3.0]
    assert _med(spark, vals) == 2.0


def test_median_constant_column_short_circuits(spark):
    assert _med(spark, [7.5] * 500) == 7.5
    assert _med(spark, [7.5]) == 7.5


def test_median_ignores_nulls_and_handles_empty(spark):
    assert _med(spark, [None, 1.0, None, 3.0]) == 2.0
    assert _med(spark, [None, None]) is None
    assert _med(spark, []) is None


def test_median_values_straddling_zero(spark):
    # negative, zero and positive values land in sign-mirrored histogram
    # buckets; the bracket's rank bookkeeping must cross the sign boundary
    rng = np.random.default_rng(7)
    vals = rng.uniform(-5, 5, size=200).round(4).tolist()
    assert _med(spark, vals) == pytest.approx(float(np.median(vals)), abs=1e-12)
    vals = [-3.0, -1.0, 0.0, 0.0, 2.0, 4.0]
    assert _med(spark, vals) == 0.0
    assert _med(spark, [-2.0, 6.0]) == 2.0


# ---------------------------------------------------------------------------
# grouped form (round-12 verdict item 8): exact_quantile_by_group
# ---------------------------------------------------------------------------

def _gq(spark, rows, p):
    df = spark.createDataFrame(rows, "k string, v double")
    res = exact_quantile_by_group(df, ["k"], "v", "q", p=p)
    return {r["k"]: r["q"] for r in res.collect()}


def test_grouped_quantile_skewed_group_sizes(spark):
    """The verdict-mandated shape: group sizes spanning 4 orders of
    magnitude (1 / 20 / 1,000 / 60,000 rows) plus an outlier-stretched
    group — per-group results must match numpy's linear interpolation
    exactly regardless of how unevenly the groups fill partitions."""
    rng = np.random.default_rng(13)
    groups = {
        "one": [3.25],
        "tiny": rng.normal(size=20).tolist(),
        "mid": rng.normal(scale=50, size=1_000).tolist(),
        "big": rng.standard_cauchy(size=60_000).tolist(),
        "outlier": [1e15] + rng.normal(size=5_000).tolist(),
    }
    rows = [(k, float(v)) for k, vs in groups.items() for v in vs]
    for p in (0.5, 0.9, 0.25):
        got = _gq(spark, rows, p)
        for k, vs in groups.items():
            want = float(np.quantile(np.array(vs), p))
            assert got[k] == pytest.approx(want, rel=1e-12, abs=1e-9), (p, k)


@pytest.mark.parametrize("weighted", [False, True], ids=["cont", "weighted"])
def test_grouped_quantile_ties_and_null_keys(spark, weighted):
    """Tie runs collapse to single cells (no raw-row sort), and a NULL
    group key must survive the internal joins with SQL GROUP BY
    semantics (struct equality is null-safe) — through both finales,
    which share the bracket and the band (unit weights make the
    inverted-CDF answer coincide with quantile_cont's here)."""
    rows = (
        [("t", 5.0)] * 999
        + [("t", 0.0), ("t", 10.0)]
        + [(None, float(v)) for v in range(11)]
    )
    if weighted:
        got = _wq(spark, [(k, v, 1.0) for k, v in rows], 0.5)
    else:
        got = _gq(spark, rows, 0.5)
    assert got["t"] == 5.0
    assert got[None] == 5.0


def test_grouped_quantile_extremes_and_empty(spark):
    rows = [("a", float(v)) for v in range(101)]
    assert _gq(spark, rows, 0.0)["a"] == 0.0
    assert _gq(spark, rows, 1.0)["a"] == 100.0
    df = spark.createDataFrame([], "k string, v double")
    assert exact_quantile_by_group(df, ["k"], "v", "q").count() == 0


def test_grouped_quantile_rejects_bad_p(spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="quantile p"):
        exact_quantile_by_group(df, ["k"], "v", "q", p=1.5)
    with pytest.raises(ValueError, match="quantile keys"):
        exact_quantile_by_group(df, [], "v", "q")


# ---------------------------------------------------------------------------
# weighted form: weighted_quantile_by_group (inverted-CDF convention)
# ---------------------------------------------------------------------------

def _wq(spark, rows, p):
    from sri_spark.operators.median import weighted_quantile_by_group

    df = spark.createDataFrame(rows, "k string, v double, w double")
    res = weighted_quantile_by_group(df, ["k"], "v", "w", "q", p=p)
    return {r["k"]: r["q"] for r in res.collect()}


def _np_weighted(vs, ws, p):
    order = np.argsort(vs)
    v, w = np.asarray(vs)[order], np.asarray(ws)[order]
    cum = np.cumsum(w)
    target = p * cum[-1]
    return float(v[np.searchsorted(cum, target, side="left")])


def test_weighted_median_matches_inverted_cdf(spark):
    rng = np.random.default_rng(99)
    groups = {
        "sm": (rng.normal(size=20) * 5, rng.uniform(0.5, 2, 20).round(3)),
        "big": (
            rng.standard_cauchy(30_000) * 1e4,
            rng.integers(1, 9, 30_000).astype(float),
        ),
        "out": (
            np.concatenate([[1e13], rng.normal(size=2_000)]),
            np.ones(2_001),
        ),
        # p·W falls exactly on a cell's (and a bucket's) end: the answer
        # is that cell's value, not the next one
        "pair": (np.array([1.0, 1000.0]), np.ones(2)),
        "quad": (np.array([1.0, 2.0, 3.0, 4.0]), np.ones(4)),
    }
    rows = [
        (k, float(v), float(w))
        for k, (vs, ws) in groups.items()
        for v, w in zip(vs, ws)
    ]
    for p in (0.5, 0.9, 0.25):
        got = _wq(spark, rows, p)
        for k, (vs, ws) in groups.items():
            assert got[k] == _np_weighted(vs, ws, p), (p, k)
        if p == 0.5:
            assert (got["pair"], got["quad"]) == (1.0, 2.0)


def test_weighted_median_tie_run_resolves_without_sort(spark):
    """A dominant tie run collapses to one (value, weight) band cell —
    and its value must win whenever the target weight lands inside the
    run."""
    rows = (
        [("t", 7.0, 5.0)] * 10_000
        + [("t", 0.0, 1.0), ("t", 99.0, 1.0)]
    )
    assert _wq(spark, rows, 0.5)["t"] == 7.0


def test_weighted_median_ignores_nonpositive_weights(spark):
    rows = [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 100.0, 0.0),
            ("a", -50.0, -3.0), ("a", 3.0, 1.0)]
    # effective values {1,2,3} weight 1 each: target 1.5 -> v=2
    assert _wq(spark, rows, 0.5)["a"] == 2.0


def test_weighted_quantile_extremes(spark):
    rows = [("a", float(v), 2.0) for v in range(10)]
    assert _wq(spark, rows, 0.0)["a"] == 0.0
    assert _wq(spark, rows, 1.0)["a"] == 9.0


@pytest.mark.parametrize(
    "bad",
    [float("inf"), float("-inf"), float("nan")],
    ids=["inf", "-inf", "nan"],
)
def test_weighted_quantile_wide_group_with_non_finite_value(spark, bad):
    """A group of 150k distinct values plus one non-finite row. Non-finite
    values take sentinel buckets beyond every finite one, so the bracket
    still isolates the target bucket, where a value-range split of
    [min, max] has an infinite or NaN width and cannot narrow. NaN ranks
    largest, as Spark orders it (numpy's argsort agrees)."""
    from pyspark.sql import functions as F

    from sri_spark.operators.median import weighted_quantile_by_group

    n = 150_000
    df = spark.range(n).select(
        F.lit("a").alias("k"),
        (F.col("id") * 1.0001).alias("v"),
        F.lit(1.0).alias("w"),
    ).unionByName(
        spark.createDataFrame([("a", bad, 1.0)], "k string, v double, w double")
    )
    vs = np.append(np.arange(n) * 1.0001, bad)
    for p in (0.0, 0.5, 1.0):
        res = weighted_quantile_by_group(df, ["k"], "v", "w", "q", p=p)
        got = res.first()["q"]
        want = _np_weighted(vs, np.ones(n + 1), p)
        assert got == want or (np.isnan(got) and np.isnan(want)), p
