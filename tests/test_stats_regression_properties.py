"""Exact-math pins for the third statistics batch
(sri_spark/plans/stats_regression_queries.py): every statistic is checked
against an independent closed form (numpy) or a known identity (two-group
ANOVA F == pooled-t², perfect-association Cramér's V == 1) on synthetic
tables written through the real query functions — the same parquet-in,
DataFrame-out path the driver exercises.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import Row

from sri_spark.plans.stats_regression_queries import (
    _IRLS_ROUNDS,
    _MAX_GRID_DAYS,
    _PSI_BINS,
    _day_pair_stats,
    stats_anova_oneway,
    stats_autocorr_daily,
    stats_cramers_v,
    stats_cusum_drift,
    stats_logistic_irls,
    stats_mann_kendall_trend,
    stats_mutual_info,
    stats_ols_regression,
    stats_psi_drift,
    stats_theil_sen_trend,
)

def _rng(seed):
    """Per-test generator: data must not depend on test execution order
    (a shared module RNG made test_cusum_stable_series flake when earlier
    tests consumed draws)."""
    return np.random.default_rng(seed)


def _write(spark, out, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/{name}.parquet")


@pytest.fixture(scope="module")
def statdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("stats_regression_sf"))


# --- OLS --------------------------------------------------------------------


def test_ols_recovers_exact_line(spark, statdir):
    out = f"{statdir}/ols_exact"
    rows = [
        Row(l_returnflag="A", l_quantity=float(q), l_extendedprice=3.0 * q + 7.0)
        for q in range(1, 40)
    ]
    _write(spark, out, "lineitem",
           rows, "l_returnflag string, l_quantity double, l_extendedprice double")
    r = {x["flag"]: x for x in stats_ols_regression(spark, out).collect()}
    assert r["A"]["n_rows"] == 39
    assert r["A"]["slope"] == pytest.approx(3.0, abs=1e-6)
    assert r["A"]["intercept"] == pytest.approx(7.0, abs=1e-6)
    assert r["A"]["r2"] == pytest.approx(1.0, abs=1e-6)


def test_ols_matches_numpy_on_noisy_groups(spark, statdir):
    out = f"{statdir}/ols_noisy"
    rows, expect = [], {}
    for flag, (a, b) in [("A", (2.5, -4.0)), ("B", (-1.25, 30.0))]:
        x = _rng(74311).uniform(1, 50, size=200)
        y = a * x + b + _rng(74312).normal(0, 5.0, size=200)
        slope, intercept = np.polyfit(x, y, 1)
        r2 = np.corrcoef(x, y)[0, 1] ** 2
        expect[flag] = (slope, intercept, r2)
        rows += [
            Row(l_returnflag=flag, l_quantity=float(xi), l_extendedprice=float(yi))
            for xi, yi in zip(x, y)
        ]
    _write(spark, out, "lineitem",
           rows, "l_returnflag string, l_quantity double, l_extendedprice double")
    got = {x["flag"]: x for x in stats_ols_regression(spark, out).collect()}
    for flag, (slope, intercept, r2) in expect.items():
        assert got[flag]["slope"] == pytest.approx(slope, rel=1e-5, abs=1e-6)
        assert got[flag]["intercept"] == pytest.approx(intercept, rel=1e-5, abs=1e-6)
        assert got[flag]["r2"] == pytest.approx(r2, rel=1e-5, abs=1e-6)


# --- one-way ANOVA ----------------------------------------------------------


def _events_rows(groups):
    t0 = dt.datetime(2024, 1, 1)
    return [
        Row(ts=t0 + dt.timedelta(minutes=i), event_type=g, value=float(v))
        for i, (g, v) in enumerate(
            (g, v) for g, vals in groups.items() for v in vals
        )
    ]


def _anova_direct(groups):
    all_vals = np.concatenate([np.asarray(v, dtype=float) for v in groups.values()])
    grand = all_vals.mean()
    k, n = len(groups), len(all_vals)
    ssb = sum(len(v) * (np.mean(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        ((np.asarray(v, dtype=float) - np.mean(v)) ** 2).sum()
        for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return f, ssb / (ssb + ssw)


def test_anova_matches_direct_computation(spark, statdir):
    out = f"{statdir}/anova_direct"
    groups = {
        "view": list(_rng(74313).normal(10, 2, 80)),
        "click": list(_rng(74314).normal(12, 3, 60)),
        "purchase": list(_rng(74315).normal(9, 1, 40)),
    }
    _write(spark, out, "events", _events_rows(groups),
           "ts timestamp, event_type string, value double")
    f, eta = _anova_direct(groups)
    row = stats_anova_oneway(spark, out).collect()[0]
    assert row["k_groups"] == 3 and row["n_total"] == 180
    assert row["df_between"] == 2 and row["df_within"] == 177
    assert row["f_stat"] == pytest.approx(f, rel=1e-5, abs=1e-6)
    assert row["eta_squared"] == pytest.approx(eta, rel=1e-5, abs=1e-6)


def test_anova_two_groups_equals_pooled_t_squared(spark, statdir):
    out = f"{statdir}/anova_t2"
    a = list(_rng(74316).normal(5, 1, 50))
    b = list(_rng(74317).normal(6, 1, 70))
    _write(spark, out, "events", _events_rows({"a": a, "b": b}),
           "ts timestamp, event_type string, value double")
    na, nb = len(a), len(b)
    sp2 = ((na - 1) * np.var(a, ddof=1) + (nb - 1) * np.var(b, ddof=1)) / (
        na + nb - 2
    )
    t = (np.mean(a) - np.mean(b)) / math.sqrt(sp2 * (1 / na + 1 / nb))
    row = stats_anova_oneway(spark, out).collect()[0]
    assert row["f_stat"] == pytest.approx(t * t, rel=1e-5, abs=1e-6)


# --- Cramér's V -------------------------------------------------------------


def _orders_contingency(counts):
    """counts: dict[(status, priority)] -> n replicated rows."""
    day = dt.datetime(2024, 3, 1)
    rows = []
    for (s, p), n in counts.items():
        rows += [
            Row(o_orderstatus=s, o_orderpriority=p, o_orderdate=day,
                o_totalprice=100.0)
        ] * n
    return rows


def test_cramers_v_perfect_association_is_one(spark, statdir):
    out = f"{statdir}/cramer_perfect"
    counts = {("A", "1"): 30, ("B", "2"): 20, ("C", "3"): 10}
    _write(spark, out, "orders", _orders_contingency(counts),
           "o_orderstatus string, o_orderpriority string, "
           "o_orderdate timestamp, o_totalprice double")
    row = stats_cramers_v(spark, out).collect()[0]
    assert row["n_rows"] == 60 and row["dof"] == 4
    assert row["cramers_v"] == pytest.approx(1.0, abs=1e-6)


def test_cramers_v_exact_independence_is_zero(spark, statdir):
    out = f"{statdir}/cramer_indep"
    # product-structure counts: o_ij = r_i * c_j  =>  chi2 == 0 exactly
    r, c = [2, 3, 5], [4, 7]
    counts = {
        (f"S{i}", f"P{j}"): ri * cj
        for i, ri in enumerate(r)
        for j, cj in enumerate(c)
    }
    _write(spark, out, "orders", _orders_contingency(counts),
           "o_orderstatus string, o_orderpriority string, "
           "o_orderdate timestamp, o_totalprice double")
    row = stats_cramers_v(spark, out).collect()[0]
    assert row["chi2"] == pytest.approx(0.0, abs=1e-6)
    assert row["cramers_v"] == pytest.approx(0.0, abs=1e-6)


def test_cramers_v_matches_direct_chi2(spark, statdir):
    out = f"{statdir}/cramer_direct"
    statuses, prios = ["A", "B", "C"], ["1", "2", "3", "4"]
    tbl = _rng(74318).integers(1, 40, size=(3, 4))
    counts = {
        (s, p): int(tbl[i, j])
        for i, s in enumerate(statuses)
        for j, p in enumerate(prios)
    }
    _write(spark, out, "orders", _orders_contingency(counts),
           "o_orderstatus string, o_orderpriority string, "
           "o_orderdate timestamp, o_totalprice double")
    n = tbl.sum()
    e = np.outer(tbl.sum(axis=1), tbl.sum(axis=0)) / n
    chi2 = ((tbl - e) ** 2 / e).sum()
    v = math.sqrt(chi2 / (n * (min(tbl.shape) - 1)))
    row = stats_cramers_v(spark, out).collect()[0]
    assert row["chi2"] == pytest.approx(chi2, rel=1e-5, abs=1e-6)
    assert row["cramers_v"] == pytest.approx(v, rel=1e-5, abs=1e-6)


# --- daily autocorrelation ---------------------------------------------------


def _orders_daily(series, start=dt.datetime(2023, 1, 1)):
    """One order per day carrying that day's revenue."""
    return [
        Row(o_orderdate=start + dt.timedelta(days=i), o_totalprice=float(v),
            o_orderstatus="O", o_orderpriority="1")
        for i, v in enumerate(series)
    ]


def test_autocorr_matches_numpy(spark, statdir):
    out = f"{statdir}/acf"
    series = np.round(_rng(74319).uniform(100, 500, size=120), 2)
    _write(spark, out, "orders", _orders_daily(series),
           "o_orderdate timestamp, o_totalprice double, "
           "o_orderstatus string, o_orderpriority string")
    got = {r["lag"]: r for r in stats_autocorr_daily(spark, out).collect()}
    assert sorted(got) == list(range(1, 8))
    for k in range(1, 8):
        expect = np.corrcoef(series[k:], series[:-k])[0, 1]
        assert got[k]["n_pairs"] == 120 - k
        assert got[k]["autocorr"] == pytest.approx(expect, abs=1e-5)


def test_autocorr_period7_signal_peaks_at_lag7(spark, statdir):
    out = f"{statdir}/acf7"
    series = [100.0 + (50.0 if i % 7 == 0 else 0.0) for i in range(140)]
    _write(spark, out, "orders", _orders_daily(series),
           "o_orderdate timestamp, o_totalprice double, "
           "o_orderstatus string, o_orderpriority string")
    got = {r["lag"]: r["autocorr"] for r in stats_autocorr_daily(spark, out).collect()}
    assert got[7] == pytest.approx(1.0, abs=1e-6)
    assert all(got[k] < 0 for k in range(1, 7))


# --- CUSUM change-point ------------------------------------------------------


def _cusum_direct(series):
    x = np.asarray(series, dtype=float)
    s = np.cumsum(x - x.mean()) / (x.std(ddof=1) * math.sqrt(len(x)))
    i = int(np.lexsort((np.arange(len(s)), -np.abs(s)))[0])
    return abs(s[i]), i, s[i]


def test_cusum_matches_direct_and_finds_step(spark, statdir):
    out = f"{statdir}/cusum_step"
    series = np.round(
        np.concatenate(
            [_rng(74320).normal(100, 3, 60), _rng(74321).normal(160, 3, 60)]
        ),
        2,
    )
    start = dt.datetime(2023, 1, 1)
    _write(spark, out, "orders", _orders_daily(series, start),
           "o_orderdate timestamp, o_totalprice double, "
           "o_orderstatus string, o_orderpriority string")
    mx, idx, signed = _cusum_direct(series)
    row = stats_cusum_drift(spark, out).collect()[0]
    assert row["n_days"] == 120
    assert row["cusum_max"] == pytest.approx(mx, rel=1e-5, abs=1e-6)
    assert row["cusum_at_changepoint"] == pytest.approx(signed, rel=1e-5, abs=1e-6)
    assert row["changepoint_day"] == (
        (start + dt.timedelta(days=idx)).strftime("%Y-%m-%d")
    )
    # a clean level step's max excursion sits at (or next to) the boundary
    assert abs(idx - 59) <= 1


def test_psi_identical_cohorts_is_zero(spark, statdir):
    out = f"{statdir}/psi_same"
    # early days 0..49 and late days 50..99 carry the SAME value multiset
    # and the same count => pa == pb per bin, every psi_term exactly 0
    vals = list(np.round(_rng(74322).uniform(50, 950, size=50), 2))
    series = vals + vals
    _write(spark, out, "orders", _orders_daily(series),
           "o_orderdate timestamp, o_totalprice double, "
           "o_orderstatus string, o_orderpriority string")
    rows = stats_psi_drift(spark, out).collect()
    assert sum(r["n_early"] for r in rows) == 50
    assert sum(r["n_late"] for r in rows) == 50
    assert all(abs(r["psi_term"]) < 1e-9 for r in rows)


def test_psi_matches_direct_and_flags_shift(spark, statdir):
    out = f"{statdir}/psi_shift"
    early = _rng(74323).uniform(100, 500, size=300)
    late = _rng(74324).uniform(400, 900, size=300)
    series = np.round(np.concatenate([early, late]), 2)
    _write(spark, out, "orders", _orders_daily(series),
           "o_orderdate timestamp, o_totalprice double, "
           "o_orderstatus string, o_orderpriority string")
    lo, hi = series.min(), series.max()
    w = max((hi - lo) / _PSI_BINS, 1e-12)
    bins = np.minimum(((series - lo) / w).astype(int), _PSI_BINS - 1)
    na = np.bincount(bins[:300], minlength=_PSI_BINS)
    nb = np.bincount(bins[300:], minlength=_PSI_BINS)
    pa = (na + 0.5) / (na.sum() + 0.5 * _PSI_BINS)
    pb = (nb + 0.5) / (nb.sum() + 0.5 * _PSI_BINS)
    expect = {
        b: (pb[b] - pa[b]) * math.log(pb[b] / pa[b]) for b in range(_PSI_BINS)
    }
    rows = {r["bin"]: r for r in stats_psi_drift(spark, out).collect()}
    for b in range(_PSI_BINS):
        if b in rows:
            assert rows[b]["psi_term"] == pytest.approx(expect[b], abs=1e-5)
    total = sum(r["psi_term"] for r in rows.values())
    assert total > 0.25  # the conventional retrain alarm fires on this shift


def test_mutual_info_independent_table_is_zero(spark, statdir):
    out = f"{statdir}/mi_indep"
    r, c = [3, 5, 7], [2, 9]
    counts = {
        (f"S{i}", f"P{j}"): ri * cj
        for i, ri in enumerate(r)
        for j, cj in enumerate(c)
    }
    _write(spark, out, "orders", _orders_contingency(counts),
           "o_orderstatus string, o_orderpriority string, "
           "o_orderdate timestamp, o_totalprice double")
    row = stats_mutual_info(spark, out).collect()[0]
    assert row["mi_nats"] == pytest.approx(0.0, abs=1e-6)
    assert row["nmi"] == pytest.approx(0.0, abs=1e-6)


def test_mutual_info_perfect_association_nmi_is_one(spark, statdir):
    out = f"{statdir}/mi_perfect"
    counts = {("A", "1"): 40, ("B", "2"): 25, ("C", "3"): 15}
    _write(spark, out, "orders", _orders_contingency(counts),
           "o_orderstatus string, o_orderpriority string, "
           "o_orderdate timestamp, o_totalprice double")
    row = stats_mutual_info(spark, out).collect()[0]
    # diagonal table: S determines P and vice versa => I = H(S) = H(P)
    assert row["mi_nats"] == pytest.approx(row["h_status"], abs=1e-6)
    assert row["mi_nats"] == pytest.approx(row["h_priority"], abs=1e-6)
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)


def test_mutual_info_matches_direct(spark, statdir):
    out = f"{statdir}/mi_direct"
    tbl = _rng(74325).integers(1, 50, size=(3, 4))
    counts = {
        (f"S{i}", f"P{j}"): int(tbl[i, j])
        for i in range(3)
        for j in range(4)
    }
    _write(spark, out, "orders", _orders_contingency(counts),
           "o_orderstatus string, o_orderpriority string, "
           "o_orderdate timestamp, o_totalprice double")
    n = tbl.sum()
    pij = tbl / n
    pi, pj = pij.sum(axis=1), pij.sum(axis=0)
    mi = float((pij * np.log(pij / np.outer(pi, pj))).sum())
    hs = float(-(pi * np.log(pi)).sum())
    hp = float(-(pj * np.log(pj)).sum())
    row = stats_mutual_info(spark, out).collect()[0]
    assert row["mi_nats"] == pytest.approx(mi, abs=1e-6)
    assert row["h_status"] == pytest.approx(hs, abs=1e-6)
    assert row["h_priority"] == pytest.approx(hp, abs=1e-6)
    assert row["nmi"] == pytest.approx(mi / math.sqrt(hs * hp), abs=1e-6)


# --- logistic regression (fixed-iteration IRLS) ------------------------------


def _irls_numpy(y, x1, x2, rounds):
    """The query's exact algorithm in numpy: clamp eta to ±30, floor the
    IRLS weight at 1e-12, solve the normal equations each round."""
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta = np.zeros(3)
    for _ in range(rounds):
        eta = np.clip(X @ beta, -30.0, 30.0)
        mu = 1.0 / (1.0 + np.exp(-eta))
        w = np.maximum(mu * (1.0 - mu), 1e-12)
        z = eta + (y - mu) / w
        WX = X * w[:, None]
        beta = np.linalg.solve(X.T @ WX, WX.T @ z)
    return beta


def _write_logit_lineitem(spark, out, x1, x2, y):
    rows = [
        Row(
            l_returnflag="R" if yi else "N",
            l_quantity=float(a * 50.0),
            l_discount=float(b / 10.0),
        )
        for a, b, yi in zip(x1, x2, y)
    ]
    _write(spark, out, "lineitem",
           rows, "l_returnflag string, l_quantity double, l_discount double")


def test_irls_matches_numpy_twin_exactly(spark, statdir):
    out = f"{statdir}/irls_twin"
    x1 = _rng(74327).uniform(0, 1, size=400)
    x2 = _rng(74328).uniform(0, 1, size=400)
    p = 1.0 / (1.0 + np.exp(-(-1.0 + 2.0 * x1 - 1.5 * x2)))
    y = (_rng(74329).uniform(size=400) < p).astype(float)
    _write_logit_lineitem(spark, out, x1, x2, y)
    row = stats_logistic_irls(spark, out).collect()[0]
    beta = _irls_numpy(y, x1, x2, rounds=_IRLS_ROUNDS)
    assert row["n_rows"] == 400 and row["irls_rounds"] == _IRLS_ROUNDS
    assert row["beta_intercept"] == pytest.approx(beta[0], abs=2e-6)
    assert row["beta_quantity"] == pytest.approx(beta[1], abs=2e-6)
    assert row["beta_discount"] == pytest.approx(beta[2], abs=2e-6)
    # convergence evidence (r11 verdict item 6): the reported final-round
    # max |Δbeta| equals the numpy twin's round-2 -> round-3 movement
    prev = _irls_numpy(y, x1, x2, rounds=_IRLS_ROUNDS - 1)
    assert row["max_delta_beta"] == pytest.approx(
        float(np.max(np.abs(beta - prev))), abs=2e-6
    )
    # and the reported loss is the mean negative log-likelihood at beta
    eta = np.clip(np.column_stack([np.ones_like(x1), x1, x2]) @ beta, -30, 30)
    mu = np.clip(1.0 / (1.0 + np.exp(-eta)), 1e-12, 1 - 1e-12)
    ll = float(-np.mean(y * np.log(mu) + (1 - y) * np.log(1 - mu)))
    assert row["avg_log_loss"] == pytest.approx(ll, abs=2e-6)


def test_irls_three_rounds_near_converged(spark, statdir):
    """Newton/IRLS is quadratically convergent: on a well-conditioned
    2-feature problem, the fixed 3-round answer must sit close to the
    fully-converged optimum (25 numpy rounds) — documenting that the
    fixed unroll is a fit, not a warm-up."""
    out = f"{statdir}/irls_conv"
    x1 = _rng(74330).uniform(0, 1, size=600)
    x2 = _rng(74331).uniform(0, 1, size=600)
    p = 1.0 / (1.0 + np.exp(-(0.5 - 1.2 * x1 + 0.8 * x2)))
    y = (_rng(74332).uniform(size=600) < p).astype(float)
    _write_logit_lineitem(spark, out, x1, x2, y)
    row = stats_logistic_irls(spark, out).collect()[0]
    full = _irls_numpy(y, x1, x2, rounds=25)
    assert row["beta_intercept"] == pytest.approx(full[0], abs=5e-3)
    assert row["beta_quantity"] == pytest.approx(full[1], abs=5e-3)
    assert row["beta_discount"] == pytest.approx(full[2], abs=5e-3)


def test_irls_separable_data_stays_finite(spark, statdir):
    """Perfectly separable labels drive the unregularized MLE to ±inf;
    the fixed unroll plus the eta clamp and weight floor must return
    FINITE coefficients and a small loss, never NaN/inf or an ANSI
    error (degenerate-sweep contract)."""
    out = f"{statdir}/irls_sep"
    x1 = np.linspace(0.0, 1.0, 200)
    x2 = _rng(74333).uniform(0, 1, size=200)
    y = (x1 > 0.5).astype(float)
    _write_logit_lineitem(spark, out, x1, x2, y)
    row = stats_logistic_irls(spark, out).collect()[0]
    for c in ("beta_intercept", "beta_quantity", "beta_discount",
              "max_delta_beta", "avg_log_loss"):
        assert row[c] is not None and math.isfinite(row[c]), (c, row)
    assert row["beta_quantity"] > 0  # separating direction recovered
    assert row["avg_log_loss"] < 0.3


def test_irls_constant_feature_yields_null_not_garbage(spark, statdir):
    """A constant feature makes X'WX singular; float cancellation leaves
    det at ~1e-13 of the matrix scale, so an absolute epsilon would
    divide by residue and emit garbage coefficients. The RELATIVE det
    guard must yield NULL coefficients (and NULL loss) instead."""
    out = f"{statdir}/irls_const"
    n = 150
    x1 = np.full(n, 0.5)
    x2 = _rng(74334).uniform(0, 1, size=n)
    y = (_rng(74335).uniform(size=n) < 0.4).astype(float)
    _write_logit_lineitem(spark, out, x1, x2, y)
    row = stats_logistic_irls(spark, out).collect()[0]
    assert row["n_rows"] == n
    for c in ("beta_intercept", "beta_quantity", "beta_discount",
              "max_delta_beta", "avg_log_loss"):
        assert row[c] is None, (c, row)


def test_cusum_stable_series_stat_is_small(spark, statdir):
    out = f"{statdir}/cusum_flat"
    series = np.round(_rng(74326).normal(100, 5, 100), 2)
    _write(spark, out, "orders", _orders_daily(series),
           "o_orderdate timestamp, o_totalprice double, "
           "o_orderstatus string, o_orderpriority string")
    row = stats_cusum_drift(spark, out).collect()[0]
    # Kolmogorov 5% critical value ~1.36; i.i.d. noise should sit well under
    # (seeded input, deterministic assertion)
    assert row["cusum_max"] < 1.36


# --- Theil–Sen and Mann–Kendall (the shared day-pair kernel) ----------------

_EPOCH_DAY_2023 = (dt.date(2023, 1, 1) - dt.date(1970, 1, 1)).days


def _write_days(spark, out, offsets, revs):
    """One order per day: day 2023-01-01 + offsets[i] carries revs[i]
    (None: a NULL price, so a NULL-revenue day; an offset of None: a NULL
    order date)."""
    start = dt.datetime(2023, 1, 1)
    rows = [
        (None if d is None else start + dt.timedelta(days=int(d)),
         None if r is None else float(r))
        for d, r in zip(offsets, revs)
    ]
    _write(spark, out, "orders", rows, "o_orderdate timestamp, o_totalprice double")


def _quantile_cont_median(v):
    v = sorted(v)
    if not v:
        return None
    h = (len(v) - 1) * 0.5
    lo, hi = v[math.floor(h)], v[math.ceil(h)]
    return lo + (h - math.floor(h)) * (hi - lo)


def _pairs_direct(offsets, revs):
    """The O(n²) loop over day pairs i < j (both revenues present): the
    median slope and median residual as quantile_cont takes them, and S."""
    x = [_EPOCH_DAY_2023 + d for d in offsets]
    slopes, s = [], 0
    for i in range(len(x)):
        for j in range(i + 1, len(x)):
            if revs[i] is None or revs[j] is None:
                continue
            slopes.append((revs[j] - revs[i]) / (x[j] - x[i]))
            s += int(np.sign(revs[j] - revs[i]))
    m_slope = _quantile_cont_median(slopes)
    resid = [r - m_slope * xi for xi, r in zip(x, revs) if r is not None]
    return m_slope, _quantile_cont_median(resid), s


def _tie_term(revs):
    _, t = np.unique([("" if r is None else repr(r)) for r in revs],
                     return_counts=True)
    return int(sum(c * (c - 1) * (2 * c + 5) for c in t.tolist() if c > 1))


def test_theil_sen_recovers_planted_line(spark, statdir):
    out = f"{statdir}/ts_line"
    offsets = np.cumsum(_rng(74327).integers(1, 9, size=60)).tolist()
    revs = [100.0 + 3.5 * d for d in offsets]
    _write_days(spark, out, offsets, revs)
    ts = stats_theil_sen_trend(spark, out).collect()[0]
    assert (ts["n_days"], ts["n_pairs"]) == (60, 60 * 59 // 2)
    assert ts["ts_slope"] == 3.5
    assert ts["ts_intercept"] == 100.0 - 3.5 * _EPOCH_DAY_2023
    mk = stats_mann_kendall_trend(spark, out).collect()[0]
    assert mk["s_stat"] == 60 * 59 // 2 and mk["kendall_tau"] == 1.0


def test_day_pairs_match_quadratic_loop(spark, statdir):
    """Noisy revenue on irregular days, with tie runs: the kernel's
    unrounded medians, S and tie term equal the O(n²) loop's exactly, and
    the queries' rounded outputs follow from them."""
    out = f"{statdir}/ts_noisy"
    rng = _rng(74328)
    offsets = np.cumsum(rng.integers(1, 5, size=150)).tolist()
    revs = np.round(rng.normal(1000, 80, size=150) + 2.0 * np.array(offsets), 2)
    revs[::10] = 1234.5  # a 15-day tie group
    revs = revs.tolist()
    _write_days(spark, out, offsets, revs)
    m_slope, m_icpt, s = _pairs_direct(offsets, revs)
    got = _day_pair_stats(spark, out).collect()[0]
    assert (got["n_days"], got["n_pairs"]) == (150, 150 * 149 // 2)
    assert (got["m_slope"], got["m_icpt"]) == (m_slope, m_icpt)
    assert got["s_stat"] == s
    assert got["tie_corr"] == _tie_term(revs) == 15 * 14 * 35

    n = 150.0
    var_s = (n * (n - 1) * (2 * n + 5) - _tie_term(revs)) / 18.0
    mk = stats_mann_kendall_trend(spark, out).collect()[0]
    assert mk["kendall_tau"] == pytest.approx(s / (n * (n - 1) / 2), abs=1e-6)
    assert mk["z_score"] == pytest.approx((s - np.sign(s)) / math.sqrt(var_s), abs=1e-6)
    ts = stats_theil_sen_trend(spark, out).collect()[0]
    assert ts["ts_slope"] == pytest.approx(m_slope, abs=1e-6)
    assert ts["ts_intercept"] == pytest.approx(m_icpt, abs=1e-4)


def test_null_revenue_days_count_but_drop_out(spark, statdir):
    """NULL-revenue days count in n_days and n_pairs (their pairs exist,
    with NULL slopes), yield no slope, residual or sign, and together form
    ONE tie group, as GROUP BY rev makes them. A NULL-date day counts in
    n_days only: it pairs with no day."""
    out = f"{statdir}/ts_nulls"
    offsets = list(range(0, 40, 2)) + [None]
    revs = [500.0 + 7.25 * d for d in range(0, 40, 2)] + [42.0]
    for i in (3, 8, 15):
        revs[i] = None
    _write_days(spark, out, offsets, revs)
    m_slope, m_icpt, s = _pairs_direct(offsets[:-1], revs[:-1])
    got = _day_pair_stats(spark, out).collect()[0]
    assert (got["n_days"], got["n_pairs"]) == (21, 20 * 19 // 2)
    assert (got["m_slope"], got["m_icpt"]) == (m_slope, m_icpt) == (
        7.25, 500.0 - 7.25 * _EPOCH_DAY_2023
    )
    assert got["s_stat"] == s == 17 * 16 // 2
    assert got["tie_corr"] == 3 * 2 * 11


@pytest.mark.parametrize("days", [0, 1], ids=["empty", "one-day"])
def test_day_pairs_degenerate_grids(spark, statdir, days):
    out = f"{statdir}/ts_deg{days}"
    _write_days(spark, out, list(range(days)), [10.0] * days)
    ts = stats_theil_sen_trend(spark, out).collect()
    mk = stats_mann_kendall_trend(spark, out).collect()
    assert [tuple(r) for r in ts] == [(days, 0, None, None)]
    assert [tuple(r) for r in mk] == [(days, 0, 0, None, None)]


def test_day_grid_over_the_bound_fails_loudly(spark, statdir):
    out = f"{statdir}/ts_wide"
    n = _MAX_GRID_DAYS + 1
    _write_days(spark, out, list(range(-n // 2, n - n // 2)), [1.0] * n)
    with pytest.raises(Exception, match=f"{n} days, over the {_MAX_GRID_DAYS}-day"):
        stats_theil_sen_trend(spark, out).collect()
