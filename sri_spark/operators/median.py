"""Distributed EXACT quantiles without a global sort, a per-group sort of
raw rows, or a value-map aggregate.

Spark's exact `percentile` aggregate buffers a value→count hash map PER
MAP TASK (2.4M mostly-distinct doubles OOM'd a plain 1 GiB session), and
a row_number over a global window funnels every row through ONE sort
task; both concentrate the full value set in one place. The selection
here is pure codegen relational algebra instead, one engine for both
public quantiles: a data-independent histogram brackets the target rank
(`_bracket`), only the rows inside the bracket are tie-collapsed and
ranked (`_band`), and a finale reads the answer off the band's
cumulative mass —

- `exact_quantile_by_group`: mass is the row count, and the finale
  interpolates the two order statistics DuckDB quantile_cont blends;
- `weighted_quantile_by_group`: mass is the decimal weight sum, and the
  finale takes the inverted CDF (the smallest value whose cumulative
  weight reaches p·W).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_quantile_by_group(
    df: DataFrame,
    keys: list[str],
    col: str,
    out: str,
    *,
    p: float = 0.5,
) -> DataFrame:
    """Per-group EXACT continuous quantile — DuckDB `quantile_cont(col, p)
    GROUP BY keys` semantics — in two codegen passes over the input, with
    no per-group sort of raw rows, no value-map aggregate and no
    imperative sketch aggregate anywhere in the plan.

    1. bracket (`_bracket`, mass = row count) — the ≤2-bucket span
       covering both target ranks ⌊(n−1)p⌋+1 and ⌈(n−1)p⌉+1, its
       OBSERVED value bounds [a, b], n itself, and the rank count below
       the span.
    2. band (`_band`) — rows in [a, b] tie-collapse to (value, count)
       cells; one cumulative window over the cells, offset by the count
       below the span, locates the two order statistics, and the result
       interpolates lo + frac·(hi − lo) with frac = (n−1)p − ⌊(n−1)p⌋ —
       DuckDB quantile_cont's exact formula. Mass concentration inside
       the bracket costs band CELLS (ties collapse), never correctness.

    A malfunctioning bracket cannot produce a silently wrong answer: the
    final projection runs through `assert_true(both stats found)`, so a
    coverage miss fails the job loudly. The input is not persisted:
    both passes regenerate their (group, value) projection.

    Group keys ride inside a packed struct so NULL key values keep SQL
    GROUP BY semantics through the internal joins (struct equality is
    null-safe per field); `keys` must name at least one column
    (ValueError otherwise). Result: `keys + [out]`, one row per group with
    >= 1 non-NULL value; no qualifying groups → empty frame. The frame is
    a plain lazy plan with no cache: every caller reads it once, so it
    fuses into the caller's action, and AQE coalesces its shuffles like
    any other stage's. Twin calls over the same input (two quantiles of
    one column) share their histogram exchange through ReuseExchange.

    At 100 TB: both passes are map-side-combined codegen aggregates whose
    shuffles carry ≤ (groups × populated buckets) histogram cells or the
    band's tie-collapsed cells; the only per-group serial work is the
    histogram windows and the final band-cell window.
    """
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile p must be in [0,1], got {p}")
    vals = _grouped_values(df, keys, col, None)

    # continuous-quantile anchor: h = (n-1)*p (0-based); target 1-based
    # ranks floor(h)+1 and ceil(h)+1, blended by frac = h - floor(h)
    h = (F.col("__total") - F.lit(1)).cast("double") * F.lit(float(p))
    lo_rank = (F.floor(h) + F.lit(1)).cast("long")
    hi_rank = (F.ceil(h) + F.lit(1)).cast("long")

    # a bucket covers 1-based ranks (__start, __start + __m]; the span is
    # the (≤2-bucket) run covering [lo_rank, hi_rank]
    hist = _bracket(vals, F.count("*"))
    span = hist.filter(
        (F.col("__start") < hi_rank)
        & ((F.col("__start") + F.col("__m")) >= lo_rank)
    )
    cells = _band(vals, span, F.count("*"))

    # a cell covers 1-based ranks (__cum - __m, __cum]
    def value_at(rank: Column) -> Column:
        covers = (F.col("__cum") - F.col("__m") < rank) & (
            rank <= F.col("__cum")
        )
        return F.max(F.when(covers, F.col("__v")))

    stats = cells.groupBy("__g").agg(
        value_at(lo_rank).alias("__vlo"),
        value_at(hi_rank).alias("__vhi"),
        F.first("__total").alias("__total"),
    )
    guarded = stats.select(
        "__g",
        F.when(
            F.assert_true(
                F.col("__vlo").isNotNull() & F.col("__vhi").isNotNull(),
                F.lit(
                    "exact_quantile_by_group: histogram bracket missed "
                    "the target rank — bracket invariant broken"
                ),
            ).isNull(),
            F.col("__vlo")
            + (h - F.floor(h)) * (F.col("__vhi") - F.col("__vlo")),
        ).alias(out),
    )
    return _unpack_keys(guarded, keys, out)


def weighted_quantile_by_group(
    df: DataFrame,
    keys: list[str],
    col: str,
    weight_col: str,
    out: str,
    *,
    p: float = 0.5,
) -> DataFrame:
    """Per-group EXACT WEIGHTED quantile: the smallest value v whose
    cumulative weight reaches p x (group's total weight) — the
    inverted-CDF convention (numpy's `method='inverted_cdf'` with
    weights; the weighted median at p=0.5). Rows with NULL value, NULL
    weight, or weight <= 0 are ignored.

    The same two passes as `exact_quantile_by_group`, with the row count
    swapped for the weight sum: the bracket (`_bracket`) locates the one
    bucket whose cumulative weight first reaches t = p·W, and the band
    (`_band`) tie-collapses its rows to (value, weight) cells, so a
    billion-row tie run is one cell. The finale takes the smallest value
    whose cumulative weight (offset by the weight below the bucket)
    reaches t, behind the same loud `assert_true` guard. Both passes
    re-scan the (group, value, weight) projection; at the catalog's sizes
    that costs less than building a cache of it. No driver round trip,
    no data-dependent round count, and no cache: the result is a plain
    lazy plan like the unweighted one.

    Cross-engine determinism: weights are summed as decimal(38,6) —
    EXACT, order-independent — so the boundary comparison
    cum_weight >= p*W cannot flip on float summation order between this
    plan and a DuckDB window oracle. Use p values exactly representable
    in decimal(12,10) (0.5, 0.25, 0.9, ...), which covers any p a query
    would write literally.

    At 100 TB: both passes are map-side-combined aggregates; shuffles
    carry ≤ (groups × populated buckets) histogram cells or one bucket's
    tie-collapsed (value, weight) cells per group.
    """
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile p must be in [0,1], got {p}")
    vals = _grouped_values(df, keys, col, weight_col)

    t = F.col("__total") * F.lit(p).cast("decimal(12,10)")
    # weights are > 0, so exactly one bucket has start < t <= start + mass
    # — except at t = 0 (p = 0), where the first bucket (start = 0) holds
    # the answer
    hist = _bracket(vals, F.sum("__w"))
    span = hist.filter(
        ((F.col("__start") < t) | (F.col("__start") == 0))
        & ((F.col("__start") + F.col("__m")) >= t)
    )
    cells = _band(vals, span, F.sum("__w"))
    picked = cells.groupBy("__g").agg(
        F.min(F.when(F.col("__cum") >= t, F.col("__v"))).alias("__q")
    )
    guarded = picked.select(
        "__g",
        F.when(
            F.assert_true(
                F.col("__q").isNotNull(),
                F.lit(
                    "weighted_quantile_by_group: histogram bracket missed "
                    "the target weight — bracket invariant broken"
                ),
            ).isNull(),
            F.col("__q"),
        ).alias(out),
    )
    return _unpack_keys(guarded, keys, out)


def _grouped_values(
    df: DataFrame,
    keys: list[str],
    col: str,
    weight_col: str | None,
) -> DataFrame:
    """(__g, __v[, __w]) rows that take part in the selection: non-NULL
    values and, when weighted, non-NULL positive weights as decimal(38,6)
    (exact, order-independent sums)."""
    if not keys:
        raise ValueError("quantile keys must name at least one group column")
    keep = F.col(col).isNotNull()
    cols = [
        F.struct(*[F.col(k) for k in keys]).alias("__g"),
        F.col(col).cast("double").alias("__v"),
    ]
    if weight_col is not None:
        keep = keep & F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        cols.append(F.col(weight_col).cast("decimal(38,6)").alias("__w"))
    return df.filter(keep).select(*cols)


def _bracket(vals: DataFrame, mass: Column) -> DataFrame:
    """ONE histogram pass: per (group, bucket) its `mass` (__m), OBSERVED
    [min, max] (__mn, __mx), the group's total mass (__total) and the mass of
    all earlier buckets (__start) — so a bucket covers the cumulative
    mass (__start, __start + __m].

    Sign/exponent/mantissa buckets:
      b = sign · ((2048 + floor(log2|v|)) · 256 + floor((m − 1) · 256)),
    m = |v| / 2^floor(log2|v|) ∈ [1, 2) — a data-independent,
    deterministic, MONOTONE partition of the double line into ≤ ~1.57M
    possible buckets (6k binades × 256 mantissa slices per sign), of
    which only populated ones materialize. Logarithmic-relative buckets
    need no prior [min, max] pass and cannot be stretched by outliers:
    every bucket is 2^-8-RELATIVE wide, so the bracket narrows to values
    agreeing with the target through 8 significand bits. FP rounding at
    binade edges can push a bucket index ±1 — harmless: the mapping
    stays non-decreasing, which is the only property the mass arithmetic
    uses, and the bracket's bounds are OBSERVED data values. ±inf and NaN
    take sentinel buckets beyond every finite one (NaN above +inf: Spark
    orders NaN largest).
    """
    v = F.col("__v")
    sentinel = 10_000_000
    exp = F.floor(F.log2(F.abs(v)))
    mant = F.abs(v) / F.pow(F.lit(2.0), exp)  # division: subnormal-safe
    mag = (F.lit(2048.0) + exp) * F.lit(256.0) + F.floor(
        (mant - F.lit(1.0)) * F.lit(256.0)
    )
    bucket = (
        F.when(F.isnan(v), F.lit(sentinel + 1))
        .when(v == F.lit(float("inf")), F.lit(sentinel))
        .when(v == F.lit(float("-inf")), F.lit(-sentinel))
        .when(v == F.lit(0.0), F.lit(0))
        .otherwise((F.signum(v) * mag).cast("long"))
    )
    before = (
        Window.partitionBy("__g")
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        vals.groupBy("__g", bucket.alias("__bk"))
        .agg(
            mass.alias("__m"),
            F.min("__v").alias("__mn"),
            F.max("__v").alias("__mx"),
        )
        .withColumn("__total", F.sum("__m").over(Window.partitionBy("__g")))
        .withColumn("__start", F.coalesce(F.sum("__m").over(before), F.lit(0)))
    )


def _band(vals: DataFrame, span: DataFrame, mass: Column) -> DataFrame:
    """ONE band pass: the rows whose value lies in the span's observed
    [a, b], tie-collapsed to (value, mass) cells, each with __cum — the
    cumulative mass through the cell, counted from the group's smallest
    value — plus the group's total mass __total.

    The bucket map is non-decreasing, so every row below a sits in a
    bucket before the span: the mass below the band is the span's first
    __start, known from the bracket without counting those rows again.
    Rows above b are dropped by the same filter."""
    bounds = (
        F.first("__total").alias("__total"),
        F.min("__mn").alias("__a"),
        F.max("__mx").alias("__b"),
        F.min("__start").alias("__below"),
    )
    tagged = vals.join(span.groupBy("__g").agg(*bounds), "__g")
    through = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.filter(
            (F.col("__v") >= F.col("__a")) & (F.col("__v") <= F.col("__b"))
        )
        .groupBy("__g", "__total", "__below", "__v")
        .agg(mass.alias("__m"))
        .withColumn("__cum", F.col("__below") + F.sum("__m").over(through))
    )


def _unpack_keys(guarded: DataFrame, keys: list[str], out: str) -> DataFrame:
    """`keys + [out]`: the group keys unpacked from the `__g` struct."""
    return guarded.select(*[F.col(f"__g.{k}").alias(k) for k in keys], out)
