"""Distributed EXACT quantiles (DuckDB quantile_cont semantics) without
a global sort, a per-group sort of raw rows, or a value-map aggregate.

Spark's exact `percentile` aggregate buffers a value→count hash map PER
MAP TASK (2.4M mostly-distinct doubles OOM'd a plain 1 GiB session), and
a row_number over a global window funnels every row through ONE sort
task; both concentrate the full value set in one place. The selection
here is pure codegen relational algebra instead: a data-independent
histogram brackets the target ranks, and only the rows inside the
bracket are tie-collapsed and ranked. See `exact_quantile_by_group`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_median_1row(
    df: DataFrame, col: str, out: str, *, persist_input: bool = True
) -> DataFrame:
    """1-row frame (<out>,) holding the exact median of `df[col]`.

    NULLs are ignored (SQL aggregate semantics); an empty/all-NULL input
    yields a 1-row frame with a NULL median. The result column is the
    only output column, so callers can crossJoin it as a scalar (the
    repo's provable-1-row broadcast pattern).

    This is the one-group case of `exact_quantile_by_group` at p = 0.5;
    its interpolation lo + 0.5·(hi − lo) matches DuckDB's
    quantile_cont(0.5). The selection is LAZY (a scoped-persist leaf — it
    runs inside the first consuming action and is shared by every later
    one).
    """
    med = exact_quantile_by_group(
        df, [], col, out, p=0.5, persist_input=persist_input
    )
    # the grouped selection yields no row for empty/all-NULL input; a
    # keys=[] aggregate restores the scalar contract (always exactly one
    # row, NULL when undefined) and makes the result PROVABLY one row, so
    # callers may crossJoin it without the plan advisor's
    # cartesian-product gate firing
    return med.agg(F.first(F.col(out).cast("double")).alias(out))


def exact_quantile_by_group(
    df: DataFrame,
    keys: list[str],
    col: str,
    out: str,
    *,
    p: float = 0.5,
    persist_input: bool = False,
) -> DataFrame:
    """Per-group EXACT continuous quantile — DuckDB `quantile_cont(col, p)
    GROUP BY keys` semantics — in two codegen passes over the input, with
    no per-group sort of raw rows, no value-map aggregate and no
    imperative sketch aggregate anywhere in the plan.

    1. bracket — sign/exponent/mantissa buckets (see the bucket expression
       below): a data-independent, deterministic, MONOTONE partition of
       the double line. Logarithmic-relative buckets need no prior
       [min, max] pass and cannot be stretched by outliers — a heavy tail
       lands in its own magnitude buckets. One groupBy(group, bucket)
       .agg(count, min, max) plus a per-group cumulative window locate the
       bucket span covering both target ranks ⌊(n−1)p⌋+1 and ⌈(n−1)p⌉+1,
       its OBSERVED value bounds [a, b], and n itself.
    2. band selection — rows in [a, b] tie-collapse to (value, count)
       cells, below-band rows to one counter cell per group, above-band
       rows are dropped; a cumulative window over the cells locates the
       two order statistics, and the result interpolates
       lo + frac·(hi − lo) with frac = (n−1)p − ⌊(n−1)p⌋ — DuckDB
       quantile_cont's exact formula. Mass concentration inside the
       bracket costs band CELLS (ties collapse), never correctness.

    A malfunctioning bracket cannot produce a silently wrong answer: the
    final projection runs through `assert_true(both stats found)`, so a
    coverage miss fails the job loudly. `persist_input` persists the
    (group, value)-projected input once for the two passes — leave it
    False when regenerating the input is cheaper than caching it
    (Theil–Sen's slope set: two cheap regenerations beat one 2.9M-row
    cache write).

    Group keys ride inside a packed struct so NULL key values keep SQL
    GROUP BY semantics through the internal joins (struct equality is
    null-safe per field). `keys=[]` treats the whole input as one group.
    Result: `keys + [out]`, one row per group with >= 1 non-NULL value; no
    qualifying groups → empty frame. The frame is returned as a LAZY
    scoped-persist leaf — group-sized by construction — so callers weave
    it into bigger plans without re-running the selection (the cache
    materializes inline in their first action and is shared by later
    ones), and nested calls (Theil–Sen feeds one median's output into
    another's input) stay ~10 plan nodes instead of compounding.

    At 100 TB: both passes are map-side-combined codegen aggregates whose
    shuffles carry ≤ (groups × populated buckets) histogram cells or the
    band's tie-collapsed cells; the only per-group serial work is the
    histogram windows and the final band-cell window.
    """
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile p must be in [0,1], got {p}")
    from sri_spark.operators.caching import scoped_persist

    vals = df.filter(F.col(col).isNotNull()).select(
        (F.struct(*[F.col(k) for k in keys]) if keys else F.lit(0)).alias("__g"),
        F.col(col).cast("double").alias("__v"),
    )
    if persist_input:
        vals = scoped_persist(vals)

    v = F.col("__v")
    # continuous-quantile anchor: h = (n-1)*p (0-based); target 1-based
    # ranks floor(h)+1 and ceil(h)+1, blended by frac = h - floor(h)
    h = (F.col("__n") - F.lit(1)).cast("double") * F.lit(float(p))
    lo_rank = (F.floor(h) + F.lit(1)).cast("long")
    hi_rank = (F.ceil(h) + F.lit(1)).cast("long")

    # ONE bracket pass — sign/exponent/mantissa buckets:
    #   b = sign · ((2048 + floor(log2|v|)) · 256 + floor((m − 1) · 256)),
    # m = |v| / 2^floor(log2|v|) ∈ [1, 2) — a data-independent,
    # deterministic, MONOTONE partition of the double line into ≤ ~1.57M
    # possible buckets (6k binades × 256 mantissa slices per sign), of
    # which only populated ones materialize. Logarithmic-relative buckets
    # need no prior [min, max] pass and cannot be stretched by outliers:
    # every bucket is 2^-8-RELATIVE wide, so the bracket narrows to values
    # agreeing with the target through 8 significand bits. FP rounding at binade edges can push a bucket
    # index ±1 — harmless: the mapping stays non-decreasing, which is the
    # only property the rank arithmetic uses, and the bracket's [a, b]
    # are OBSERVED data values. ±inf and NaN take sentinel buckets beyond
    # every finite one (NaN above +inf: Spark orders NaN largest).
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

    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    h1 = (
        vals.select("__g", "__v", bucket.alias("__bk"))
        .groupBy("__g", "__bk")
        .agg(
            F.count("*").alias("__cnt"),
            F.min("__v").alias("__mn"),
            F.max("__v").alias("__mx"),
        )
        .withColumn("__n", F.sum("__cnt").over(Window.partitionBy("__g")))
        .withColumn(
            "__start", F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0))
        )
    )
    # a bucket covers global 1-based ranks (__start, __start + __cnt];
    # the bracket is the (≤2-bucket) span covering [lo_rank, hi_rank],
    # with [a, b] its observed value bounds — n falls out of the same
    # pass, so the histogram scan and the band scan below are the ONLY
    # passes over the input
    span = h1.filter(
        (F.col("__start") < hi_rank)
        & ((F.col("__start") + F.col("__cnt")) >= lo_rank)
    )
    bounds = (
        F.first("__n").alias("__n"),
        F.min("__mn").alias("__a"),
        F.max("__mx").alias("__b"),
    )
    if keys:
        tagged = vals.join(span.groupBy("__g").agg(*bounds), "__g")
    else:
        # one group: joining on the constant key would constant-fold into
        # a CartesianProduct; a keys=[] aggregate is provably one row, so
        # it crossJoins as a broadcast scalar instead
        tagged = vals.crossJoin(span.agg(*bounds))

    # band selection in ONE scan: tag each row
    # below(-1)/inside(0)/above(+1) the group's bracket and collapse to
    # (tag, value) cells, keeping only in-band values — below-band rows
    # merge into a single counter cell per group (their values don't
    # matter, only how many rank positions they occupy), above-band rows
    # are dropped at the aggregate.
    tag = F.when(F.col("__v") < F.col("__a"), F.lit(-1)).when(
        F.col("__v") > F.col("__b"), F.lit(1)
    ).otherwise(F.lit(0))
    cells_all = (
        tagged.select(
            "__g",
            "__n",
            tag.alias("__t"),
            F.when(tag == 0, F.col("__v")).alias("__cv"),
        )
        .filter(F.col("__t") <= 0)
        .groupBy("__g", "__t", "__cv")
        .agg(F.count("*").alias("__c"), F.first("__n").alias("__n"))
    )
    wg = Window.partitionBy("__g")
    win = (
        Window.partitionBy("__g")
        .orderBy("__cv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    positioned = (
        cells_all.withColumn(
            "__below",
            F.coalesce(
                F.sum(F.when(F.col("__t") == -1, F.col("__c"))).over(wg),
                F.lit(0),
            ),
        )
        .filter(F.col("__t") == 0)
        .withColumn(
            "__cum_before", F.coalesce(F.sum("__c").over(win), F.lit(0))
        )
        .withColumn("__pos_lo", F.col("__below") + F.col("__cum_before"))
        .withColumn(
            "__pos_hi", F.col("__below") + F.col("__cum_before") + F.col("__c")
        )
        .withColumn("__v", F.col("__cv"))
    )
    # a cell covers global 1-based ranks (__pos_lo, __pos_hi]
    stats = positioned.groupBy("__g").agg(
        F.max(
            F.when(
                (lo_rank > F.col("__pos_lo")) & (lo_rank <= F.col("__pos_hi")),
                F.col("__v"),
            )
        ).alias("__vlo"),
        F.max(
            F.when(
                (hi_rank > F.col("__pos_lo")) & (hi_rank <= F.col("__pos_hi")),
                F.col("__v"),
            )
        ).alias("__vhi"),
        F.first("__n").alias("__n"),
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
    # LAZY materialization: scoped_persist bounds nested callers' plans
    # with an InMemoryRelation leaf, and the selection FUSES into the
    # caller's action instead of paying its own build-time job — the
    # caches materialize inline on first read, twin calls over the same
    # input share their histogram exchanges via ReuseExchange, and
    # builders stay action-free.
    return scoped_persist(
        guarded.select(*[F.col(f"__g.{k}").alias(k) for k in keys], out)
    )


def weighted_quantile_by_group(
    df: DataFrame,
    keys: list[str],
    col: str,
    weight_col: str,
    out: str,
    *,
    p: float = 0.5,
    buckets: int = 1024,
    max_cell_values: int = 100_000,
    max_rounds: int = 12,
    persist_input: bool = True,
) -> DataFrame:
    """Per-group EXACT WEIGHTED quantile: the smallest value v whose
    cumulative weight reaches p x (group's total weight) — the
    inverted-CDF convention (numpy's `method='inverted_cdf'` with
    weights; the weighted median at p=0.5). Rows with NULL value, NULL
    weight, or weight <= 0 are ignored.

    Weighted ranks have no GK sketch (percentile_approx is frequency-1
    only), so this uses the ITERATIVE range-narrowing selection: each
    round buckets the in-range rows of every unresolved group into
    `buckets` value-range cells, aggregates each cell's weight, exact
    [min, max] and an approx distinct-value count, locates the target
    cell with a cumulative-weight window (cell-sized, <= `buckets` rows
    per group), and narrows to that cell's observed [min, max] — so an
    outlier-stretched or heavy-tailed distribution re-buckets against
    its own sub-range instead of degenerating (the round-13 advisory
    fix, applied here from birth). A cell that collapses to one value
    (min == max) IS the answer regardless of its weight — billion-row
    tie runs resolve without any sort. The loop is driver-paced
    (bounded 1-row probes, like dedup/components.py's convergence
    check) and exits once every unresolved cell holds <= `max_cell_values`
    distinct values (approx count — a sizing heuristic only, never a
    correctness input); the finale tie-collapses those cells to
    (value, weight) rows and takes the first value whose running weight
    crosses the target. `max_rounds` overruns raise loudly.

    Cross-engine determinism: weights are summed as decimal(38,6) —
    EXACT, order-independent — so the boundary comparison
    cum_weight >= p*W cannot flip on float summation order between this
    plan and a DuckDB window oracle. Use p values exactly representable
    in decimal(12,10) (0.5, 0.25, 0.9, ...), which covers any p a query
    would write literally.

    At 100 TB: every pass is a map-side-combined aggregate; shuffles
    carry per-cell rows (<= buckets x groups) except the finale's
    (value, weight) collapse, bounded by max_cell_values per group.
    """
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile p must be in [0,1], got {p}")
    from sri_spark.operators.caching import scoped_persist

    w_dec = F.col(weight_col).cast("decimal(38,6)")
    vals = (
        df.filter(
            F.col(col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .select(
            F.struct(*[F.col(k) for k in keys]).alias("__g"),
            F.col(col).cast("double").alias("__v"),
            w_dec.alias("__w"),
        )
    )
    if persist_input:
        vals = scoped_persist(vals)

    p_dec = F.lit(p).cast("decimal(12,10)")
    g0 = vals.groupBy("__g").agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.sum("__w").alias("__W"),
        F.approx_count_distinct("__v").alias("__nd"),
    )
    state = g0.select(
        "__g",
        "__lo",
        "__hi",
        (F.col("__W") * p_dec).alias("__t"),
        F.lit(0).cast("decimal(38,6)").alias("__below"),
        F.when(F.col("__lo") == F.col("__hi"), F.col("__lo"))
        .when(F.lit(p == 0.0), F.col("__lo"))
        .alias("__val"),
        F.col("__nd"),
    ).localCheckpoint()
    maxnd = (
        state.filter(F.col("__val").isNull()).agg(F.max("__nd")).first()[0]
    )

    rounds = 0
    while maxnd is not None and maxnd > max_cell_values:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"weighted_quantile_by_group: a target cell still holds "
                f"~{maxnd} distinct values after {max_rounds} narrowing "
                f"rounds (buckets={buckets}, "
                f"max_cell_values={max_cell_values}) — raise the knobs "
                "for this distribution"
            )
        rounds += 1
        active = state.filter(F.col("__val").isNull()).drop("__val", "__nd")
        rows = vals.join(F.broadcast(active), "__g").filter(
            (F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi"))
        )
        span = F.col("__hi") - F.col("__lo")
        bid = F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.lit(buckets - 1).cast("long"),
                F.floor((F.col("__v") - F.col("__lo")) / span * buckets).cast(
                    "long"
                ),
            ),
        )
        cells = (
            rows.select(
                "__g", "__t", "__below", bid.alias("__b"), "__v", "__w"
            )
            .groupBy("__g", "__t", "__below", "__b")
            .agg(
                F.sum("__w").alias("__cw"),
                F.min("__v").alias("__cmn"),
                F.max("__v").alias("__cmx"),
                F.approx_count_distinct("__v").alias("__nd"),
            )
        )
        win = (
            Window.partitionBy("__g")
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        end_cum = F.col("__below") + F.col("__cum_before") + F.col("__cw")
        start_cum = F.col("__below") + F.col("__cum_before")
        narrowed = (
            cells.withColumn(
                "__cum_before",
                F.coalesce(
                    F.sum("__cw").over(win), F.lit(0).cast("decimal(38,6)")
                ),
            )
            # first cell whose END cumulative weight reaches the target
            # (start < t <= end); p == 0 resolved at init, so t > 0 here
            .filter((start_cum < F.col("__t")) & (F.col("__t") <= end_cum))
            .select(
                "__g",
                F.col("__cmn").alias("__lo"),
                F.col("__cmx").alias("__hi"),
                "__t",
                start_cum.alias("__below"),
                F.when(F.col("__cmn") == F.col("__cmx"), F.col("__cmn")).alias(
                    "__val"
                ),
                F.col("__nd"),
            )
        )
        new_state = (
            state.filter(F.col("__val").isNotNull())
            .unionByName(narrowed)
            .localCheckpoint()
        )
        maxnd = (
            new_state.filter(F.col("__val").isNull())
            .agg(F.max("__nd"))
            .first()[0]
        )
        state.unpersist()
        state = new_state

    unresolved = state.filter(F.col("__val").isNull()).drop("__val", "__nd")
    finale_cells = (
        vals.join(F.broadcast(unresolved), "__g")
        .filter(
            (F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi"))
        )
        .groupBy("__g", "__t", "__below", "__v")
        .agg(F.sum("__w").alias("__cw"))
    )
    vwin = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = (
        finale_cells.withColumn("__cum", F.sum("__cw").over(vwin))
        .groupBy("__g")
        .agg(
            F.min(
                F.when(
                    F.col("__below") + F.col("__cum") >= F.col("__t"),
                    F.col("__v"),
                )
            ).alias("__val")
        )
    )
    allvals = state.filter(F.col("__val").isNotNull()).select(
        "__g", "__val"
    ).unionByName(picked)
    return allvals.select(
        *[F.col(f"__g.{k}").alias(k) for k in keys],
        F.col("__val").alias(out),
    ).localCheckpoint()
