"""Per-label top principal component of the embedding table by
relational power iteration (`top_component_relational`).

The label covariance matrices are built as long-format rows (label, i, j,
cov) by `covariance_long`; each power round is then a matrix-vector
product and a normalization over a label-sized frame — the same
fixed-iteration unrolling the repo uses for PageRank, so a DuckDB oracle
can replay the identical recurrence and value-check it.

Scale notes: the covariance build explodes dims(dims+1)/2 rows per vector
(fine for feature-grade dims, exact, oracle-checkable), and map-side
combine collapses them before the exchange. Per-label state is O(dims²),
constant in row count; a dims too large for one row would shard into
partial matvecs — same algebra, one more shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POWER_ITERS = 4


def covariance_long(emb: DataFrame, *, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label covariance matrices in long form (label, i, j, cov) with
    population normalization. Built from one explode over (i, j) index
    pairs and a single hash aggregate keyed (label, i, j) — a bounded key
    space (labels x dims²), so map-side combine collapses the explosion
    before the exchange."""
    idx = F.explode(F.sequence(F.lit(1), F.size("v"))).alias("i")
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    means = (
        ex.select("label", F.posexplode("v").alias("i0", "x"))
        .groupBy("label", "i0")
        .agg(F.avg("x").alias("mu"))
    )
    # UPPER TRIANGLE only (j >= i): the covariance matrix is symmetric and
    # x_i*x_j is bit-commutative, so exploding dims(dims+1)/2 pairs per
    # vector instead of dims² halves the heavy leg (r13; measured ~0.5 s
    # of the 1.2 s warm covariance pass at sf0.1); the mirror below
    # restores the full (i, j) grid from the aggregated cells
    pairs = (
        ex.select("label", "v", idx)
        .select(
            "label",
            "v",
            "i",
            F.explode(F.sequence(F.col("i"), F.size("v"))).alias("j"),
        )
        .select(
            "label",
            (F.col("i") - 1).alias("i0"),
            (F.col("j") - 1).alias("j0"),
            (F.element_at("v", F.col("i")) * F.element_at("v", F.col("j"))).alias(
                "xy"
            ),
        )
    )
    exy_ut = pairs.groupBy("label", "i0", "j0").agg(
        F.avg("xy").alias("exy"), F.count("*").alias("n")
    )
    # mirror each off-diagonal cell in ONE narrow pass (an union would
    # re-run the aggregate subtree per leg)
    cell = F.struct("i0", "j0", "exy", "n")
    cell_t = F.struct(
        F.col("j0").alias("i0"), F.col("i0").alias("j0"), "exy", "n"
    )
    exy = exy_ut.select(
        "label",
        F.explode(
            F.when(F.col("i0") == F.col("j0"), F.array(cell)).otherwise(
                F.array(cell, cell_t)
            )
        ).alias("__c"),
    ).select("label", "__c.i0", "__c.j0", "__c.exy", "__c.n")
    mi = means.select(
        F.col("label"), F.col("i0"), F.col("mu").alias("mu_i")
    )
    mj = means.select(
        F.col("label"), F.col("i0").alias("j0"), F.col("mu").alias("mu_j")
    )
    return (
        exy.join(F.broadcast(mi), ["label", "i0"])
        .join(F.broadcast(mj), ["label", "j0"])
        .select(
            "label",
            F.col("i0").alias("i"),
            F.col("j0").alias("j"),
            (F.col("exy") - F.col("mu_i") * F.col("mu_j")).alias("cov"),
        )
    )


def top_component_relational(
    cov: DataFrame, *, dims: int, iters: int = POWER_ITERS
) -> DataFrame:
    """Top eigenvector per label after `iters` power rounds from the
    uniform start vector 1/sqrt(dims). Deterministic: fixed start, fixed
    rounds, so a SQL oracle replays it exactly; sign is pinned by the
    start vector. Returns (label, i, loading).

    r13 shape: the per-label state is O(dims²) — 32 KB at dims=64 — so
    the whole iteration runs as PER-LABEL DENSE-ARRAY algebra: the long
    (label, i, j, cov) cells collect into one row-major array per label,
    and every power round is a pure codegen projection (transform +
    aggregate lambdas for the matrix-vector product and the norm) on a
    label-count-sized frame. The previous long-form variant ran one
    join + hash aggregate + persist PER ROUND over the cells frame —
    measured 2.4-2.9 s of small-stage exchange floors at sf0.1 versus
    ~0.3 s for the array form, with identical arithmetic (the per-round
    sum order is now the fixed j-order; the groupBy sum it replaces had
    arbitrary partial order, and both land inside the oracle's 6-decimal
    envelope). At 100 TB labels shard across tasks; a dims too large for
    one row (dims² doubles ≫ task memory) would shard into partial
    matvecs."""
    # row-major dense matrix per label: array_sort on (i, j, cov) structs
    # orders lexicographically by the unique (i, j) key, so cell k holds
    # cov[i=k div dims, j=k mod dims]; struct-wrapping keeps NULL cov
    # cells in place (collect_list would drop bare NULLs and shift rows)
    mat = cov.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "j", "cov"))),
            lambda c: c["cov"],
        ).alias("__m")
    )
    # dense row-major indexing silently assumes EXACTLY dims² cells per
    # label — a sparse/filtered cov frame would shift every element_at
    # index into garbage loadings where the retired join form degraded
    # gracefully. Fail loudly instead (r14, ADVICE r13).
    mat = mat.select(
        "label",
        F.when(
            F.assert_true(
                F.size("__m") == F.lit(dims * dims),
                F.lit(
                    "top_component_relational: cov must hold exactly "
                    f"dims²={dims * dims} cells per label"
                ),
            ).isNull(),
            F.col("__m"),
        ).alias("__m"),
    )
    from sri_spark.operators.caching import scoped_persist

    v0 = F.array_repeat(F.lit(1.0 / dims**0.5), dims)
    out = mat.withColumn("__v", v0)
    m = F.col("__m")
    for _ in range(iters):
        # persist the label-sized round state: the optimizer's cost of a
        # nested higher-order-function chain grows EXPONENTIALLY with
        # unrolled rounds (measured on a 4-dim toy: 3 rounds 1.5 s,
        # 4 rounds 20 s) — the lazy cache substitutes an InMemoryRelation
        # leaf per round, bounding every round's tree while keeping the
        # whole iteration a single job (caches materialize inline)
        out = scoped_persist(out)
        # matvec: raw[i] = Σ_j m[i*dims + j] * v[j]  (fixed j order).
        # NULL cov cells coalesce to 0.0 — the retired groupBy F.sum (and
        # the DuckDB oracle's SUM) SKIP NULLs, whereas F.aggregate would
        # propagate one NULL cell into every loading of the label (r14,
        # ADVICE r13); a skipped NULL and an added 0.0 are the same sum.
        raw = F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.aggregate(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.coalesce(F.element_at(m, i * dims + j + 1), F.lit(0.0))
                * F.element_at(F.col("__v"), j + 1),
            ),
        )
        # materialize raw as a COLUMN before reusing it: Catalyst does no
        # CSE inside lambda trees (the repo's text_bigram finding), so
        # referencing the raw expression in both the norm and the divide
        # would re-run the dims² matvec per element
        out = out.withColumn("__raw", raw).withColumn(
            "__nrm",
            F.sqrt(
                F.aggregate(
                    F.col("__raw"), F.lit(0.0), lambda a, x: a + x * x
                )
            ),
        )
        # try_divide: a label whose covariance matrix is all zeros
        # (constant vectors) has nrm == 0; ANSI would abort the job,
        # try_divide yields NULL loadings — identical to the DuckDB
        # oracle, whose float division by zero is NULL
        out = out.withColumn(
            "__v",
            F.transform(
                F.col("__raw"), lambda x: F.try_divide(x, F.col("__nrm"))
            ),
        ).drop("__raw", "__nrm")
    return out.select(
        "label", F.posexplode("__v").alias("i", "loading")
    )

