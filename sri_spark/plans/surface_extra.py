"""Engine-surface completeness queries for operator families the reference
never used (SURVEY §2.6/§2.9 'not present' notes) but a complete engine must
offer: semi/anti joins, exact percentiles, the string-function family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table, register_views


@register(
    "join_semi_anti",
    """
    SELECT c.c_custkey, 'con_pedidos' AS estado
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c.c_custkey, 'sin_pedidos' AS estado
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti — existence joins that never replicate the
    probe side (no fan-out risk, broadcastable build side)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond = cust.c_custkey == orders.o_custkey
    with_orders = cust.join(orders, cond, "left_semi").select(
        "c_custkey", F.lit("con_pedidos").alias("estado")
    )
    without = cust.join(orders, cond, "left_anti").select(
        "c_custkey", F.lit("sin_pedidos").alias("estado")
    )
    return with_orders.unionByName(without)


@register(
    "agg_percentiles",
    """
    SELECT o_orderpriority AS Prioridad,
           round(quantile_cont(o_totalprice, 0.5), 4) AS mediana,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`percentile`, the sort-based
    exact form; `approx_percentile` is the documented sketch alternative for
    100 TB group cardinalities)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderpriority").alias("Prioridad")).agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("mediana"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "agg_group_scalable_quantiles",
    """
    SELECT o_orderpriority AS Prioridad,
           round(quantile_cont(o_totalprice, 0.5), 4) AS mediana,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_group_scalable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles via the SCALE path —
    operators/median.py::exact_quantile_by_group (round-12 verdict item
    8). `agg_percentiles` above uses Spark's built-in exact `percentile`,
    whose per-task value→count map OOMs on high-distinct columns (it
    OOM'd a 1 GiB session at 2.4M distinct doubles, round 12); this
    operator answers the same question with a codegen histogram bracket
    over the raw rows plus a tie-collapsed band selection inside it, so
    it survives columns whose per-group distinct count is data-sized — no
    per-task value map, no imperative sketch aggregate. Same
    quantile_cont oracle."""
    from sri_spark.operators.median import exact_quantile_by_group

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("Prioridad"),
        F.col("o_totalprice").cast("double").alias("precio"),
    )
    med = exact_quantile_by_group(
        orders, ["Prioridad"], "precio", "mediana_raw", p=0.5
    )
    p90 = exact_quantile_by_group(
        orders, ["Prioridad"], "precio", "p90_raw", p=0.9
    )
    return med.join(p90, "Prioridad").select(
        "Prioridad",
        F.round("mediana_raw", 4).alias("mediana"),
        F.round("p90_raw", 4).alias("p90"),
    )


@register(
    "agg_weighted_median_price",
    """
    WITH c AS (
      SELECT l_returnflag,
             l_extendedprice AS v,
             sum(CAST(l_quantity AS DECIMAL(38,6)))
                 OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw,
             sum(CAST(l_quantity AS DECIMAL(38,6)))
                 OVER (PARTITION BY l_returnflag) AS W
      FROM lineitem
    )
    SELECT l_returnflag AS flag,
           round(min(CASE WHEN cw >= CAST(0.5 AS DECIMAL(12,10)) * W
                          THEN v END), 4) AS mediana_ponderada
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median line price per return flag — the
    inverted-CDF weighted median via
    operators/median.py::weighted_quantile_by_group. The oracle's window
    formulation sorts every row per group; the operator orders only
    cell aggregates — the histogram bracket's buckets, then the
    tie-collapsed (value, weight) cells of the one bucket whose
    cumulative weight reaches p*W (decimal-exact weight sums, so the
    cum_weight >= p*W boundary cannot flip on float summation order
    between engines). The weighted shape is what a
    training-corpus budget stage needs (median quality weighted by token
    count) where per-document weights make quantile_cont unusable."""
    from sri_spark.operators.median import weighted_quantile_by_group

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("double").alias("precio"),
        F.col("l_quantity").alias("cantidad"),
    )
    med = weighted_quantile_by_group(
        li, ["flag"], "precio", "cantidad", "med_raw", p=0.5
    )
    return med.select(
        "flag", F.round("med_raw", 4).alias("mediana_ponderada")
    )


@register(
    "string_functions",
    """
    SELECT p_partkey,
           substr(p_name, 1, 10) AS prefijo,
           concat(p_brand, '#', p_type) AS etiqueta,
           length(p_name) AS largo,
           replace(p_type, ' ', '_') AS tipo_guion,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS contiene_a,
           regexp_replace(p_name, '[aeiou]', '.', 'g') AS sin_vocales,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS talla,
           reverse(p_brand) AS marca_invertida
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string-expression family (substr/concat/length/replace/like/
    regexp_replace/lpad/reverse) — all codegen'd JVM-side."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.substring("p_name", 1, 10).alias("prefijo"),
        F.concat_ws("#", "p_brand", "p_type").alias("etiqueta"),
        F.length("p_name").cast("long").alias("largo"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("tipo_guion"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).alias("contiene_a"),
        F.regexp_replace("p_name", "[aeiou]", ".").alias("sin_vocales"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("talla"),
        F.reverse(F.col("p_brand")).alias("marca_invertida"),
    )


@register(
    "agg_grouping_sets",
    """
    SELECT year(o_orderdate) AS Anio, o_orderstatus AS Estado,
           CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus)
                AS BIGINT) AS gid,
           count(*) AS n_registros
    FROM orders
    GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id disambiguation — the general
    grouping-sets form ROLLUP/CUBE specialize; one Expand + one hash
    aggregate, no multi-pass union."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS Anio, o_orderstatus AS Estado,
               CAST(grouping(year(o_orderdate)) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS gid,
               count(*) AS n_registros
        FROM orders
        GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderstatus), ())
        """
    )


@register(
    "join_full_outer",
    """
    WITH por_cliente AS (
      SELECT o_custkey, count(*) AS n_pedidos FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_mktsegment AS Segmento,
           CAST(COALESCE(p.n_pedidos, 0) AS BIGINT) AS n_pedidos
    FROM customer c
    FULL OUTER JOIN por_cliente p ON c.c_custkey = p.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (customers vs per-customer order counts) — completes
    the join-type family; customers without orders surface with 0. Both
    sides shuffle on the key; the aggregate side is pre-reduced so the join
    input is one row per customer."""
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_pedidos"))
    )
    return cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "full_outer"
    ).select(
        "c_custkey",
        F.col("c_mktsegment").alias("Segmento"),
        F.coalesce(F.col("n_pedidos"), F.lit(0)).alias("n_pedidos"),
    )


@register(
    "unpivot_measures",
    """
    SELECT o_orderkey, 'precio_total' AS medida, round(o_totalprice, 2) AS valor
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'anio' AS medida, CAST(year(o_orderdate) AS DOUBLE)
    FROM orders
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via stack(): one generate pass, no self-union
    (a UNION ALL would scan the table once per measure; stack reads it
    once). The inverse of events_pivot_by_type."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'precio_total', round(o_totalprice, 2), "
            "'anio', CAST(year(o_orderdate) AS DOUBLE)) AS (medida, valor)"
        ),
    )


@register(
    "window_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS cuartil,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS dist_acum,
           CAST(dense_rank() OVER w AS BIGINT) AS rango_denso
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family (ntile / percent_rank / cume_dist /
    dense_rank) per customer — per-key windows, partition-local sorts."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("cuartil"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("dist_acum"),
        F.dense_rank().over(w).cast("long").alias("rango_denso"),
    )


@register(
    "scalar_subquery_filter",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS Anio,
           count(*) AS pedidos_altos,
           round(min(o_totalprice), 2) AS menor_alto
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY year(o_orderdate)
    """,
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate (orders above the global average) — the
    subquery plans as its own tiny aggregate reused as a literal; the outer
    filter still pushes toward the scan."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS Anio,
               count(*) AS pedidos_altos,
               round(min(o_totalprice), 2) AS menor_alto
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY year(o_orderdate)
        """
    )


@register(
    "join_skew_salted",
    """
    SELECT e.user_id,
           COALESCE(c.c_mktsegment, 'SIN_SEGMENTO') AS segmento,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (operators/skew.py): fact side salted 8 ways on
    event_id, dim side replicated once per salt, join on (key, salt) — a hot
    user_id now spreads over 8 tasks instead of one. The oracle is the PLAIN
    join: salting must be semantically invisible, and this query proves it
    cross-engine."""
    from sri_spark.operators.skew import salted_join

    from sri_spark.sources.testdata import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    cust = _lt(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        ev,
        cust,
        ev["user_id"] == cust["c_custkey"],
        n_salt=8,
        salt_by="event_id",
        how="left",
    )
    return joined.groupBy(
        "user_id",
        F.coalesce(F.col("c_mktsegment"), F.lit("SIN_SEGMENTO")).alias("segmento"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


HIST_BIN_WIDTH = 25_000.0


@register(
    "agg_histogram",
    f"""
    SELECT CAST(floor(o_totalprice / {HIST_BIN_WIDTH!r}) AS BIGINT) AS bin,
           round(CAST(floor(o_totalprice / {HIST_BIN_WIDTH!r}) AS BIGINT)
                 * {HIST_BIN_WIDTH!r}, 2) AS bin_lo,
           count(*) AS n,
           round(min(o_totalprice), 2) AS min_v,
           round(max(o_totalprice), 2) AS max_v
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — the profiling primitive that
    needs exactly one hash aggregate regardless of scale (bin id is a pure
    projection, so the map side pre-aggregates; contrast with an
    ORDER BY-based quantile scan). Empty bins are absent by construction."""
    orders = load_table(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("long")
    return (
        orders.groupBy(
            bin_.alias("bin"),
            F.round(bin_ * HIST_BIN_WIDTH, 2).alias("bin_lo"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_v"),
            F.round(F.max("o_totalprice"), 2).alias("max_v"),
        )
    )


BASKET_MIN_SUPPORT = 2  # pairs must co-occur in >= 2 orders
BASKET_MAX_ITEMS = 50  # degree cap per order (quadratic guard)


@register(
    "orders_basket_pairs",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sized AS (
      SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= {BASKET_MAX_ITEMS}
    ),
    it AS (SELECT i.l_orderkey, i.l_partkey FROM items i JOIN sized USING (l_orderkey)),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support
    FROM pairs WHERE support >= {BASKET_MIN_SUPPORT}
    """,
)
def orders_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts co-purchased in the same order with
    support >= 2 — pairwise frequent itemsets, the first A-priori level.
    Same guarded-quadratic discipline as the dedup self-joins: the
    within-order self-join is capped by a per-order degree bound
    (BASKET_MAX_ITEMS, the analogue of the hot-shingle df cap), so the
    blowup per order is C(cap, 2) however large the corpus; shuffles move
    (orderkey, partkey) pairs only."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13 shape: ONE aggregate to per-order sorted distinct-item arrays
    # replaces distinct + degree filter + equi-self-join (two reads of the
    # distinct set and a join shuffle); the within-order pair blowup is
    # generated narrowly from each array (still capped at C(cap, 2) by the
    # same degree bound), and only (part_a, part_b) pairs reach the final
    # exchange. Array combinations over a SORTED distinct array emit
    # exactly the part_a < part_b value pairs of the old self-join.
    basket = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= BASKET_MAX_ITEMS)
        .filter(F.size("items") >= 2)
    )
    n = F.size("items")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at("items", i).alias("part_a"),
                    F.element_at("items", j).alias("part_b"),
                ),
            ),
        )
    )
    return (
        basket.select(F.explode(pairs).alias("__p"))
        .select("__p.part_a", "__p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
    )


APPROX_Q_PS = [0.25, 0.5, 0.75, 0.95]
APPROX_Q_ACC = 100  # percentile_approx accuracy => rank error ~ 1/ACC


@register(
    "agg_approx_quantiles_bound",
    "SELECT * FROM (VALUES "
    + ", ".join(f"({p!r}, TRUE)" for p in APPROX_Q_PS)
    + ") AS t(p, within_bound)",
)
def agg_approx_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with a PROVEN error bound: percentile_approx
    (Greenwald-Khanna style, partial-aggregatable — the 100 TB path where
    exact percentiles would global-sort) must land within twice its nominal
    rank error 1/accuracy: exact_value(p - eps) <= approx(p) <=
    exact_value(p + eps), eps = 2/accuracy. The factor-2 slack absorbs the
    gap between the sketch's actual-element answers and the INTERPOLATED
    exact bounds, which bites at small row counts (1/accuracy is only 15
    ranks at the 1,500-row test SF). Same self-check contract as the HLL
    and ANN recall queries: Spark computes sketch AND exact bounds, emits
    the boolean; the oracle pins the expected verdict."""
    orders = load_table(spark, sf_dir, "orders")
    eps = 2.0 / APPROX_Q_ACC
    approx = orders.agg(
        F.percentile_approx("o_totalprice", APPROX_Q_PS, APPROX_Q_ACC).alias("qs"),
        *[
            F.expr(
                f"percentile(o_totalprice, {max(0.0, p - eps)!r})"
            ).alias(f"lo_{i}")
            for i, p in enumerate(APPROX_Q_PS)
        ],
        *[
            F.expr(
                f"percentile(o_totalprice, {min(1.0, p + eps)!r})"
            ).alias(f"hi_{i}")
            for i, p in enumerate(APPROX_Q_PS)
        ],
    )
    checks = [
        F.struct(
            F.lit(p).alias("p"),
            (
                (F.element_at("qs", i + 1) >= F.col(f"lo_{i}"))
                & (F.element_at("qs", i + 1) <= F.col(f"hi_{i}"))
            ).alias("within_bound"),
        )
        for i, p in enumerate(APPROX_Q_PS)
    ]
    return (
        approx.select(F.explode(F.array(*checks)).alias("c"))
        .select(F.col("c.p").alias("p"), F.col("c.within_bound").alias("within_bound"))
    )


@register(
    "metrics_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_effect,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def metrics_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q6 shape (public spec): a pure filter+aggregate whose
    entire cost is the scan — the canonical predicate-pushdown probe. All
    three predicates are scan-pushable (date range, discount range,
    quantity bound), so the parquet reader skips row groups by min/max
    stats before a single row reaches the aggregate; the plan-shape test
    asserts PushedFilters is non-empty. At 100 TB with the Q6-activated
    partitioned layout (etl/pipeline.write_star), the date predicate
    prunes whole partitions before file listing."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue_effect"
        ),
        F.count("*").alias("n_rows"),
    )


@register(
    "metrics_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def metrics_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q1 shape (public spec): the canonical wide-aggregate scan —
    8 aggregates over 2 grouping keys, one pushed date filter. Everything
    partial-aggregates map-side (4-ish groups regardless of scale), so the
    shuffle moves |groups| x 8 doubles: the query is pure scan throughput,
    the shape Tungsten's whole-stage codegen exists for."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_ordered_list",
    """
    SELECT o_custkey,
           string_agg(o_orderpriority, ',' ORDER BY o_orderdate, o_orderkey)
             AS prioridades,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_totalprice DESC, o_orderkey) AS pedidos_por_precio
    FROM orders
    WHERE o_custkey % 100 = 7
    GROUP BY o_custkey
    """,
)
def agg_ordered_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation (string_agg ... ORDER BY): collect_list has
    NO intra-group order guarantee in a distributed engine, so the portable
    formulation collects (sort_key, value) structs and array_sorts BEFORE
    joining — deterministic output without a single-partition sort. The
    mod-filter keeps test output bounded; the shape is per-key regardless."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 100 == 7
    )
    by_date = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("o_orderdate").alias("k1"),
                F.col("o_orderkey").alias("k2"),
                F.col("o_orderpriority").alias("v"),
            )
        )
    )
    by_price = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("o_totalprice")).alias("k1"),
                F.col("o_orderkey").alias("k2"),
                F.col("o_orderkey").cast("string").alias("v"),
            )
        )
    )
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.transform(by_date, lambda s: s["v"]), ",").alias("prioridades"),
        F.array_join(F.transform(by_price, lambda s: s["v"]), ",").alias(
            "pedidos_por_precio"
        ),
    )


@register(
    "expr_null_semantics",
    """
    SELECT o_orderkey,
           coalesce(NULLIF(o_orderstatus, 'O'), 'ABIERTO') AS estado_o,
           (NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL) AS estado_es_o,
           CASE WHEN o_totalprice > 100000 THEN 'alto'
                WHEN o_totalprice > 50000 THEN 'medio'
                ELSE 'bajo' END AS banda,
           ifnull(try_cast(substr(o_orderpriority, 1, 1) AS DOUBLE), -1.0)
             AS prioridad_num,
           ifnull(try_cast(o_orderstatus AS DOUBLE), -1.0) AS estado_num
    FROM orders WHERE o_orderkey % 1000 = 1
    """,
)
def expr_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-semantics expression family: NULLIF/COALESCE/IFNULL,
    null-safe equality (IS NOT DISTINCT FROM / <=>), searched CASE, and
    try_cast's error-to-null contract (ANSI mode throws on bad casts —
    try_cast is the documented coercion path, SURVEY E7/E8)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 1000 == 1
    )
    return orders.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("ABIERTO")
        ).alias("estado_o"),
        F.nullif(F.col("o_orderstatus"), F.lit("O"))
        .eqNullSafe(F.lit(None).cast("string"))
        .alias("estado_es_o"),
        F.when(F.col("o_totalprice") > 100000, "alto")
        .when(F.col("o_totalprice") > 50000, "medio")
        .otherwise("bajo")
        .alias("banda"),
        F.ifnull(
            F.expr("try_cast(substring(o_orderpriority, 1, 1) AS DOUBLE)"),
            F.lit(-1.0),
        ).alias("prioridad_num"),
        F.ifnull(F.expr("try_cast(o_orderstatus AS DOUBLE)"), F.lit(-1.0)).alias(
            "estado_num"
        ),
    )


@register(
    "expr_date_functions",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS fecha,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS mas_30d,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS fin_de_mes,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS inicio_mes,
           CAST(isodow(o_orderdate) AS BIGINT) AS dia_iso,
           CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS BIGINT)
             AS dias_hasta_fin
    FROM orders WHERE o_orderkey % 1000 = 1
    """,
)
def expr_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The date-function family beyond parts extraction: interval add,
    last_day, month truncation, ISO weekday, date difference — all codegen
    scalar expressions (SURVEY §2.3 E1/E7 extended). Functions with
    engine-specific semantics (months_between's fractional rules) are
    deliberately excluded from the cross-engine contract."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 1000 == 1
    )
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("fecha"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("mas_30d"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("fin_de_mes"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("inicio_mes"),
        F.dayofweek(F.date_sub(d, 1)).cast("long").alias("dia_iso"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias(
            "dias_hasta_fin"
        ),
    )


@register(
    "metrics_shipping_priority",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def metrics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q3 shape (public spec): selective filters on all three
    tables push to their scans BEFORE the joins (the analyzed plan shows
    PushedFilters on each), the customer side reduces to a semi-join-sized
    key set, and the top-10 lands in TakeOrderedAndProject. The join order
    is Catalyst's to choose — expressed declaratively, re-planned by AQE at
    runtime from real build sizes."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SKEW_TOP_N = 10


@register(
    "diag_join_key_skew",
    f"""
    WITH freq AS (
      SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS n_keys,
                   max(n) AS max_n, avg(n) AS avg_n FROM freq),
    top AS (
      SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rk FROM freq
    )
    SELECT t.rk, t.key, t.n,
           round(t.n / tot.total, 6) AS share,
           round(tot.max_n / tot.avg_n, 6) AS skew_factor,
           CAST(tot.n_keys AS BIGINT) AS n_keys
    FROM top t CROSS JOIN tot
    WHERE t.rk <= {SKEW_TOP_N}
    """,
)
def diag_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: top-{SKEW_TOP_N} heaviest keys with their
    row share, plus the max/mean skew factor — the report that decides
    whether a join needs salting (operators/skew.py) or AQE's skew split
    suffices. One hash aggregate over the key; everything after is
    key-cardinality-sized. A skew_factor near 1 means uniform keys; >>1
    marks the hot-key join hazard."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count("*").alias("n"))
    tot = freq.agg(
        F.sum("n").alias("total"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_n"),
        F.avg("n").alias("avg_n"),
    )
    from pyspark.sql import Window

    top = freq.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key"))).cast("long")
    ).filter(F.col("rk") <= SKEW_TOP_N)
    return top.join(tot).select(
        "rk",
        "key",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
        F.round(F.col("max_n") / F.col("avg_n"), 6).alias("skew_factor"),
        F.col("n_keys").cast("long").alias("n_keys"),
    )


@register(
    "orders_pareto_deciles",
    """
    WITH per_cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT revenue,
             ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
      FROM per_cust
    ),
    tot AS (SELECT sum(revenue) AS total FROM per_cust)
    SELECT decile,
           count(*) AS n_customers,
           round(sum(revenue), 2) AS revenue,
           round(sum(revenue) / tot.total, 6) AS share,
           round(sum(sum(revenue) / tot.total)
                 OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING), 6) AS cum_share
    FROM ranked CROSS JOIN tot
    GROUP BY decile, tot.total
    """,
)
def orders_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) by customer decile: share and
    cumulative share per top-revenue tenth — the 80/20 report. The global
    ntile runs on the CUSTOMERS-sized rollup (dimension cardinality), the
    decile aggregate is 10 rows, and the cumulative window is over those
    10 — corpus-sized work is one hash aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    ranked = per_cust.select(
        "revenue",
        F.ntile(10)
        .over(Window.orderBy(F.desc("revenue"), F.asc("o_custkey")))
        .alias("decile"),
    )
    tot = per_cust.agg(F.sum("revenue").alias("total"))
    deciles = (
        ranked.join(tot)
        .groupBy("decile", "total")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
        )
        .withColumn("share", F.round(F.col("revenue") / F.col("total"), 6))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return deciles.select(
        F.col("decile").cast("long").alias("decile"),
        "n_customers",
        "revenue",
        "share",
        F.round(F.sum(F.col("revenue") / F.col("total")).over(w), 6).alias(
            "cum_share"
        ),
    )


@register(
    "expr_not_in_null_pitfall",
    """
    WITH probe AS (
      SELECT o_custkey FROM orders
      UNION ALL SELECT NULL
    )
    SELECT
      (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM probe)) AS not_in_count,
      (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM probe p
                          WHERE p.o_custkey = c.c_custkey)) AS not_exists_count,
      (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)) AS true_no_orders
    """,
)
def expr_not_in_null_pitfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null pitfall, pinned as a regression test in both
    engines: one NULL in the subquery makes `x NOT IN (...)` UNKNOWN for
    every row (three-valued logic), so not_in_count is 0 while the
    NOT EXISTS formulation — which compiles to the scale-safe left-anti
    join — still returns the customers without orders. Ship NOT EXISTS;
    this query exists so the difference is executable documentation."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH probe AS (
          SELECT o_custkey FROM orders
          UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT
          (SELECT count(*) FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM probe)) AS not_in_count,
          (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM probe p
                              WHERE p.o_custkey = c.c_custkey)) AS not_exists_count,
          (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey)) AS true_no_orders
        """
    )


FUZZY_MAX_DIST = 4


@register(
    "expr_fuzzy_brand_pairs",
    f"""
    WITH brands AS (SELECT DISTINCT p_brand FROM part)
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           CAST(levenshtein(a.p_brand, b.p_brand) AS BIGINT) AS edit_dist
    FROM brands a JOIN brands b ON a.p_brand < b.p_brand
    WHERE levenshtein(a.p_brand, b.p_brand) <= {FUZZY_MAX_DIST}
    """,
)
def expr_fuzzy_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over the DISTINCT brand values — the
    entity-resolution primitive. The pairwise comparison runs on the
    deduplicated value domain (|brands|², tiny), never the raw table: the
    same cardinality discipline as every pair operator here — at scale
    you block first (fingerprint/LSH), then edit-distance only within
    blocks."""
    brands = load_table(spark, sf_dir, "part").select("p_brand").distinct()
    a = brands.select(F.col("p_brand").alias("brand_a"))
    b = brands.select(F.col("p_brand").alias("brand_b"))
    dist = F.levenshtein("brand_a", "brand_b")
    return (
        a.join(b, F.col("brand_a") < F.col("brand_b"))
        .filter(dist <= FUZZY_MAX_DIST)
        .select("brand_a", "brand_b", dist.cast("long").alias("edit_dist"))
    )


@register(
    "supplier_concentration_hhi",
    """
    WITH flows AS (
      SELECT p.p_brand, l.l_suppkey,
             sum(l.l_extendedprice) AS amount
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT p_brand, sum(amount) AS total FROM flows GROUP BY 1)
    SELECT f.p_brand,
           count(*) AS n_suppliers,
           round(sum(pow(f.amount / t.total, 2)), 6) AS hhi
    FROM flows f JOIN tot t USING (p_brand)
    GROUP BY f.p_brand
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply concentration per brand: the Herfindahl-Hirschman index over
    supplier revenue shares (1/n = perfectly spread, →1 = single-supplier
    risk). Two hash aggregates + one join on the (brand, supplier)-sized
    rollup; the corpus-sized work is the lineitem⋈part join, which AQE
    plans from real sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    flows = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("l_extendedprice").alias("amount"))
    )
    tot = flows.groupBy(F.col("p_brand").alias("tb")).agg(
        F.sum("amount").alias("total")
    )
    share = F.col("amount") / F.col("total")
    return (
        flows.join(tot, flows["p_brand"] == tot["tb"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(share * share), 6).alias("hhi"),
        )
    )


@register(
    "orders_lead_time",
    """
    SELECT o.o_orderpriority AS prioridad,
           count(*) AS n_lineas,
           round(avg(date_diff('day', o.o_orderdate, l.l_shipdate)), 4)
             AS lead_avg_d,
           round(median(date_diff('day', o.o_orderdate, l.l_shipdate)), 4)
             AS lead_med_d,
           CAST(max(date_diff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
             AS lead_max_d
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY 1
    """,
)
def orders_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time by priority (avg/median/max days) — the
    fulfillment-ops rollup. One join + one grouped aggregate; the datediff
    is a pure projection feeding map-side partials."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lead = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(F.col("o_orderpriority").alias("prioridad"))
        .agg(
            F.count("*").alias("n_lineas"),
            F.round(F.avg(lead), 4).alias("lead_avg_d"),
            F.round(F.median(lead.cast("double")), 4).alias("lead_med_d"),
            F.max(lead).cast("long").alias("lead_max_d"),
        )
    )


POWER_USER_PCT = 0.95


@register(
    "events_power_users",
    f"""
    WITH per_user AS (
      SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM events GROUP BY 1
    ),
    cut AS (SELECT quantile_cont(n_events, {POWER_USER_PCT}) AS p95 FROM per_user)
    SELECT u.user_id, u.n_events, u.total_value,
           round(c.p95, 4) AS p95_cutoff
    FROM per_user u CROSS JOIN cut c
    WHERE u.n_events > c.p95
    """,
)
def events_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user segmentation: users above the p95 activity percentile,
    with the cutoff carried in the output for auditability. The percentile
    computes on the USERS-sized rollup (one 1-row aggregate joined back,
    no second scan of events)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    cut = per_user.agg(
        F.percentile(F.col("n_events").cast("double"), F.lit(POWER_USER_PCT)).alias(
            "p95"
        )
    )
    return (
        per_user.join(cut)
        .filter(F.col("n_events") > F.col("p95"))
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.round("p95", 4).alias("p95_cutoff"),
        )
    )


_BACKLOG_ORACLE = """
WITH closes AS (
  SELECT l_orderkey, max(l_shipdate) AS close_date FROM lineitem GROUP BY 1
),
deltas AS (
  SELECT o_orderdate AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT c.close_date, -1 FROM closes c
),
daily AS (SELECT day, sum(delta) AS net FROM deltas GROUP BY 1)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(net AS BIGINT) AS net_change,
       CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM daily
"""


@register("orders_backlog_sweepline", _BACKLOG_ORACLE)
def orders_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by sweep-line: +1 at order placement,
    -1 at final shipment, daily net, cumulative sum — interval counting
    WITHOUT expanding intervals into their covered days (the expansion is
    O(days × orders); the sweep is O(orders) + a day-cardinality window).
    The cumulative window is global but runs over the DAY GRID (thousands
    of rows at any scale), not over orders."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_date"))
    deltas = orders.select(
        F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        closes.select(F.col("close_date").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("net").cast("long").alias("net_change"),
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


@register(
    "orders_revenue_7d_ma",
    """
    WITH daily AS (
      SELECT o_orderdate AS day, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
           round(avg(revenue) OVER
             (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS ma_7d,
           CAST(count(*) OVER
             (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_days_in_window
    FROM daily
    """,
)
def orders_revenue_7d_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue — the reporting smoother.
    The corpus-sized work is one hash aggregate to the day grid; the
    moving window then runs over days only (global ordering is safe at
    day cardinality — same argument as the sweep-line backlog)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        F.round(F.avg("revenue").over(w), 4).alias("ma_7d"),
        F.count("*").over(w).cast("long").alias("n_days_in_window"),
    )


@register(
    "orders_size_histogram",
    """
    WITH sizes AS (
      SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           count(*) AS n_orders
    FROM sizes GROUP BY 1
    """,
)
def orders_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution (lines per order): two stacked hash
    aggregates — the degree histogram that feeds the basket-pair degree
    cap (orders_basket_pairs.BASKET_MAX_ITEMS should dominate this
    distribution's tail)."""
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return (
        sizes.groupBy(F.col("n_lines").cast("long").alias("n_lines"))
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "orders_priority_mix_shift",
    """
    WITH yearly AS (
      SELECT year(o_orderdate) AS anio, o_orderpriority AS prioridad,
             count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    shares AS (
      SELECT anio, prioridad, n,
             round(n / sum(n) OVER (PARTITION BY anio), 6) AS share
      FROM yearly
    )
    SELECT CAST(anio AS BIGINT) AS anio, prioridad,
           CAST(n AS BIGINT) AS n, share,
           round(share - lag(share) OVER
             (PARTITION BY prioridad ORDER BY anio), 6) AS share_shift
    FROM shares
    """,
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift report: each priority's share of orders per year and its
    delta vs the previous year — the composition-drift view behind every
    'why did the average move' question. All windows run on the
    (year x priority)-sized grid."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("anio"),
        F.col("o_orderpriority").alias("prioridad"),
    ).agg(F.count("*").alias("n"))
    w_year = Window.partitionBy("anio")
    shares = yearly.select(
        "anio",
        "prioridad",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_year), 6).alias("share"),
    )
    w_prio = Window.partitionBy("prioridad").orderBy("anio")
    return shares.select(
        "anio",
        "prioridad",
        "n",
        "share",
        F.round(F.col("share") - F.lag("share").over(w_prio), 6).alias(
            "share_shift"
        ),
    )


@register(
    "customer_rolling_ltv",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS fecha,
           round(sum(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING), 2) AS ltv_acumulado,
           CAST(row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT)
             AS n_pedido
    FROM orders
    """,
)
def customer_rolling_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lifetime value: cumulative revenue per customer over their
    order sequence, with the order ordinal — the LTV-curve feed. One
    per-customer window (partition-local sorts)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("fecha"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            2,
        ).alias("ltv_acumulado"),
        F.row_number().over(w).cast("long").alias("n_pedido"),
    )


@register(
    "part_price_spread",
    """
    SELECT l_partkey,
           count(*) AS n_ventas,
           round(sum(l_extendedprice), 2) AS precio_total,
           round(stddev_samp(l_extendedprice), 2) AS precio_desv,
           round(max(l_extendedprice) - min(l_extendedprice), 2) AS rango
    FROM lineitem
    GROUP BY 1 HAVING count(*) >= 5
    """,
)
def part_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-part price dispersion (total / sample stddev / range over
    sale lines, min 5 observations) — the pricing-consistency audit.
    stddev_samp partial-aggregates (sum, sum-of-squares, count), so this
    stays one map-combinable pass. The SUM is emitted rather than the
    mean: 2-decimal inputs summed in double are exact, while sum/n lands
    on .005 midpoints where the engines' rounding rules disagree (found
    by the oracle gate — consumers derive mean = total/n)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_ventas"),
            F.round(F.sum("l_extendedprice"), 2).alias("precio_total"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("precio_desv"),
            F.round(F.max("l_extendedprice") - F.min("l_extendedprice"), 2).alias(
                "rango"
            ),
        )
        .filter(F.col("n_ventas") >= 5)
    )


FILL_RATE_DAYS = 30


@register(
    "supplier_fill_rate",
    f"""
    SELECT l.l_suppkey,
           count(*) AS n_lineas,
           CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                              <= {FILL_RATE_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a_tiempo,
           round(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                               <= {FILL_RATE_DAYS} THEN 1 ELSE 0 END)
                 / count(*), 6) AS fill_rate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY 1
    """,
)
def supplier_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier service level: share of lines shipped within 30 days of the
    order — the vendor-scorecard metric. One join + one conditional
    aggregate; the datediff predicate rides the same pass as the counts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    on_time = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= FILL_RATE_DAYS, 1
    ).otherwise(0)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lineas"),
            F.sum(on_time).cast("long").alias("n_a_tiempo"),
            F.round(F.sum(on_time) / F.count("*"), 6).alias("fill_rate"),
        )
    )


@register(
    "region_trade_matrix",
    """
    SELECT rc.r_name AS region_cliente, rs.r_name AS region_proveedor,
           count(*) AS n_lineas,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS ingresos
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN region rc ON nc.n_regionkey = rc.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN region rs ON ns.n_regionkey = rs.r_regionkey
    GROUP BY 1, 2
    """,
)
def region_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-region trade flows (customer region × supplier region revenue
    matrix) — the TPC-H Q5/Q7 family shape: a 7-table snowflake join
    collapsing to |regions|² output. nation/region are fixed-size (25/5
    rows — broadcast-safe forever); customer/supplier join shuffled or
    broadcast at AQE's discretion; the aggregate is map-combinable to 25
    groups."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nc = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    rc = region.select(
        F.col("r_regionkey").alias("cr_key"), F.col("r_name").alias("region_cliente")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_regionkey").alias("sr_key")
    )
    rs = region.select(
        F.col("r_regionkey").alias("sr_key"), F.col("r_name").alias("region_proveedor")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nc), cust["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(rc), "cr_key")
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(ns), supp["s_nationkey"] == F.col("sn_key"))
        .join(F.broadcast(rs), "sr_key")
        .groupBy("region_cliente", "region_proveedor")
        .agg(
            F.count("*").alias("n_lineas"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("ingresos"),
        )
    )


@register(
    "orders_reorder_interval",
    """
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER
                         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_d
      FROM orders
    )
    SELECT o_custkey,
           count(gap_d) AS n_reordenes,
           round(avg(gap_d), 4) AS gap_medio_d,
           round(median(gap_d), 4) AS gap_mediano_d,
           CAST(max(gap_d) AS BIGINT) AS gap_max_d
    FROM gaps WHERE gap_d IS NOT NULL
    GROUP BY 1
    """,
)
def orders_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder cadence per customer (days between consecutive orders:
    mean/median/max) — the churn-model feature and the inter-arrival
    pattern (events_interarrival_stats) applied to commerce. One per-key
    lag window + one grouped aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    return (
        orders.select("o_custkey", gap.alias("gap_d"))
        .filter(F.col("gap_d").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count("gap_d").alias("n_reordenes"),
            F.round(F.avg("gap_d"), 4).alias("gap_medio_d"),
            F.round(F.median(F.col("gap_d").cast("double")), 4).alias(
                "gap_mediano_d"
            ),
            F.max("gap_d").cast("long").alias("gap_max_d"),
        )
    )


LIFT_MIN_SUPPORT = 10


@register(
    "part_type_affinity_lift",
    f"""
    WITH order_types AS (
      SELECT DISTINCT l.l_orderkey, p.p_type
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM order_types),
    type_freq AS (SELECT p_type, count(*) AS n FROM order_types GROUP BY 1),
    pair_freq AS (
      SELECT a.p_type AS type_a, b.p_type AS type_b, count(*) AS n_ab
      FROM order_types a JOIN order_types b
        ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
      GROUP BY 1, 2 HAVING count(*) >= {LIFT_MIN_SUPPORT}
    )
    SELECT pf.type_a, pf.type_b, pf.n_ab,
           round((pf.n_ab::DOUBLE * no.n) / (fa.n::DOUBLE * fb.n), 6) AS lift
    FROM pair_freq pf
    JOIN type_freq fa ON pf.type_a = fa.p_type
    JOIN type_freq fb ON pf.type_b = fb.p_type
    CROSS JOIN n_orders no
    """,
)
def part_type_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association LIFT between part types co-purchased in one order:
    P(A,B)/(P(A)·P(B)) with a support floor — the statistical layer above
    raw pair counts (orders_basket_pairs); lift > 1 = genuine affinity,
    < 1 = substitution. The self-join runs on the TYPE domain per order
    (|types| is a bounded vocabulary), and all probabilities derive from
    three hash aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    order_types = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_type")
        .distinct()
    )
    n_orders = order_types.agg(
        F.countDistinct("l_orderkey").alias("n_total")
    )
    type_freq = order_types.groupBy("p_type").agg(F.count("*").alias("n"))
    a = order_types.select("l_orderkey", F.col("p_type").alias("type_a"))
    b = order_types.select("l_orderkey", F.col("p_type").alias("type_b"))
    pair_freq = (
        a.join(b, "l_orderkey")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= LIFT_MIN_SUPPORT)
    )
    fa = type_freq.select(F.col("p_type").alias("type_a"), F.col("n").alias("na"))
    fb = type_freq.select(F.col("p_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pair_freq.join(fa, "type_a")
        .join(fb, "type_b")
        .join(n_orders)
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_total"))
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "part_qty_price_correlation",
    """
    SELECT p.p_type,
           count(*) AS n,
           round(corr(l.l_quantity, l.l_extendedprice), 6) AS qty_price_corr
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1 HAVING count(*) >= 30
    """,
)
def part_qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs line price per part type (min 30
    observations) — corr() is partial-aggregatable (co-moment sums), one
    map-combinable pass over the join output."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
        )
        .filter(F.col("n") >= 30)
    )


@register(
    "supplier_part_coverage",
    """
    WITH cat AS (SELECT count(*) AS n_parts FROM part)
    SELECT l_suppkey,
           count(DISTINCT l_partkey) AS n_parts_servidos,
           round(count(DISTINCT l_partkey) / cat.n_parts, 6) AS cobertura
    FROM lineitem CROSS JOIN cat
    GROUP BY l_suppkey, cat.n_parts
    """,
)
def supplier_part_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog coverage per supplier: distinct parts shipped and the share
    of the whole part catalog — the assortment-breadth metric. One
    distinct aggregate + a 1-row catalog size carried through the group
    keys."""
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = load_table(spark, sf_dir, "part").agg(
        F.count("*").alias("n_parts")
    )
    return (
        li.join(n_parts)
        .groupBy("l_suppkey", "n_parts")
        .agg(F.countDistinct("l_partkey").alias("n_parts_servidos"))
        .select(
            "l_suppkey",
            "n_parts_servidos",
            F.round(F.col("n_parts_servidos") / F.col("n_parts"), 6).alias(
                "cobertura"
            ),
        )
    )


@register(
    "nation_top_customer",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    )
    SELECT nacion, mejor_cliente, mejor_ingreso, n_clientes FROM (
      SELECT n_name AS nacion, c_name AS mejor_cliente,
             round(revenue, 2) AS mejor_ingreso,
             count(*) OVER (PARTITION BY n_name) AS n_clientes,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY revenue DESC, c_custkey) AS rk
      FROM rev
    ) WHERE rk = 1
    """,
)
def nation_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top customer by revenue via max_by/arg_max — the
    argmax-aggregate family (one pass; the window-rank formulation costs a
    per-key sort this avoids). Tie-break: lowest custkey wins, encoded in
    the comparator so both engines agree."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(orders, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return rev.groupBy(F.col("n_name").alias("nacion")).agg(
        F.max_by(
            "c_name", F.struct(F.col("revenue"), (-F.col("c_custkey")).alias("nk"))
        ).alias("mejor_cliente"),
        F.round(F.max("revenue"), 2).alias("mejor_ingreso"),
        F.count("*").alias("n_clientes"),
    )


@register(
    "part_size_price_bands",
    """
    SELECT p_size,
           count(*) AS n_parts,
           round(min(p_retailprice), 2) AS precio_min,
           round(avg(p_retailprice), 4) AS precio_medio,
           round(max(p_retailprice), 2) AS precio_max,
           round(avg(p_retailprice) - lag(round(avg(p_retailprice), 4))
                 OVER (ORDER BY p_size), 4) AS delta_vs_menor
    FROM part
    GROUP BY p_size
    """,
)
def part_size_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail price structure by part size with the step vs the next size
    down — aggregate-then-window on the |sizes|-cardinality grid (the
    window's lag argument reuses the rounded aggregate so both engines
    difference identical values)."""
    part = load_table(spark, sf_dir, "part")
    agg = part.groupBy("p_size").agg(
        F.count("*").alias("n_parts"),
        F.round(F.min("p_retailprice"), 2).alias("precio_min"),
        F.avg("p_retailprice").alias("__avg"),
        F.round(F.max("p_retailprice"), 2).alias("precio_max"),
    )
    w = Window.orderBy("p_size")
    return agg.select(
        "p_size",
        "n_parts",
        "precio_min",
        F.round("__avg", 4).alias("precio_medio"),
        "precio_max",
        F.round(
            F.col("__avg") - F.lag(F.round(F.col("__avg"), 4)).over(w), 4
        ).alias("delta_vs_menor"),
    )


@register(
    "customer_balance_activity",
    """
    WITH act AS (
      SELECT c.c_custkey, c.c_acctbal,
             count(o.o_orderkey) AS n_orders,
             round(coalesce(sum(o.o_totalprice), 0), 2) AS revenue
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    deciled AS (
      SELECT *, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS balance_decile
      FROM act
    )
    SELECT CAST(balance_decile AS BIGINT) AS balance_decile,
           count(*) AS n_customers,
           round(avg(c_acctbal), 4) AS avg_balance,
           round(avg(n_orders), 4) AS avg_orders,
           round(sum(revenue), 2) AS revenue
    FROM deciled GROUP BY 1
    """,
)
def customer_balance_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does account balance predict activity? Customers deciled by balance
    (tie-broken ntile on the customers-sized rollup) vs their order count
    and revenue — the segmentation cross-tab. LEFT join keeps zero-order
    customers (their absence would bias every decile)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    act = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "revenue"
            ),
        )
    )
    deciled = act.withColumn(
        "balance_decile",
        F.ntile(10).over(Window.orderBy("c_acctbal", "c_custkey")).cast("long"),
    )
    return deciled.groupBy("balance_decile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_balance"),
        F.round(F.avg("n_orders"), 4).alias("avg_orders"),
        F.round(F.sum("revenue"), 2).alias("revenue"),
    )


@register(
    "supplier_balance_health",
    """
    WITH stats AS (
      SELECT avg(s_acctbal) AS mu, stddev_samp(s_acctbal) AS sigma
      FROM supplier
    )
    SELECT s.s_suppkey, round(s.s_acctbal, 2) AS acctbal,
           round((s.s_acctbal - st.mu) / st.sigma, 4) AS balance_z,
           (s.s_acctbal < 0) AS en_deuda
    FROM supplier s CROSS JOIN stats st
    WHERE s.s_acctbal < 0 OR abs(s.s_acctbal - st.mu) > 2 * st.sigma
    """,
)
def supplier_balance_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier financial-health screen: negative balances plus 2-sigma
    outliers against the population — the vendor-risk shortlist. The
    population stats are one 1-row aggregate joined back (no second
    scan)."""
    supp = load_table(spark, sf_dir, "supplier")
    stats = supp.agg(
        F.avg("s_acctbal").alias("mu"), F.stddev_samp("s_acctbal").alias("sigma")
    )
    z = (F.col("s_acctbal") - F.col("mu")) / F.col("sigma")
    return (
        supp.join(stats)
        .filter(
            (F.col("s_acctbal") < 0)
            | (F.abs(F.col("s_acctbal") - F.col("mu")) > 2 * F.col("sigma"))
        )
        .select(
            "s_suppkey",
            F.round("s_acctbal", 2).alias("acctbal"),
            F.round(z, 4).alias("balance_z"),
            (F.col("s_acctbal") < 0).alias("en_deuda"),
        )
    )


@register(
    "region_revenue_share_trend",
    """
    WITH yearly AS (
      SELECT year(o.o_orderdate) AS anio, r.r_name AS region,
             sum(o.o_totalprice) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    , shares AS (
      SELECT anio, region, revenue,
             revenue / sum(revenue) OVER (PARTITION BY anio) AS share
      FROM yearly
    )
    SELECT CAST(anio AS BIGINT) AS anio, region,
           round(revenue, 2) AS revenue,
           round(share, 6) AS share,
           round(share - lag(share) OVER
             (PARTITION BY region ORDER BY anio), 6) AS share_shift
    FROM shares
    """,
)
def region_revenue_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional revenue share per year with the year-over-year shift — the
    geographic mix-drift view (orders_priority_mix_shift's pattern on the
    snowflake join). Windows run on the (year x region) grid."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    yearly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            F.year("o_orderdate").cast("long").alias("anio"),
            F.col("r_name").alias("region"),
        )
        .agg(F.sum("o_totalprice").alias("__rev"))
    )
    w_year = Window.partitionBy("anio")
    share = F.col("__rev") / F.sum("__rev").over(w_year)
    w_reg = Window.partitionBy("region").orderBy("anio")
    return yearly.select(
        "anio",
        "region",
        F.round("__rev", 2).alias("revenue"),
        F.round(share, 6).alias("share"),
        F.round(share - F.lag(share).over(w_reg), 6).alias("share_shift"),
    )


@register(
    "orders_weekday_seasonality",
    """
    SELECT CAST(isodow(o_orderdate) AS BIGINT) AS dia_iso,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           round(count(*) / (sum(count(*)) OVER () / 7.0), 6) AS indice
    FROM orders GROUP BY 1
    """,
)
def orders_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality index: order volume per ISO weekday against the
    uniform expectation (1.0 = no weekly pattern). One hash aggregate +
    windows over 7 rows."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy(
        F.dayofweek(F.date_sub("o_orderdate", 1)).cast("long").alias("dia_iso")
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.partitionBy()
    return agg.select(
        "dia_iso",
        "n_orders",
        "revenue",
        F.round(F.col("n_orders") / (F.sum("n_orders").over(w) / 7.0), 6).alias(
            "indice"
        ),
    )


@register(
    "lineitem_effective_tax",
    """
    SELECT year(l_shipdate) AS anio,
           round(sum(l_extendedprice * (1 - l_discount) * l_tax), 2)
             AS impuestos,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS base,
           round(sum(l_extendedprice * (1 - l_discount) * l_tax)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS tasa_efectiva
    FROM lineitem GROUP BY 1
    """,
)
def lineitem_effective_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective tax rate per ship year (tax collected over the discounted
    base) — one scan, one aggregate; the SRI domain's fiscal rollup
    expressed on the TPC-H columns."""
    li = load_table(spark, sf_dir, "lineitem")
    base = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    tax = base * F.col("l_tax")
    return li.groupBy(F.year("l_shipdate").alias("anio")).agg(
        F.round(F.sum(tax), 2).alias("impuestos"),
        F.round(F.sum(base), 2).alias("base"),
        F.round(F.sum(tax) / F.sum(base), 6).alias("tasa_efectiva"),
    )


@register(
    "orders_monthly_anomalies",
    """
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mes,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ),
    stats AS (
      SELECT avg(revenue) AS mu, stddev_samp(revenue) AS sigma FROM monthly
    )
    SELECT strftime(m.mes, '%Y-%m') AS mes, m.revenue,
           round((m.revenue - s.mu) / s.sigma, 4) AS z,
           (abs(m.revenue - s.mu) > 2 * s.sigma) AS anomalo
    FROM monthly m CROSS JOIN stats s
    """,
)
def orders_monthly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue z-scores with 2-sigma anomaly flags — the business
    series health check. Corpus work is one aggregate to the month grid;
    the stats are a 1-row cross join back (no second scan)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mes")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    stats = monthly.agg(
        F.avg("revenue").alias("mu"), F.stddev_samp("revenue").alias("sigma")
    )
    z = (F.col("revenue") - F.col("mu")) / F.col("sigma")
    return monthly.join(stats).select(
        F.date_format("mes", "yyyy-MM").alias("mes"),
        "revenue",
        F.round(z, 4).alias("z"),
        (F.abs(F.col("revenue") - F.col("mu")) > 2 * F.col("sigma")).alias(
            "anomalo"
        ),
    )


@register(
    "expr_ansi_try_family",
    """
    WITH t AS (
      SELECT c_custkey, c_name,
             TRY_CAST(c_name AS INTEGER) AS whole_cast,
             TRY_CAST(string_split(c_name, '#')[2] AS BIGINT) AS parsed_id,
             1.0 / nullif(c_custkey % 7, 0) AS div7,
             try_strptime(c_name, '%Y-%m-%d') AS bad_ts,
             string_split(c_name, '#')[10] AS oob
      FROM customer
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN whole_cast IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS whole_cast_nulls,
           CAST(sum(parsed_id) AS BIGINT) AS parsed_id_sum,
           CAST(sum(CASE WHEN div7 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS div_by_zero_nulls,
           CAST(sum(CASE WHEN bad_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS ts_parse_nulls,
           CAST(sum(CASE WHEN oob IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oob_nulls
    FROM t
    """,
)
def expr_ansi_try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI-mode survival kit: under Spark 4's default ANSI semantics a
    bare cast/divide/element_at on malformed data THROWS mid-job, so every
    ingest path over dirty input uses the try_* family — try_cast (null on
    parse failure, exercised both failing and succeeding), try_divide
    (null on /0), try_to_timestamp, try_element_at (null out of bounds).
    The oracle reproduces each null count with DuckDB's TRY_CAST /
    try_strptime / NULL-on-zero division, so the null semantics themselves
    are value-checked cross-engine. parsed_id_sum doubles as a data
    contract: the id embedded in c_name must sum to the custkey domain."""
    cust = load_table(spark, sf_dir, "customer")
    parts = F.split(F.col("c_name"), "#")
    t = cust.select(
        F.col("c_name").try_cast("int").alias("whole_cast"),
        F.try_element_at(parts, F.lit(2)).try_cast("long").alias("parsed_id"),
        F.try_divide(F.lit(1.0), F.col("c_custkey") % 7).alias("div7"),
        F.try_to_timestamp(F.col("c_name"), F.lit("yyyy-MM-dd")).alias("bad_ts"),
        F.try_element_at(parts, F.lit(10)).alias("oob"),
    )
    null_cnt = lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long")  # noqa: E731
    return t.agg(
        F.count("*").alias("n_rows"),
        null_cnt("whole_cast").alias("whole_cast_nulls"),
        F.sum("parsed_id").cast("long").alias("parsed_id_sum"),
        null_cnt("div7").alias("div_by_zero_nulls"),
        null_cnt("bad_ts").alias("ts_parse_nulls"),
        null_cnt("oob").alias("oob_nulls"),
    )
