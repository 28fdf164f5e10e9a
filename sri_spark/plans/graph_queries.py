"""Graph catalog queries: PageRank over the customer-supplier trade graph
(nodes = customers + suppliers, an undirected edge per distinct pair that
traded through an order). The oracle unrolls the same power iterations as
CTE rounds, so an iterative algorithm gets a full value-level SQL check —
same approach as dedup_duplicate_clusters' recursive-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sri_spark.graph.pagerank import DAMPING, pagerank
from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table

PR_ITERS = 3


def _pagerank_oracle(iters: int = PR_ITERS, d: float = DAMPING) -> str:
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""r{i} AS (
      SELECT n.id,
             {(1.0 - d)!r}::DOUBLE / nn.n
               + {d!r}::DOUBLE * coalesce(sum(r{i - 1}.rank / deg.deg), 0) AS rank
      FROM nodes n CROSS JOIN nn
      LEFT JOIN arcs b ON b.dst = n.id
      LEFT JOIN r{i - 1} ON r{i - 1}.id = b.src
      LEFT JOIN deg ON deg.src = b.src
      GROUP BY n.id, nn.n
    )"""
        )
    joined_rounds = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o_custkey AS c_id, 's' || l_suppkey AS s_id
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    arcs AS (
      SELECT c_id AS src, s_id AS dst FROM pairs
      UNION ALL
      SELECT s_id AS src, c_id AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM arcs),
    deg AS (SELECT src, count(*) AS deg FROM arcs GROUP BY src),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT id, 1.0::DOUBLE / nn.n AS rank FROM nodes CROSS JOIN nn),
    {joined_rounds}
    SELECT id, round(rank, 9) AS rank FROM r{iters}
    """


@register("graph_pagerank_trade", _pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round PageRank over the customer-supplier trade graph. Emits EVERY
    node's rank (node count = |customers| + |suppliers|, dimension-sized)
    rather than a top-k — a rank cut on near-equal float scores would make
    the boundary engine-dependent. Shape: the edge set and degrees
    materialize once; each round is one (node, contribution) shuffle.

    Node ids are LONGS through every iteration (customer 2k, supplier
    2k+1) and become the oracle's 'c{k}'/'s{k}' strings only in the final
    projection: 9 shuffles move 8-byte keys instead of variable-length
    strings — the same shuffle-payload discipline as
    dedup/shingles.shingle_hashes_df (measured ~25% off the query's wall
    time at sf0.1)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c_id"),
            (F.col("l_suppkey") * 2 + 1).alias("s_id"),
        )
        .distinct()
    )
    both = pairs.select(
        F.col("c_id").alias("src"), F.col("s_id").alias("dst")
    ).union(pairs.select(F.col("s_id").alias("src"), F.col("c_id").alias("dst")))
    # broadcast_ranks: the ranks frame is NODE-sized (16 bytes/node —
    # ~26 MiB even at the replay's 1.6M-node 100x point), so each round's
    # arcs⋈ranks join broadcasts instead of sort-merging the arc table:
    # the r13 spill attribution (docs/GRAPH_SPILL_ATTRIB_r13.json)
    # measured the SMJ variant at 10.1 GiB memory spill / +17% wall at
    # matched load. Billion-node graphs flip this off (pagerank docstring
    # has the node-count rule); the bench replay keeps the default SMJ
    # path so the decade band models that regime.
    ranks = pagerank(both, iterations=PR_ITERS, broadcast_ranks=True)
    return ranks.select(
        F.when(
            F.col("id") % 2 == 0, F.concat(F.lit("c"), F.expr("id div 2"))
        )
        .otherwise(F.concat(F.lit("s"), F.expr("(id - 1) div 2")))
        .alias("id"),
        F.round("rank", 9).alias("rank"),
    )


# ---------------------------------------------------------------------------
# Sparse nation-trade graph: top-N strongest edges, then classic graph ops

TOP_EDGES = 30

_EDGE_CTE = f"""
ew AS (
  SELECT least(s.s_nationkey, c.c_nationkey) AS a,
         greatest(s.s_nationkey, c.c_nationkey) AS b,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  WHERE s.s_nationkey != c.c_nationkey
    AND ns.n_regionkey = nc.n_regionkey
  GROUP BY 1, 2
),
e AS (
  SELECT a, b FROM ew ORDER BY w DESC, a, b LIMIT {TOP_EDGES}
)"""


def _top_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (a < b) INTRA-REGION nation-nation edges ranked by trade
    volume, top 30. Two design choices keep the graph interesting at every
    scale factor: rank thresholding (an absolute count threshold would
    drift with SF; the cross-SF-stable signal is relative edge strength),
    and the same-region restriction (the unrestricted trade graph is
    complete — every nation pair trades — making components and triangles
    degenerate; intra-region trade yields one cluster per region with
    real variation in which edges clear the cut)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    ns = nat.select(
        F.col("n_nationkey").alias("__sn"), F.col("n_regionkey").alias("__sr")
    )
    nc = nat.select(
        F.col("n_nationkey").alias("__cn"), F.col("n_regionkey").alias("__cr")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(ns, F.col("s_nationkey") == F.col("__sn"))
        .join(nc, F.col("c_nationkey") == F.col("__cn"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .filter(F.col("__sr") == F.col("__cr"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .orderBy(F.desc("w"), "a", "b")
        .limit(TOP_EDGES)
        .select("a", "b")
    )


@register(
    "graph_triangle_count",
    f"""
    WITH {_EDGE_CTE}
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the top-30-edge trade graph, edge list run once.

    Each triangle a < b < c counts once (`_count_triangles`). The edge
    list is dimension-sized (nations); the heavy work is the upstream
    trade rollup, the same star join the metrics queries exercise, and
    the plan references it once."""
    return _count_triangles(_top_trade_edges(spark, sf_dir))


def _count_triangles(edges: DataFrame) -> DataFrame:
    """(n_edges, n_triangles) of an oriented, distinct (a, b) edge list, as
    one row from one reference to `edges`: collect_list packs the edges
    into one array E, and n_triangles counts the pairs x, y in E with
    y.a = x.b for which (x.a, y.b) is in E too. The comparisons grow with
    |E|^3, so this is for an edge list a LIMIT bounds (TOP_EDGES = 30:
    at most 27k)."""
    e = F.col("E")

    def closes(x: Column) -> Column:
        return F.size(
            F.filter(
                e,
                lambda y: (y["a"] == x["b"])
                & F.exists(e, lambda z: (z["a"] == x["a"]) & (z["b"] == y["b"])),
            )
        )

    return edges.agg(F.collect_list(F.struct("a", "b")).alias("E")).select(
        F.size(e).cast("long").alias("n_edges"),
        F.aggregate(e, F.lit(0).cast("long"), lambda acc, x: acc + closes(x))
        .alias("n_triangles"),
    )


@register(
    "graph_components_trade",
    f"""
    WITH RECURSIVE {_EDGE_CTE},
    und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    nodes AS (SELECT DISTINCT a AS n FROM und),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
    ),
    comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n)
    SELECT CAST(component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM comp GROUP BY component
    """,
)
def graph_components_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the sparse trade graph — the
    large-star/small-star operator (dedup/components.py) applied outside
    dedup, proving it is a general graph primitive. The oracle computes
    the same components with a recursive-CTE reachability closure and
    min-label per node (closure is O(n * edges) — fine for a
    dimension-sized graph, exactly what the star-contraction algorithm
    avoids at corpus scale). Emits (component = min nation id, size)."""
    from sri_spark.dedup.components import connected_components

    e = _top_trade_edges(spark, sf_dir)
    comp = connected_components(e, src="a", dst="b")
    return (
        comp.groupBy(F.col("component").cast("long").alias("component"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# fixed-round k-core peel over the full customer-supplier trade graph (r12)

KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    peels = []
    for i in range(1, rounds + 1):
        peels.append(
            f"""k{i} AS (
      SELECT src FROM a{i - 1} GROUP BY src HAVING count(*) >= {k}
    ),
    a{i} AS (
      SELECT a.src, a.dst FROM a{i - 1} a
      JOIN k{i} x ON a.src = x.src
      JOIN k{i} y ON a.dst = y.src
    )"""
        )
    joined = ",\n    ".join(peels)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o_custkey AS c_id, 's' || l_suppkey AS s_id
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    a0 AS (
      SELECT c_id AS src, s_id AS dst FROM pairs
      UNION ALL
      SELECT s_id AS src, c_id AS dst FROM pairs
    ),
    {joined}
    SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
    FROM a{rounds} GROUP BY src
    """


@register("graph_kcore_peel", _kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peel (k=2, KCORE_ROUNDS/KCORE_K) of the
    customer-supplier trade graph — the graph-cleaning primitive next to
    PageRank in a feature stack: low-core nodes (one-off buyers, spam
    accounts, boilerplate pages in a link graph) die in the first peel.
    Emits every surviving node with its within-subgraph degree; the
    DuckDB oracle runs the identical unrolled peels (graph/kcore.py
    documents the fixed-unroll contract and the straggler semantics).

    Node ids are LONGS through every round (customer 2k, supplier 2k+1 —
    the pagerank trick) and stringify only in the final projection, so
    each round's degree shuffle moves 8-byte keys. The keep sets are
    node-sized and AQE broadcast-joins them: the arc-sized frame is
    never reshuffled."""
    from sri_spark.graph.kcore import kcore_peel

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c_id"),
            (F.col("l_suppkey") * 2 + 1).alias("s_id"),
        )
        .distinct()
    )
    both = pairs.select(
        F.col("c_id").alias("src"), F.col("s_id").alias("dst")
    ).union(pairs.select(F.col("s_id").alias("src"), F.col("c_id").alias("dst")))
    # broadcast_keep: node-sized keep sets (8 bytes/node) broadcast to the
    # arc-sized side — same scale rule as pagerank's broadcast_ranks
    out = kcore_peel(both, k=KCORE_K, rounds=KCORE_ROUNDS, broadcast_keep=True)
    return out.select(
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("c"), F.expr("id div 2")))
        .otherwise(F.concat(F.lit("s"), F.expr("(id - 1) div 2")))
        .alias("id"),
        F.col("deg").cast("long").alias("deg"),
    )


# ---------------------------------------------------------------------------
# fixed-iteration HITS (hubs & authorities) on the bipartite trade graph

HITS_ITERS = 3


def _hits_oracle(iters: int = HITS_ITERS) -> str:
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""a{i} AS (
      SELECT p.s, sum(h.hub) AS auth
      FROM pairs p JOIN h{i - 1} h ON p.c = h.c GROUP BY p.s
    ),
    h{i} AS (
      SELECT p.c, sum(a.auth) AS hub
      FROM pairs p JOIN a{i} a ON p.s = a.s GROUP BY p.c
    )"""
        )
    joined = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS hub FROM pairs),
    {joined}
    SELECT 'c' || c AS id, 'hub' AS role, CAST(hub AS BIGINT) AS score
    FROM h{iters}
    UNION ALL
    SELECT 's' || s AS id, 'authority' AS role, CAST(auth AS BIGINT) AS score
    FROM a{iters}
    """


@register("graph_hits_trade", _hits_oracle())
def graph_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round HITS (HITS_ITERS) over the bipartite customer-supplier trade
    graph: customers are hubs (they aggregate strong suppliers), suppliers
    are authorities. Runs UNNORMALIZED by design — from hub=1 every score
    is an alternating-path COUNT, an exact integer in a double, so the
    oracle matches with no rounding channel and zero summation-order
    flake risk, and the lazy plan stays linear in rounds (a normalizing
    round references its raw aggregate twice, doubling the plan tree per
    iteration — graph/hits.py documents both choices). Normalization only
    rescales; the ranking is identical.

    Shape: the distinct edge list persists once; each half-round is one
    arcs x node-scores join (AQE broadcasts the node side) plus one
    (node, double) hash aggregate with map-side partials."""
    from sri_spark.graph.hits import hits_bipartite

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    # broadcast_scores: node-sized score frames (16 bytes/node) broadcast
    # to the edge-sized side — same scale rule as pagerank's broadcast_ranks
    hubs, auth = hits_bipartite(
        pairs, iterations=HITS_ITERS, broadcast_scores=True
    )
    h = hubs.select(
        F.concat(F.lit("c"), F.col("id")).alias("id"),
        F.lit("hub").alias("role"),
        F.col("hub").cast("long").alias("score"),
    )
    a = auth.select(
        F.concat(F.lit("s"), F.col("id")).alias("id"),
        F.lit("authority").alias("role"),
        F.col("auth").cast("long").alias("score"),
    )
    return h.unionByName(a)


# ---------------------------------------------------------------------------
# degree assortativity of the trade graph (r12)

_ASSORT_ORACLE = """
    WITH pairs AS (
      SELECT DISTINCT 'c' || o_custkey AS c_id, 's' || l_suppkey AS s_id
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    arcs AS (
      SELECT c_id AS src, s_id AS dst FROM pairs
      UNION ALL
      SELECT s_id AS src, c_id AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) * 1.0 AS d FROM arcs GROUP BY src),
    j AS (
      SELECT ds.d AS dsrc, dd.d AS ddst
      FROM arcs a
      JOIN deg ds ON a.src = ds.src
      JOIN deg dd ON a.dst = dd.src
    )
    SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
           count(*)::BIGINT AS n_arcs,
           round(corr(dsrc, ddst), 6) AS assortativity
    FROM j
    """


@register("graph_degree_assortativity", _ASSORT_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-degree Pearson assortativity of the customer-supplier trade
    graph: the correlation of endpoint degrees across every directed arc
    (both directions included, the standard symmetric treatment). The
    single scalar that says whether hubs attach to hubs (assortative,
    social-network-like) or to leaves (disassortative, the typical
    bipartite commerce signature) — a structural health probe next to
    PageRank/k-core in a graph feature stack.

    Shape: one degree aggregate (map-side partials, 8-byte keys), two
    equi-joins of the arc list against the NODE-sized degree frame (AQE
    broadcasts it — the arcs are never reshuffled), one corr() scalar
    aggregate (algebraic, map-side partials). At 100 TB this is two
    scans' worth of work with kilobyte shuffles. corr() is the same
    sample-Pearson both engines share (the stats_autocorr convention);
    an empty or single-degree-value graph yields NULL, never an error."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c_id"),
            (F.col("l_suppkey") * 2 + 1).alias("s_id"),
        )
        .distinct()
    )
    from sri_spark.operators.caching import scoped_persist

    # the arc list feeds TWO data-sized legs (the degree aggregate and the
    # endpoint join) and the degree frame feeds THREE (both endpoint sides
    # plus n_nodes) — persist each so the orders⋈lineitem distinct and the
    # degree shuffle run once per execution instead of per leg; the degree
    # frame is NODE-sized, so both endpoint joins broadcast it (the
    # pagerank broadcast_ranks scale rule) and the arcs never reshuffle
    arcs = scoped_persist(
        pairs.select(F.col("c_id").alias("src"), F.col("s_id").alias("dst")).union(
            pairs.select(F.col("s_id").alias("src"), F.col("c_id").alias("dst"))
        )
    )
    deg = scoped_persist(
        arcs.groupBy("src").agg(F.count("*").cast("double").alias("d"))
    )
    ds = deg.select(F.col("src").alias("__s"), F.col("d").alias("dsrc"))
    dd = deg.select(F.col("src").alias("__d"), F.col("d").alias("ddst"))
    j = (
        arcs.join(F.broadcast(ds), arcs["src"] == ds["__s"])
        .join(F.broadcast(dd), arcs["dst"] == dd["__d"])
        .select("dsrc", "ddst")
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    stats = j.agg(
        F.count("*").cast("long").alias("n_arcs"),
        F.round(F.corr("dsrc", "ddst"), 6).alias("assortativity"),
    )
    return n_nodes.crossJoin(stats)
