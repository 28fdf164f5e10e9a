"""Connected components over pair edges — turns pairwise near-dup output
(MinHash/Jaccard/SimHash, embedding LSH) into duplicate CLUSTERS, the form
a curation pipeline actually consumes (keep one doc per cluster), and
serves as the catalog's general graph-components primitive.

One engine: alternating large-star/small-star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). A round is two
grouped min-aggregations plus joins on node id — hash shuffles only, no
driver-side graph, no collect of data rows. Every round is materialized by
an eager localCheckpoint that also cuts the lineage, so the plan stays the
same size however many rounds run, and the fixpoint check rides that
checkpoint's job as an `observe()` metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds before the engine gives up and raises; a length-L chain converges
# in ~log L rounds, so 25 leaves wide slack for any real pair graph
_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """(node, component) for every node on a non-self-loop edge of
    `edges`; component = min node id in the connected component. Edges are
    undirected, duplicates are harmless and self-loops are dropped.

    Alternating large-star/small-star rounds converge in O(log^2 n) rounds
    even on adversarial high-diameter graphs (a length-L chain needs
    ~log L rounds, where min-label propagation needs L):

    - large-star: every node links its LARGER neighbours to the minimum of
      its closed neighbourhood (keeps the graph connected, strictly reduces
      large-id fan-in);
    - small-star: links its smaller-or-equal neighbours (and itself) to that
      minimum, collapsing chains toward component minima.

    Fixpoint = all edges (v, root); detected by an aggregate signature
    (count + xor-fold of edge hashes), not an edge-set collect. The
    signature is an `observe()` metric collected DURING each round's
    checkpoint materialization, so a round costs exactly one job. Raises
    RuntimeError after `_MAX_ROUNDS` rounds without convergence — explicit
    failure beats silently-wrong clusters."""
    def _both_dirs(df: DataFrame) -> DataFrame:
        # (u,v) + (v,u) in ONE narrow pass — a union would plant two
        # copies of the upstream subtree (for the INITIAL edge set that
        # subtree is the whole LSH candidate pipeline) into the same
        # checkpoint job; the explode reads it once (r13 optimization)
        return df.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("__e")
        ).select("__e.u", "__e.v")

    def _checkpoint_with_signature(df: DataFrame):
        # materialize the round AND collect its fixpoint signature (count
        # + xor-fold of per-edge hashes: order-insensitive, overflow-free
        # where a sum would hit ANSI long overflow) in ONE job: observe()
        # rides the localCheckpoint's materialization pass, so the
        # signature costs zero extra jobs — r13 measured the fixpoint on
        # a tiny near-dup pair graph as almost pure driver-paced job
        # floor, and the per-round signature aggregate was half of it
        # (r14, round-13 verdict item 5)
        from pyspark.sql import Observation

        obs = Observation()
        ck = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).localCheckpoint()
        m = obs.get
        return ck, (m["n"], m["h"])

    # canonical directed edge set (both directions), no self-loops
    e, sig = _checkpoint_with_signature(
        _both_dirs(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
                F.col("u") != F.col("v")
            )
        ).distinct()
    )
    # nodes derives lazily from the CHECKPOINTED initial edge set — it is
    # read exactly once (the final component join), so an eager
    # persist+count here would only add a driver-paced job (r13)
    nodes = e.select(F.col("u").alias("node")).distinct()

    def _sym(df: DataFrame) -> DataFrame:
        return (
            _both_dirs(df)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _closed_min(df: DataFrame) -> DataFrame:
        # m(u) = min over {u} ∪ neighbours(u)
        return df.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    # each round references the edge set several times and _sym doubles the
    # subtree — without lineage truncation the logical plan grows
    # exponentially with rounds. localCheckpoint (eager) materializes the
    # round AND cuts the lineage; at cluster scale prefer reliable
    # checkpoint(dir) so executor loss can't drop a round.
    for _ in range(_MAX_ROUNDS):
        # large-star: (v, m(u)) for v > u
        lmins = _closed_min(e)
        large = _sym(
            e.filter(F.col("v") > F.col("u"))
            .join(lmins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # large is referenced twice below (smins + small_nbrs) but is NOT
        # checkpointed: its subtree reads the checkpointed `e`, so the
        # lineage stays bounded, and ReuseExchange dedupes the shared
        # distinct-exchange between the two consumers — one checkpoint
        # job per round instead of two (r13: the fixpoint on a tiny
        # near-dup pair graph was pure driver-paced job floor)
        # small-star over the large-star output: (v, m(u)) for v <= u, plus
        # (u, m(u)) — links the small side and the centre to the minimum
        smins = _closed_min(large)
        small_nbrs = (
            large.filter(F.col("v") <= F.col("u"))
            .join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        small_self = smins.select(F.col("u"), F.col("m").alias("v"))
        e, new_sig = _checkpoint_with_signature(
            _sym(small_nbrs.union(small_self))
        )
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {_MAX_ROUNDS} rounds"
        )

    # at the fixpoint every edge points node -> component root; roots map to
    # themselves (min over attached component ids handles the final stars)
    comp = (
        nodes.join(e, nodes["node"] == e["u"], "left")
        .groupBy("node")
        .agg(F.least(F.min("v"), F.first("node")).alias("component"))
    )
    # nodes reads the initial checkpoint lazily (nothing persisted to
    # release); e is a localCheckpoint — its blocks free on GC, never
    # unpersist it (a checkpointed frame has no lineage to recompute from)
    return comp
