"""Round-7 verdict item 2: no catalog query builder issues a driver-side
action before returning its DataFrame.

A `queries()` entry should CONSTRUCT a lazy plan. A `.count()` inside a
builder forces an extra job and an extra source scan per scalar, and bakes
a driver round-trip into what should be one submitted plan — metadata
scalars (corpus size, edge count, dim rows) belong in the plan as 1-row
aggregates crossJoined into the result (graph/pagerank.py:65-67 is the
canonical shape; round 7 converted text_extra/graph/sketch/parity sites).

This sweep instruments every eager DataFrame entry point
(advisor.record_driver_actions) and builds ALL registered catalog queries.
Any action recorded outside the documented allowlist fails — a new query
with a stray .count() breaks here on the day it is added.

The recorder counts `localCheckpoint()` and `checkpoint()` too: they run
jobs at the call, inside the builder (with eager=False as well, once the
plan has a shuffle: AQE executes its stages to fix the final plan).

The allowlist is the set of genuinely iterative / trained builders, where
an action IS the algorithm (not a metadata shortcut):

- the large-star/small-star connected-components fixpoint
  (dedup/components.py): each round is materialized by an eager
  localCheckpoint (which also cuts the lineage) and its convergence
  signature (count + bit_xor) rides that job via observe() — the loop
  cannot be expressed lazily (data-dependent round count);
- KMeans/PQ index training: spark.ml fit + sample-collected codebooks
  (bounded by k and sample size, not corpus);
- query-vector fetch: a .first() on a 1-row filtered frame (the serving
  pattern — the query point must reach the driver to broadcast);
- two-phase prefix-sum packing: phase one collects ONE row per partition
  (parallelism-sized, not data-sized) to seed phase two's offsets.

Every row must still earn its place: an allowlisted builder that records
no action is stale and fails, so the list shrinks as builders go lazy.
"""

from __future__ import annotations



from sri_spark.plans import all_queries

SF_DIR = "/root/testdata/sf0.001"

# builder -> why an action during construction is the algorithm, not a leak
ITERATIVE_OK = {
    "corpus_pack_sequences": "two-phase packing: phase-1 per-partition offsets (one row per partition)",
    "dedup_cluster_keep_best": "large-star/small-star components over MinHash-LSH pairs: one eager localCheckpoint per round, fixpoint signature via observe()",
    "dedup_cluster_size_histogram": "large-star/small-star components over MinHash-LSH pairs: one eager localCheckpoint per round, fixpoint signature via observe()",
    "dedup_corpus_end_to_end": "composed pipeline: its large-star/small-star components run one eager localCheckpoint per round",
    "dedup_duplicate_clusters": "large-star/small-star components over MinHash-LSH pairs: one eager localCheckpoint per round, fixpoint signature via observe()",
    "dedup_semantic_clusters": "large-star/small-star components over embedding LSH near-pairs: one eager localCheckpoint per round, fixpoint signature via observe()",
    "graph_components_trade": "large-star/small-star components of the dimension-sized trade graph: one eager localCheckpoint per round",
    "similarity_ann_margin_multiprobe_topk": "1-row query projections/bucket fetch: probe enumeration is index metadata, like IVF centroids",
    "similarity_ann_multiprobe_topk": "1-row query-vector fetch for broadcast",
    "similarity_ivf_pq_pipeline": "KMeans fit + sample-trained PQ codebooks + query fetch",
    "similarity_ivf_topk": "KMeans coarse-quantizer training",
    "similarity_pq_topk": "sample-trained PQ codebooks + query fetch",
}


def test_catalog_builders_are_action_free(catalog_builds):
    """Every catalog query built under the action recorder (once, via the
    shared catalog_builds fixture); outside the allowlist, zero driver
    actions are tolerated — and a build that crashes is an offender too,
    never a silent skip."""
    offenders: dict[str, list[str]] = {}
    for name, rec in catalog_builds.items():
        if rec["error"]:
            offenders[name] = [f"build failed: {rec['error']}"]
            continue
        if rec["actions"] and name not in ITERATIVE_OK:
            offenders[name] = rec["actions"]
    assert not offenders, (
        "catalog builders issued driver-side actions during plan "
        f"construction: {offenders} — move scalars into the plan as 1-row "
        "aggregate crossJoins (graph/pagerank.py pattern) or document the "
        "builder in ITERATIVE_OK with its justification"
    )


def test_allowlist_entries_still_exist(catalog_builds):
    """A renamed/removed query must not leave a stale allowlist row, and
    neither may a builder that no longer issues any action."""
    registered = set(all_queries())
    stale = sorted(set(ITERATIVE_OK) - registered)
    assert not stale, f"ITERATIVE_OK names not in the registry: {stale}"
    idle = sorted(
        name
        for name in ITERATIVE_OK
        if not catalog_builds[name]["actions"]
        and not catalog_builds[name]["error"]
    )
    assert not idle, f"ITERATIVE_OK builders that record no action: {idle}"


def test_recorder_counts_checkpoints(spark):
    from pyspark.sql import functions as F

    from sri_spark.plans.advisor import record_driver_actions

    grouped = spark.range(30).groupBy((F.col("id") % 3).alias("k")).count()
    with record_driver_actions() as calls:
        grouped.localCheckpoint()
        grouped.localCheckpoint(eager=False)
    assert calls == ["localCheckpoint", "localCheckpoint"]
