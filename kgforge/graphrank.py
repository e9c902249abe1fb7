"""PageRank over the canonicalized entity graph.

The reference has no graph analytics (SURVEY §1.3) — this is an engine
addition in the same family as stage 5's connected components: an
ITERATIVE DataFrame algorithm with explicit lineage hygiene. Rank over the
(subj_id -> obj_id) triple graph surfaces hub entities (what a KG curator
reads first) and is the standard graph-quality signal a corpus-scale KG
pipeline reports.

Variant: sink nodes get a SELF-LOOP instead of the dangling-mass
redistribution term — a published PageRank variant (sinks retain rank
through the damping walk) chosen here because it removes the global
dangling-mass scalar, whose float summation order is the one part of the
classic formulation that cannot be made deterministic without a
single-row collect.

Determinism: each node's incoming contributions are collected, sorted by
source id, and folded in that fixed order (``aggregate`` over
``array_sort``), so the result is bit-identical across partition counts
and runs — the property the golden-digest gate requires. The row holding
a node's contributions is bounded by in-degree, and in-degree on entity
graphs is power-law, so the sorted fold is CAPPED: nodes whose in-degree
exceeds ``DET_FOLD_CAP`` (hubs — the rows that would be hot) fall back to
a plain ``sum`` within the SAME single aggregation pass (their
``collect_list`` input is nulled out, so no giant row is ever built; sums
partial-combine map-side) whose result differs only in float last-bits —
the same trade every production PageRank makes. Below the cap —
everything, on non-adversarial graphs — the fold is bit-stable.

Iteration hygiene mirrors kgforge.canon: the tiny per-node rank frame is
``localCheckpoint``ed each round (a K-round loop would otherwise build a
K-deep join plan) and the retired round's blocks are freed eagerly via
canon's ``_release_local_checkpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .canon import _release_local_checkpoint

DAMPING = 0.85

# fixed rounds: at corpus scale a fixed small K is the norm (a convergence
# test costs a full pass each). Read per call.
ITERS = 10

# in-degree above which the deterministic sorted-fold falls back to a plain
# sum for that node: a hub's contribution row would otherwise grow with its
# in-degree (power-law on entity graphs — unbounded at 100x scale). Read
# per call.
DET_FOLD_CAP = 1024


def pagerank(edges: DataFrame) -> DataFrame:
    """Iterate PageRank over a directed edge list (``src``, ``dst``) for
    ``ITERS`` rounds with damping ``DAMPING``.

    Returns (node, rank). Edges are deduplicated; sinks get self-loops
    (see module docstring)."""
    # Materialization boundaries matter: edges may carry an ARBITRARILY
    # expensive lineage (kg_pagerank feeds the full pipeline's triples in),
    # and the loop runs one job per round — so the deduped edge set is
    # persisted and the node set localCheckpointed (lineage CUT) before the
    # first round, or every round would recompute the upstream plan.
    e0 = (edges.select(F.col("src").cast("string").alias("src"),
                       F.col("dst").cast("string").alias("dst"))
          .distinct().persist())
    nodes = (e0.select(F.col("src").alias("node"))
             .union(e0.select(F.col("dst").alias("node"))).distinct()
             .localCheckpoint(eager=True))   # also materializes e0
    sinks = nodes.join(e0.select(F.col("src").alias("node")).distinct(),
                       "node", "left_anti")
    full = e0.union(sinks.select(F.col("node").alias("src"),
                                 F.col("node").alias("dst")))
    deg = full.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # hub flag rides on the persisted edge frame: in-degree is static
    # across rounds, so the cap decision costs one tiny join HERE and
    # nothing per iteration. The hub frame holds only nodes OVER the cap
    # (empty on non-adversarial graphs) and broadcasts.
    hubs = (full.groupBy("dst").agg(F.count(F.lit(1)).alias("in_deg"))
            .where(F.col("in_deg") > DET_FOLD_CAP)
            .select("dst", F.lit(True).alias("is_hot")))
    e = (full.join(deg, "src")
         .join(F.broadcast(hubs), "dst", "left")
         .withColumn("is_hot", F.coalesce("is_hot", F.lit(False)))
         .persist())
    n_nodes = nodes.count()          # bounded: one long per task partial
    if n_nodes == 0:
        e.unpersist()
        e0.unpersist()
        # nodes' zero-row checkpoint is not released: the returned frame
        # still reads through it (released frames are dead)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    ranks = (nodes.select("node", (F.lit(1.0) / n_nodes).alias("rank"))
             .localCheckpoint(eager=True))
    base = (1.0 - DAMPING) / n_nodes
    for _ in range(ITERS):
        contribs = (e.join(ranks, e["src"] == ranks["node"])
                    .select("dst", "src", "is_hot",
                            (F.col("rank") / F.col("out_deg"))
                            .alias("contrib")))
        # ONE aggregation pass computes both variants per group:
        # collect_list skips nulls, so a hub group (is_hot on every row of
        # the group) collects an EMPTY list — the giant sorted row is never
        # built — and takes the map-side-combined sum instead; sub-cap
        # groups fold in source order (bit-stable).
        summed = (contribs.groupBy("dst")
                  .agg(F.aggregate(
                      F.array_sort(F.collect_list(
                          F.when(~F.col("is_hot"),
                                 F.struct("src", "contrib")))),
                      F.lit(0.0),
                      lambda acc, s: acc + s["contrib"]).alias("cold_s"),
                       F.sum(F.when(F.col("is_hot"), F.col("contrib")))
                       .alias("hot_s"),
                       F.max("is_hot").alias("hot"))
                  .select("dst", F.when(F.col("hot"), F.col("hot_s"))
                          .otherwise(F.col("cold_s")).alias("s")))
        nxt = (nodes.join(summed, nodes["node"] == summed["dst"], "left")
               .select("node",
                       (F.lit(base) + F.lit(DAMPING)
                        * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"))
               .localCheckpoint(eager=True))
        _release_local_checkpoint(ranks)
        ranks = nxt
    e.unpersist()
    e0.unpersist()
    _release_local_checkpoint(nodes)     # final ranks hold their own blocks
    return ranks
