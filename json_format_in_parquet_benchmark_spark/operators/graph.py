"""Iterative graph analytics expressed as Pregel-style DataFrame loops.

The reference has no graph runtime; this supplies the distributed-iteration
pattern (the same shape as operators/dedup.py's connected-components
fallback) for rank-propagation algorithms: each superstep is one shuffle
(contributions grouped by destination), the frontier state is a DataFrame,
and iteration count is fixed so plans stay static and oracle-unrollable.

Exactness design (the cross-engine recipe this repo uses everywhere):
PageRank mass lives on an integer grid (RANK_SCALE).  Every update is
integer arithmetic -- floor division by out-degree, integer damping
(85/100) -- and integer sums are order-free, so Spark's partition-parallel
aggregation, DuckDB's sequential aggregation, and a Python reference all
produce bit-identical ranks.  Dangling-node mass is dropped (documented
simplification; production redistributes it -- one extra global sum per
superstep, same plan shape).

At 100 TB: edges are the big table and are scanned once per superstep,
shuffled on dst with map-side partial sums; ranks are |V| rows (orders of
magnitude smaller than |E|) and join edges on src -- broadcast when |V|
fits, shuffle-hash otherwise.  AQE picks per-superstep; no driver-side
state at any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runtime import track_checkpoint, track_persist

RANK_SCALE = 10**12  # integer grid PageRank mass lives on
DAMP_NUM, DAMP_DEN = 85, 100  # damping factor 0.85 as an exact rational

# Every CHECKPOINT_EVERY supersteps (not after the last) the state frame's
# lineage is cut.  Fixed 3-round loops carry a small plan, but at the 10-20
# rounds a 100x graph needs, each superstep re-analyzes and re-optimizes the
# whole accumulated chain -- optimizer time and plan size grow superlinearly
# with depth (the label_prop 2.8x step at 500k in results/scale_probe.txt).
# A non-eager local checkpoint materializes at the next action (no extra
# job) and cuts the logical plan back to a leaf.  Local, not reliable,
# checkpointing is the right trade here: state is |V| rows, rebuilt from
# scratch in minutes if an executor dies.
CHECKPOINT_EVERY = 5


def pagerank(edges: DataFrame, n_iters: int = 3) -> DataFrame:
    """Integer-grid PageRank over directed ``edges`` (columns src, dst).

    Contract: every node must appear as a src (symmetric/undirected edge
    lists satisfy this trivially); pure-sink nodes would otherwise drop
    out of the node set.

    r0(v) = RANK_SCALE div |V| for every node; each superstep:

      contrib(u) = (DAMP_NUM * r(u)) div (DAMP_DEN * outdeg(u))
      r'(v)      = (RANK_SCALE - RANK_SCALE * DAMP_NUM div DAMP_DEN) div |V|
                   + sum over in-edges of contrib(u)

    All quantities are positive BIGINTs, divisions floor, sums are
    order-free -- bit-identical in any engine.  Returns (node, rank_q).
    """
    # The graph is iterated n_iters times: persist the edge list, so each
    # superstep starts from the cache instead of re-deriving edges from the
    # base tables (the oracle's MATERIALIZED CTE).  It is hash-partitioned
    # on src, the key of every superstep's degree aggregate and join, so
    # those co-locate with the cached layout instead of reshuffling it.
    edges = track_persist(edges.repartition("src"))
    # Callers pass symmetric edge lists (both directions present), so the
    # node set is distinct(src) -- scanning dst too would double the pass.
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.count()  # one scalar the driver needs to size the grid
    base = (RANK_SCALE - RANK_SCALE * DAMP_NUM // DAMP_DEN) // n_nodes
    ranks = nodes.withColumn(
        "rank_q", F.lit(RANK_SCALE // n_nodes).cast("bigint")
    )
    for it in range(n_iters):
        contribs = (
            ranks.join(deg, ranks.node == deg.src, "inner")
            .join(edges, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"({DAMP_NUM}L * rank_q) div ({DAMP_DEN}L * outdeg)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("bigint")
                    + F.coalesce(F.col("inflow"), F.lit(0)).cast("bigint")
                ).alias("rank_q"),
            )
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < n_iters:
            ranks = track_checkpoint(ranks)
    return ranks


def label_propagation(edges: DataFrame, n_iters: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection over symmetric
    ``edges`` (src, dst): labels start as node ids; each superstep every
    node adopts the most frequent label among its neighbors, ties broken
    by the SMALLEST label -- fully deterministic, so a fixed iteration
    count unrolls into an exact cross-engine oracle (the classic LPA of
    Raghavan et al. 2007, with the deterministic tie rule replacing the
    random one).

    Each superstep is two map-side-combined aggregations -- (node,
    neighbor-label) counts, then an argmax per node expressed as
    max(struct(count, -label)) so the tie rule rides the struct order --
    on the cached edge list; label state is |V| rows.  Same 100 TB
    contract as :func:`pagerank`: edges scanned once per superstep, no
    driver-side graph state.
    """
    # Keyed on src, the key of every superstep's label join (as pagerank).
    edges = track_persist(edges.repartition("src"))
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node").cast("bigint")
    )
    for it in range(n_iters):
        counts = (
            labels.join(edges, labels.node == edges.src)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy(F.col("n2").alias("node"))
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("neg_label"))
                ).alias("m")
            )
            .select("node", (-F.col("m.neg_label")).cast("bigint").alias("label"))
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < n_iters:
            labels = track_checkpoint(labels)
    return labels
