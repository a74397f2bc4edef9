"""Entity canonicalization: iterative hash-min connected components over a
DataFrame edge list.

Algorithm: min-label propagation. Each node starts labeled with itself;
every iteration each node takes the min of its own label and its neighbors'
labels; stop when no label changes. Converges in O(component diameter)
iterations — near-dup clusters are shallow, so typically 2-4.

Scale notes:
- ``localCheckpoint(eager=True)`` per round truncates lineage (otherwise
  the plan doubles every round and the driver OOMs planning at scale);
- each hop is one join and one groupBy on node id over the neighbour
  labels and the node's own, and ``min`` is algebraic, so Spark plans it
  in two phases without any rewrite here: ``explain`` of one hop shows
  ``HashAggregate(keys=[node], functions=[partial_min(cand), ...])``
  below the ``hashpartitioning(node)`` exchange and ``min(cand)`` above
  it.  Each map task ships at most one row per (task, node), so a hub
  node's fan-in is bounded before the shuffle; a salted (node, salt)
  pre-aggregation would only repeat that;
- convergence is an ``Observation`` ``count_if`` on each round's
  checkpoint job, no extra job and no collect of data; a graph that has
  not converged after ``max_iter`` hops raises.

The reference has no transitive closure at all (SPARQL paths '+'/'*' raise
SparqlNotImplementedError — reference: rdflib_r2r/sql_converter.py:229-230,
plan.md:22 "some day: recursive CTEs"); this module supplies that capability
the Spark-native way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


# min-propagation hops chained into ONE checkpointed DAG per round.  The
# driver-synchronized barrier (checkpoint materialization + convergence
# count) is the serial term, so fewer barriers buy parallel fraction at the
# cost of at most HOPS_PER_ROUND - 1 wasted hops after convergence.
# Near-dup clusters are shallow: 3 hops cover diameter 3 in one barrier
# (measured 3.7 s vs 4.4 s at 2 hops on the replicate-500 edge set).
HOPS_PER_ROUND = 3


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    Node ids may be any orderable type (string urls, longs).

    Raises ``RuntimeError`` when a label still changed in the last round
    ``max_iter`` hops allow.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # no distinct(): a duplicate edge only repeats a candidate of a min
    sym = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = sym.localCheckpoint(eager=True)

    def one_hop(lbls: DataFrame) -> DataFrame:
        # neighbour labels plus the node's own (which carries the old label
        # for _chg): one join and one grouped min per hop
        nbr = sym.join(lbls, sym["d"] == lbls["node"], "inner").select(
            sym["s"].alias("node"), F.col("label").alias("cand"), F.lit(None).alias("old"))
        own = lbls.select("node", F.col("label").alias("cand"), F.col("label").alias("old"))
        return (
            nbr.unionByName(own)
            .groupBy("node").agg(F.min("cand").alias("label"), F.max("old").alias("old"))
            .select("node", "label", (F.col("label") < F.col("old")).alias("_chg"))
        )

    # round 1 starts from the first hop off the identity labeling, read
    # straight from the edge list: label = least(node, min neighbour)
    stepped = sym.groupBy("s").agg(F.min("d").alias("cand")).select(
        F.col("s").alias("node"), F.least(F.col("s"), F.col("cand")).alias("label"),
        (F.col("cand") < F.col("s")).alias("_chg"))
    rounds = max(1, (max_iter + HOPS_PER_ROUND - 1) // HOPS_PER_ROUND)
    for i in range(rounds):
        for _h in range(HOPS_PER_ROUND - (i == 0)):
            stepped = one_hop(stepped.select("node", "label"))
        # min-propagation is monotone: if the LAST hop changed nothing, the
        # labels are a fixpoint — one flag per round suffices, counted by
        # the checkpoint job itself
        obs = Observation()
        labels = stepped.observe(obs, F.count_if(F.col("_chg")).alias("changed")) \
            .localCheckpoint(eager=True).drop("_chg")
        if obs.get["changed"] == 0:
            break
        stepped = labels
    else:
        # unconverged labels split components silently — fail loudly
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"hops ({HOPS_PER_ROUND} per round); raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))


def canonical_map(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """(node, canonical) for nodes in non-trivial components; canonical =
    component min. Nodes not in any edge are their own canonical (omitted)."""
    cc = connected_components(edges, src, dst)
    return cc.filter(F.col("node") != F.col("component")).select(
        "node", F.col("component").alias("canonical")
    )
