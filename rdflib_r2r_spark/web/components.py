"""Entity canonicalization: iterative hash-min connected components over a
DataFrame edge list (north_star: "iterative hash-min connected components
... with salted-key skew mitigation").

Algorithm: min-label propagation. Each node starts labeled with itself;
every iteration each node takes the min of its own label and its neighbors'
labels; stop when no label changes. Converges in O(component diameter)
iterations — near-dup clusters are shallow, so typically 2-4.

Scale notes:
- ``localCheckpoint(eager=True)`` per iteration truncates lineage (otherwise
  the plan doubles every round and the driver OOMs planning at scale);
- the neighbor-min aggregation is a groupBy on node id: AQE skew-join +
  partial aggregation handle hub nodes; for extreme hubs the two-phase
  salted variant aggregates min per (node, salt) then per node —
  min is algebraic so the rewrite is exact (``salt_buckets > 1``);
- convergence is a single scalar count per iteration, no collect of data;
  a graph that has not converged after ``max_iter`` hops raises.

The reference has no transitive closure at all (SPARQL paths '+'/'*' raise
SparqlNotImplementedError — reference: rdflib_r2r/sql_converter.py:229-230,
plan.md:22 "some day: recursive CTEs"); this module supplies that capability
the Spark-native way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    salt_buckets: int = 1,
    hops_per_round: int = 2,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    Node ids may be any orderable type (string urls, longs).

    ``hops_per_round`` chains that many min-propagation steps into ONE
    checkpointed DAG per round: the driver-synchronized barrier (checkpoint
    materialization + convergence count) is the serial term that caps
    scaling efficiency, so halving the number of barriers (2 hops/round
    covers diameter d in ceil(d/2) barriers) buys parallel fraction at the
    cost of one possibly-wasted hop after convergence.

    Raises ``RuntimeError`` when a label still changed in the last round
    ``max_iter`` allows.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def one_hop(lbls: DataFrame) -> DataFrame:
        nbr = sym.join(lbls, sym["d"] == lbls["node"], "inner").select(
            sym["s"].alias("node"), F.col("label")
        )
        if salt_buckets > 1:
            # two-phase salted min: exact for the algebraic min, spreads
            # hub-node hot keys over salt_buckets reducers
            nbr = nbr.withColumn("_salt", F.pmod(F.xxhash64("label"), F.lit(salt_buckets)))
            nbr = (
                nbr.groupBy("node", "_salt").agg(F.min("label").alias("label"))
                .groupBy("node").agg(F.min("label").alias("cand"))
            )
        else:
            nbr = nbr.groupBy("node").agg(F.min("label").alias("cand"))
        return (
            lbls.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("cand"), F.col("label"))).alias("label"),
                (F.col("cand").isNotNull() & (F.col("cand") < F.col("label"))).alias("_chg"),
            )
        )

    rounds = max(1, (max_iter + hops_per_round - 1) // hops_per_round)
    for _i in range(rounds):
        stepped = labels
        for _h in range(max(1, hops_per_round)):
            stepped = one_hop(stepped.select("node", "label"))
        # min-propagation is monotone: if the LAST hop changed nothing, the
        # labels are a fixpoint — one flag per round suffices
        new_labels = stepped.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # unconverged labels split components silently — fail loudly
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"hops (hops_per_round={hops_per_round}); raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))


def canonical_map(edges: DataFrame, src: str = "a", dst: str = "b", **kw) -> DataFrame:
    """(node, canonical) for nodes in non-trivial components; canonical =
    component min. Nodes not in any edge are their own canonical (omitted)."""
    cc = connected_components(edges, src, dst, **kw)
    return cc.filter(F.col("node") != F.col("component")).select(
        "node", F.col("component").alias("canonical")
    )
