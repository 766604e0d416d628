"""Connected components via alternating large-star/small-star contraction.

Needed by the connectivity-preserving edge split (G1,
models/supervised.py:67-77 ``EdgeSplitter(..., keep_connected=True)``) —
the reference gets connectivity from StellarGraph/networkx in-memory; at
scale it has to be a distributed fixpoint.

Algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14): repeatedly rewrite the edge set with two rules until
it is a star forest rooted at each component's minimum vertex id —

  large-star: for every vertex u, connect each strictly-larger neighbor
              to m(u) = min(N(u) ∪ {u});
  small-star: orient edges toward the larger endpoint, then connect each
              smaller-or-equal neighbor (and u itself) to m(u).

Both rules preserve connectivity; the alternation converges in
O(log n) rounds on any graph — including high-diameter chains where
plain min-label propagation needs O(diameter) supersteps (the previous
implementation here, replaced per VERDICT r01 item 3). Each round is two
groupBy/join shuffles keyed by vertex; lineage is cut per round with
localCheckpoint (SURVEY.md §4.2 — Catalyst has no loop operator, the
driver drives). Convergence is detected with an order-insensitive
(count, hash-sum) snapshot of the edge set — one tiny aggregate per
round, no driver-side edge collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from federated_gcn_spark.barrier import agg_probed_barrier
from federated_gcn_spark.graph.graph import DST, ID, SRC, Graph


def _snapshot_probe():
    """Order-insensitive (n, bit_xor-hash) edge-set fingerprint, as an
    aggregate probe that rides each round's barrier materialization
    job (built lazily: Columns need an active session)."""
    # bit_xor: order-insensitive and overflow-free (ANSI-safe, unlike sum)
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    )


def _edge_snapshot(e: DataFrame) -> tuple[int, int]:
    """Order-insensitive fingerprint of an (u, v) edge set: one aggregate."""
    row = e.agg(*_snapshot_probe()).first()
    return int(row["n"]), int(row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) ↦ for each vertex u: link every neighbor > u to min(N(u) ∪ {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient (larger → smaller), then link u and all its smaller neighbors
    to m(u) = min(N(u) ∪ {u}) (= the smallest neighbor after orienting)."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    nbr_links = (
        o.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_links = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbr_links.unionByName(self_links).distinct()


def connected_components(
    graph: Graph, max_iterations: int = 50, stats: dict | None = None
) -> DataFrame:
    """Return (id, component) where component = min vertex id reachable.

    Deterministic: the fixpoint (star forest rooted at component minima)
    is unique regardless of partitioning. ``stats``, when passed, gets
    ``stats["iterations"]`` — the number of large+small-star rounds run
    (tests assert O(log n) on a path graph).
    """
    e = (
        graph.edges.select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _edge_snapshot(e)
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        # stats-cut barrier, not localCheckpoint: e joins itself next
        # round, so carried stats would square per round (barrier.py);
        # the convergence fingerprint is an aggregate of the same job
        e, row = agg_probed_barrier(
            _small_star(_large_star(e)), *_snapshot_probe()
        )
        cur = (int(row["n"]), int(row["h"]))
        if cur == prev:
            break
        prev = cur
    if stats is not None:
        stats["iterations"] = iterations

    # star edges point non-roots at their component min; roots + isolated
    # vertices label themselves
    labels = e.select(F.col("u").alias(ID), F.col("v").alias("component"))
    own = graph.vertices.select(ID).join(
        labels.select(ID), ID, "left_anti"
    ).select(ID, F.col(ID).alias("component"))
    return labels.unionByName(own)


def num_components(graph: Graph) -> int:
    return connected_components(graph).select("component").distinct().count()
