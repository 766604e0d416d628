"""Iteration barrier: lineage + stats cut for driver-driven fixpoint loops.

Catalyst has no loop operator, so iterative algorithms (connected
components, Borůvka spanning forest, pagerank, random walks, pointer
jumping) re-enter the planner every superstep. ``localCheckpoint`` cuts
*lineage*, but since SPARK-39834 the resulting ``LogicalRDD`` carries the
origin plan's *statistics* forward. Size estimation multiplies child
sizes through joins, so a loop that joins the previous iteration's
checkpoint with itself SQUARES the carried ``sizeInBytes`` every
superstep: the estimate's bit-length doubles per iteration (measured:
15 → 29 → 56 → 111 → 220 bits per self-join jump), and after ~30
iterations the optimizer burns minutes in BigInteger multiplication
inside every stats-driven rule (join selection, runtime-filter
injection) — the driver, not the cluster, becomes the bottleneck, at ANY
data scale.

``iteration_barrier`` therefore materializes the frame (eager
localCheckpoint, same as before) and then re-wraps the checkpointed
RDD[InternalRow] in a fresh ``LogicalRDD`` WITHOUT origin stats, so every
superstep's plan starts from flat leaf estimates. The zero-copy path
goes through ``SparkSession.internalCreateDataFrame`` (``private[sql]``,
but Scala access modifiers don't survive to bytecode, so py4j can call
it); if that internal API ever moves, the fallback round-trips through
the public ``createDataFrame(RDD[Row], schema)`` (correct, costs one
extra row conversion per downstream pass), and failing even that returns
the plain checkpoint (correct, re-grows stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _rewrap_internal(ck: DataFrame, spark) -> DataFrame:
    """Zero-copy stats cut via ``internalCreateDataFrame`` (private[sql];
    callable from py4j because Scala access modifiers don't reach
    bytecode). May break on a Spark upgrade — hence the strategy list."""
    je = ck._jdf.queryExecution()
    jdf = spark._jsparkSession.internalCreateDataFrame(
        je.toRdd(), je.analyzed().schema(), False
    )
    return DataFrame(jdf, spark)


def _rewrap_public(ck: DataFrame, spark) -> DataFrame:
    """Public-API stats cut: round-trip the checkpointed RDD through
    ``createDataFrame(RDD[Row], schema)``. Same fresh-LogicalRDD effect,
    costs one extra InternalRow↔Row conversion per downstream pass."""
    jdf = spark._jsparkSession.createDataFrame(ck._jdf.rdd(), ck._jdf.schema())
    return DataFrame(jdf, spark)


# Tried in order; tests force the fallback by patching this list.
_REWRAP_STRATEGIES = (_rewrap_internal, _rewrap_public)


def _rewrap(ck: DataFrame) -> DataFrame:
    """Re-wrap a checkpointed frame with the first strategy that works."""
    for rewrap in _REWRAP_STRATEGIES:
        try:
            return rewrap(ck, ck.sparkSession)
        except Exception:
            continue
    return ck  # correct but re-grows stats


def iteration_barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut BOTH lineage and carried statistics.

    Use this instead of ``localCheckpoint`` for any DataFrame that feeds
    the next iteration of a driver-side loop. For one-shot staging of a
    reused intermediate, plain ``localCheckpoint`` is fine.
    """
    return _rewrap(df.localCheckpoint(eager=True))


def agg_probed_barrier(df: DataFrame, *agg_cols):
    """``iteration_barrier`` whose materializing action is an aggregate.

    One driver job yields both the stats-cut frame and an arbitrary
    probe over it (row count, changed-row count, convergence sum…), so
    fixpoint loops don't pay a separate probe job per iteration on top
    of the eager-checkpoint job.  The checkpoint is lazy; aggregating
    the rewrapped frame runs through the checkpoint-marked RDD, which
    materializes (and caches) it exactly like the eager path.

    Returns ``(frame, Row)`` with the aggregate values.
    """
    out = lazy_barrier(df)
    return out, out.agg(*agg_cols).collect()[0]


def counted_barrier(df: DataFrame) -> tuple[DataFrame, int]:
    """``agg_probed_barrier`` specialized to the row count."""
    from pyspark.sql import functions as F

    out, row = agg_probed_barrier(df, F.count(F.lit(1)).alias("n"))
    return out, int(row["n"])


def lazy_barrier(df: DataFrame) -> DataFrame:
    """Lineage + stats cut WITHOUT a materializing action.

    For fixed-round loops that never probe per-round state on the
    driver: each round still gets a checkpoint-marked RDD behind a
    fresh stats-free LogicalRDD (so plans stay flat and the optimizer's
    size estimates don't compound), but materialization is deferred to
    whatever action finally consumes the chain — the checkpoint caches
    on first computation, so multiple consumers inside that one job
    still compute each round once.  Collapses a loop's N barrier jobs
    into the consumer's single job cascade.
    """
    return _rewrap(df.localCheckpoint(eager=False))
