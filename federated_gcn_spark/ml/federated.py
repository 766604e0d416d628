"""Federated training rounds as a driver-side loop over Spark jobs.

The reference's architecture — a TCP server holding GLOBAL_WEIGHTS, N
client processes training locally and pushing weight lists, a count
barrier, weighted FedAvg, re-broadcast (fl_server.py:60-102,
fl_client.py:119-175) — maps onto Spark primitives 1:1
(SURVEY.md §2.8, §2.9):

  client process        → one group of a cogrouped applyInPandas
                          (nodes ⋈ edges per partition_id) — G7
  pull global weights   → sc.broadcast of the weight list — G8
  push weights + count  → the returned parameter-table rows
  count barrier (A4)    → the stage boundary (a Spark stage IS a barrier)
  weighted FedAvg (A1)  → operators.fedavg on the parameter table
  rounds / STOP_FLAG    → ``for round_no in range(rounds)``
  versioned .npy sink   → optional parquet write partitioned by round

The scheduled variant (fl_client_shed.py: one client trains k partitions
serially to bound memory) is what Spark's scheduler does natively: P
partition-groups queued over K executor slots.

Scale: features never leave their executor — only weight tensors move
(the reference's communication-minimization rationale, README.md:4).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from federated_gcn_spark.ml.kernels import GraphSAGELinkModel
from federated_gcn_spark.operators.fedavg import fedavg, rows_to_weights

PARAM_SCHEMA = (
    "partition_id long, layer int, shape array<int>, "
    "values array<double>, num_examples long"
)


def _sample_negatives(rng, target: int, n: int, pos: set) -> tuple[list, list]:
    """Seeded rejection-sample up to ``target`` non-edges over n nodes.

    Bounded: a dense local subgraph (e.g. a triangle, or a 2-node partition
    with its one edge) has few or zero non-edges, so an uncapped loop would
    spin forever. Cap the target at the number of ordered non-edges actually
    available and the draws at 20x the target; proceed with fewer negatives
    when the space is exhausted (|neg| <= |pos| instead of strictly ==).
    """
    # ordered pairs (u,v), u != v, minus edges counted in both orientations
    available = n * (n - 1) - len(pos | {(v, u) for (u, v) in pos})
    target = min(target, max(available, 0))
    neg_u, neg_v = [], []
    attempts = 0
    max_attempts = 20 * max(target, 1)
    seen = set()
    while len(neg_u) < target and attempts < max_attempts:
        attempts += 1
        u = int(rng.integers(0, n)); v = int(rng.integers(0, n))
        if u != v and (u, v) not in pos and (v, u) not in pos and (u, v) not in seen:
            seen.add((u, v))
            neg_u.append(u); neg_v.append(v)
    return neg_u, neg_v


def _decode_group(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame):
    """Decode one cogroup (an FL client) into kernel inputs.

    Returns ``(ids, x, (src, dst), (msg_src, msg_dst))``: node ids in
    canonical order, the float64 feature matrix, and the training and
    message-passing edges as row indices into ``ids``. Edges with an
    endpoint outside the group's node set are dropped (the J1 integrity
    join, local edition). Without a ``role`` column both edge sets are
    the group's edges; with one, role='train' rows are the training
    edges and role='msg' rows the message-passing graph.

    The inputs are sorted first. applyInPandas delivers a group's rows in
    whatever order the shuffle read produced them — a function of the
    upstream plan shape and runtime scheduling, NOT of the data.
    Everything downstream of the id→index map (feature-matrix layout,
    gradient summation order, the rng-draw↔row correspondence in negative
    sampling) depends on that order, so without a canonical sort
    "bit-identical" only holds while the two plans being compared happen
    to shuffle identically — wave scheduling, checkpoint/resume, or an
    AQE re-plan can silently break it. Sorting here (groups are small by
    design — one FL client) makes the kernels layout-independent, the
    same doctrine as the xxhash64 pseudo-rand in graph/sampling.py.
    """
    nodes_pdf = nodes_pdf.sort_values("id", kind="mergesort", ignore_index=True)
    ecols = [c for c in ("role", "src", "dst") if c in edges_pdf.columns]
    if ecols:
        edges_pdf = edges_pdf.sort_values(ecols, kind="mergesort", ignore_index=True)
    ids = nodes_pdf["id"].to_numpy()
    idx = {v: i for i, v in enumerate(ids)}
    x = np.stack(nodes_pdf["features"].to_numpy()).astype("float64")

    def local(e: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        e = e[e["src"].isin(idx) & e["dst"].isin(idx)]
        return (
            e["src"].map(idx).to_numpy(dtype="int64"),
            e["dst"].map(idx).to_numpy(dtype="int64"),
        )

    if "role" not in edges_pdf.columns:
        both = local(edges_pdf)
        return ids, x, both, both
    return (
        ids, x,
        local(edges_pdf[edges_pdf["role"] == "train"]),
        local(edges_pdf[edges_pdf["role"] == "msg"]),
    )


def _make_train_fn(weights_bc, layer_sizes, lr, epochs, seed, feature_dim,
                   variant: str = "supervised", optimizer: str = "adam",
                   dropout: float = 0.1, batch_size: int | None = None):
    """Build the per-partition trainer (runs inside applyInPandas).

    variant="supervised":   positives = the partition's edges
                            (fl_client.py link prediction)
    variant="unsupervised": positives = random-walk co-occurrence pairs
                            (fl_client_unsupervised.py via
                            UnsupervisedSampler, models/unsupervised.py:54-56)

    When ``edges_pdf`` carries a ``role`` column (added by federated_fit's
    fanout path), rows with role='msg' are the round's fanout-sampled
    message-passing graph and rows with role='train' the true edges used
    as positives — the GraphSAGELinkGenerator split between sampled
    neighborhoods and training pairs (models/supervised.py:79-85).
    """

    def train(key, nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        (partition_id,) = key
        ids, x, (src, dst), (msg_src, msg_dst) = _decode_group(nodes_pdf, edges_pdf)

        model = GraphSAGELinkModel(feature_dim, layer_sizes, lr=lr,
                                   seed=seed + int(partition_id),
                                   optimizer=optimizer, dropout=dropout)
        model.set_weights(weights_bc.value)

        n = len(ids)
        if variant == "unsupervised":
            from federated_gcn_spark.ml.kernels import sample_walk_pairs

            pos_u, pos_v = sample_walk_pairs(
                src, dst, n, length=5, n_walks=1, window=2,
                seed=seed + int(partition_id),
            )
        else:
            pos_u, pos_v = src, dst
        # negatives: seeded random non-edges, |neg|=|pos| (G1's invariant,
        # in-kernel edition for the local train split)
        rng = np.random.default_rng(seed + int(partition_id))
        pos = set(zip(src.tolist(), dst.tolist()))
        neg_u, neg_v = _sample_negatives(rng, len(pos_u), n, pos) if n > 1 else ([], [])
        pu = np.concatenate([pos_u, np.array(neg_u, dtype="int64")])
        pv = np.concatenate([pos_v, np.array(neg_v, dtype="int64")])
        labels = np.concatenate([np.ones(len(pos_u)), np.zeros(len(neg_u))])

        model.fit(x, msg_src, msg_dst, pu, pv, labels, epochs=epochs,
                  batch_size=batch_size)
        n_examples = int(len(labels))  # NUM_EXAMPLES (fl_client.py:77)
        rows = [
            {
                "partition_id": int(partition_id),
                "layer": i,
                "shape": list(w.shape),
                "values": w.astype("float64").ravel().tolist(),
                "num_examples": n_examples,
            }
            for i, w in enumerate(model.get_weights())
        ]
        return pd.DataFrame(rows)

    return train


def _held_out_split(edges: DataFrame, nodes: DataFrame, fraction: float, seed: int):
    """Distributed analog of the reference's test EdgeSplitter
    (models/supervised.py:66-70: hold out p=0.1 of edges + equally many
    sampled non-edges): returns (train_edges, eval_pairs) where
    eval_pairs = (u, v, label DOUBLE, partition_id).

    Selection is a pure hash of (src, dst, seed) — deterministic on any
    cluster layout. Negatives corrupt the held-out edge's dst to a
    pseudo-random node of the same partition (rank-join, no node-table
    blowup), then drop accidental true edges with one anti-join.
    """
    r = (
        F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(1_000_000)).cast("double")
        / 1_000_000.0
    )
    tagged = edges.withColumn("__held", r < fraction)
    train_edges = tagged.where(~F.col("__held")).drop("__held")
    pos = tagged.where(F.col("__held")).drop("__held")

    w = Window.partitionBy("partition_id").orderBy("id")
    ranked = nodes.select("id", "partition_id").withColumn(
        "__rk", F.row_number().over(w)
    )
    sizes = ranked.groupBy("partition_id").agg(F.max("__rk").alias("__n"))
    corrupted = (
        pos.join(F.broadcast(sizes), "partition_id")
        .withColumn(
            "__rk",
            F.pmod(F.xxhash64("src", "dst", F.lit(seed + 1)), F.col("__n")).cast("int")
            + 1,
        )
        .join(ranked, ["partition_id", "__rk"])
        .select("partition_id", F.col("src").alias("u"), F.col("id").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    negatives = corrupted.join(
        sym,
        (corrupted["u"] == sym["src"]) & (corrupted["v"] == sym["dst"]),
        "left_anti",
    )
    eval_pairs = (
        pos.select(
            "partition_id",
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.lit(1.0).alias("label"),
        )
        .unionByName(negatives.withColumn("label", F.lit(0.0)))
    )
    return train_edges, eval_pairs


def _eval_metrics(
    spark: SparkSession,
    nodes: DataFrame,
    train_edges: DataFrame,
    eval_pairs: DataFrame,
    weights: list[np.ndarray],
    layer_sizes,
    seed: int,
) -> dict:
    """Score held-out pairs with the current global weights and compute the
    reference's six logged metrics (fl_client.py:139-160: loss, accuracy,
    recall, AUC, F1, precision) as one Spark job.

    Embeddings are inferred over the TRAIN graph (message passing never
    sees held-out edges — the same leakage rule as evaluating Keras flows
    built on graph_train, models/supervised.py:79-85)."""
    from federated_gcn_spark.functions.scalar import f1_score, link_score
    from federated_gcn_spark.operators.stats import binary_auc

    emb = gen_embeddings(spark, nodes, train_edges, weights, layer_sizes, seed=seed)
    eu = emb.select(
        F.col("id").alias("u"), "partition_id", F.col("embedding").alias("__hu")
    )
    ev = emb.select(
        F.col("id").alias("v"), "partition_id", F.col("embedding").alias("__hv")
    )
    scored = (
        eval_pairs.join(eu, ["u", "partition_id"])
        .join(ev, ["v", "partition_id"])
        .select(
            "label", link_score("__hu", "__hv").alias("score")
        )
        .localCheckpoint(eager=True)
    )
    eps = 1e-12
    agg = scored.agg(
        F.avg(
            -(
                F.col("label") * F.log(F.col("score") + eps)
                + (1 - F.col("label")) * F.log(1 - F.col("score") + eps)
            )
        ).alias("loss"),
        F.avg(
            ((F.col("score") > 0.5) == (F.col("label") > 0.5)).cast("double")
        ).alias("acc"),
        F.sum(((F.col("score") > 0.5) & (F.col("label") > 0.5)).cast("long")).alias("tp"),
        F.sum(((F.col("score") > 0.5) & (F.col("label") <= 0.5)).cast("long")).alias("fp"),
        F.sum(((F.col("score") <= 0.5) & (F.col("label") > 0.5)).cast("long")).alias("fn"),
    ).select(
        "loss",
        "acc",
        (F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))).alias("precision"),
        (F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))).alias("recall"),
    ).withColumn("f1", f1_score(F.col("precision"), F.col("recall")))
    row = agg.crossJoin(binary_auc(scored, "score", "label")).first()
    return {
        "loss": row["loss"],
        "acc": row["acc"],
        "precision": row["precision"],
        "recall": row["recall"],
        "f1": row["f1"],
        "auc": row["auc"],
    }


def federated_fit(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 3,
    epochs: int = 2,
    layer_sizes: tuple[int, int] = (10, 10),
    lr: float = 1e-2,
    seed: int = 42,
    weighted: bool = True,
    variant: str = "supervised",
    weights_sink: str | None = None,
    optimizer: str = "adam",
    dropout: float = 0.1,
    batch_size: int | None = None,
    fanouts: list[int] | None = None,
    eval_fraction: float = 0.0,
    mem_budget_gb: float | None = None,
    initial_weights: list[np.ndarray] | None = None,
    start_round: int = 0,
) -> tuple[list[np.ndarray], list[dict]]:
    """Run R federated rounds; returns (global weights, round log).

    ``initial_weights`` + ``start_round`` resume a previous run (e.g.
    from the versioned weights_sink): round numbering — and therefore
    the per-round fanout-sampling seed stream — continues where it left
    off, so fit(R) and fit(k) → resume(R-k) produce bit-identical
    weights (test_federated.py pins this).

    nodes: (id, features ARRAY<FLOAT/DOUBLE>, partition_id)
    edges: (src, dst, partition_id)
    ``weights_sink``: optional parquet path, partitioned by round — the
    versioned-weights sink (S7; fl_server.py:78-80) with the round number
    as the partition value instead of a filename suffix.

    Reference-parity knobs (models/supervised.py:50-63, 79-104):
    ``optimizer="adam"`` + ``lr=1e-2`` + ``dropout=0.1`` are the
    reference defaults; ``batch_size=20`` turns on shuffled minibatch
    steps; ``fanouts=[20, 10]`` samples each partition's message-passing
    neighborhoods per round with the distributed fanout operator (G3)
    instead of training on the full partition graph;
    ``eval_fraction=0.1`` holds out that fraction of edges (plus matched
    sampled non-edges) and logs loss/acc/precision/recall/F1/AUC on the
    held-out split every round (fl_client.py:139-160).

    ``mem_budget_gb``: the scheduled variant (fl_client_shed.py:155-193).
    Partitions are packed into sequential *waves* by the reference cost
    model (operators/schedule.py) so no wave's training footprint exceeds
    the budget; each round trains wave-by-wave (each wave is its own
    Spark job) and FedAvg combines ALL partitions' results at round end,
    exactly like fl_server_shed.py:61-93 — the final weights are
    bit-identical to the unscheduled run, only the peak memory differs.
    """
    feature_dim = len(
        nodes.select("features").first()["features"]
    )
    wave_partitions: list[list] | None = None
    if mem_budget_gb is not None:
        from federated_gcn_spark.operators.schedule import (
            partition_stats,
            plan_training_waves,
        )

        stats = partition_stats(
            nodes.select("partition_id"), edges.select("partition_id"), feature_dim
        )
        by_wave: dict[int, list] = {}
        for r in plan_training_waves(stats, mem_budget_gb).collect():
            by_wave.setdefault(int(r["wave"]), []).append(r["partition_id"])
        wave_partitions = [sorted(by_wave[w]) for w in sorted(by_wave)]
    global_model = GraphSAGELinkModel(feature_dim, layer_sizes, lr=lr, seed=seed,
                                      optimizer=optimizer, dropout=dropout)
    global_weights = (
        [np.asarray(w, dtype="float64") for w in initial_weights]
        if initial_weights is not None
        else global_model.get_weights()
    )
    history: list[dict] = []

    eval_pairs = None
    if eval_fraction > 0.0:
        train_edges, eval_pairs = _held_out_split(edges, nodes, eval_fraction, seed)
        train_edges = train_edges.localCheckpoint(eager=True)
        eval_pairs = eval_pairs.localCheckpoint(eager=True)
    else:
        train_edges = edges

    grouped_nodes = nodes.groupBy("partition_id")

    fit_start = time.monotonic()
    for round_no in range(start_round, start_round + rounds):
        round_start = time.monotonic()
        if fanouts:
            # re-sample every round (the generator re-samples every batch;
            # per-round is the distributed-cost-aware cadence) — G3 with
            # group_col keeps every walk inside its own FL partition
            from federated_gcn_spark.graph.graph import Graph
            from federated_gcn_spark.graph.sampling import fanout_sample

            g = Graph(nodes.select("id", "partition_id"), train_edges)
            sampled = fanout_sample(
                g,
                roots=nodes.select("id", "partition_id"),
                fanouts=list(fanouts),
                seed=seed + 7919 * (round_no + 1),
                group_col="partition_id",
            )
            msg_edges = (
                sampled.where(F.col("hop") > 0)
                .select(
                    F.col("parent").alias("src"),
                    F.col("vertex").alias("dst"),
                    "partition_id",
                )
                .distinct()
            )
            round_edges = train_edges.select(
                "src", "dst", "partition_id"
            ).withColumn("role", F.lit("train")).unionByName(
                msg_edges.withColumn("role", F.lit("msg"))
            )
        else:
            round_edges = train_edges
        weights_bc = spark.sparkContext.broadcast(global_weights)
        train_fn = _make_train_fn(
            weights_bc, layer_sizes, lr, epochs, seed, feature_dim, variant,
            optimizer=optimizer, dropout=dropout, batch_size=batch_size,
        )
        if wave_partitions is None:
            params = grouped_nodes.cogroup(
                round_edges.groupBy("partition_id")
            ).applyInPandas(train_fn, schema=PARAM_SCHEMA)
        else:
            # scheduled path: one memory-bounded job per wave; collecting
            # each wave's param rows (KB-sized weight tensors) IS the
            # sequencing barrier, then FedAvg runs over the whole round's
            # pool like fl_server_shed's flattened per-partition average
            pool: list = []
            for wave in wave_partitions:
                pool.extend(
                    nodes.where(F.col("partition_id").isin(wave))
                    .groupBy("partition_id")
                    .cogroup(
                        round_edges.where(F.col("partition_id").isin(wave))
                        .groupBy("partition_id")
                    )
                    .applyInPandas(train_fn, schema=PARAM_SCHEMA)
                    .collect()
                )
            params = spark.createDataFrame(pool, PARAM_SCHEMA)
        averaged = fedavg(params, weighted=weighted)  # barrier: stage boundary
        rows = [r.asDict() for r in averaged.collect()]
        global_weights = rows_to_weights(rows)
        weights_bc.destroy()
        if weights_sink:
            # write from the collected tensors (KBs), NOT from `averaged`:
            # re-executing that plan would re-train every partition and
            # reference the now-destroyed broadcast
            spark.createDataFrame(
                rows, "layer int, shape array<int>, values array<double>"
            ).withColumn("round", F.lit(round_no)).write.mode(
                "append"
            ).partitionBy("round").parquet(weights_sink)
        # per-round walltime telemetry — the reference's elapsed-seconds
        # round log (fl_server.py:225-231); elapsed_s is cumulative since
        # fit start, so it is strictly monotone across history rows
        entry = {
            "round": round_no,
            "n_layers": len(global_weights),
            "weight_norm": float(
                sum(float(np.linalg.norm(w)) for w in global_weights)
            ),
            "round_wall_s": round(time.monotonic() - round_start, 6),
            "elapsed_s": round(time.monotonic() - fit_start, 6),
        }
        if eval_pairs is not None:
            # evaluate the freshly-averaged global model on the held-out
            # split — the per-round "Global model v{r} evaluation" log line
            # (fl_client.py:149-161), one Spark job per round
            entry.update(
                _eval_metrics(
                    spark, nodes, train_edges, eval_pairs, global_weights,
                    layer_sizes, seed,
                )
            )
        history.append(entry)
    return global_weights, history


def distributed_nograd(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    epochs: int = 2,
    layer_sizes: tuple[int, int] = (16, 16),
    lr: float = 1e-3,
    seed: int = 42,
) -> DataFrame:
    """No-communication distributed pipeline (distributed_nograd.py:19-34 +
    concat_embeddings.py): every partition trains its own unsupervised
    model independently (no FedAvg, no rounds) and emits L2-normalized
    embeddings; partitions are merged first-wins on node id downstream
    (operators.merge.concat_embeddings / dropDuplicates here, since
    partition-local ids only collide on boundary replicas).
    Returns (id, embedding, partition_id).
    """
    feature_dim = len(nodes.select("features").first()["features"])
    init = GraphSAGELinkModel(feature_dim, layer_sizes, lr=lr, seed=seed)
    weights_bc = spark.sparkContext.broadcast(init.get_weights())

    def train_and_embed(key, nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame):
        (partition_id,) = key
        ids, x, (src, dst), _ = _decode_group(nodes_pdf, edges_pdf)
        from federated_gcn_spark.ml.kernels import sample_walk_pairs

        model = GraphSAGELinkModel(feature_dim, layer_sizes, lr=lr,
                                   seed=seed + int(partition_id))
        model.set_weights(weights_bc.value)
        n = len(ids)
        pos_u, pos_v = sample_walk_pairs(src, dst, n, seed=seed + int(partition_id))
        rng = np.random.default_rng(seed + int(partition_id))
        pos = set(zip(src.tolist(), dst.tolist()))
        neg_u, neg_v = _sample_negatives(rng, len(pos_u), n, pos) if n > 1 else ([], [])
        pu = np.concatenate([pos_u, np.array(neg_u, dtype="int64")])
        pv = np.concatenate([pos_v, np.array(neg_v, dtype="int64")])
        labels = np.concatenate([np.ones(len(pos_u)), np.zeros(len(neg_u))])
        model.fit(x, src, dst, pu, pv, labels, epochs=epochs)
        h = model.embed(x, src, dst)
        return pd.DataFrame(
            {
                "id": ids,
                "embedding": [row.tolist() for row in h],
                "partition_id": int(partition_id),
            }
        )

    return (
        nodes.groupBy("partition_id")
        .cogroup(edges.groupBy("partition_id"))
        .applyInPandas(
            train_and_embed,
            schema="id long, embedding array<double>, partition_id long",
        )
    )


def gen_embeddings(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    weights: list[np.ndarray],
    layer_sizes: tuple[int, int] = (10, 10),
    seed: int = 42,
) -> DataFrame:
    """Distributed embedding inference (G6): mapInPandas-style batch
    predict per partition with broadcast weights → (id, embedding).

    Mirrors models/unsupervised.py:105-107 / fl_client_unsupervised.py:118-122:
    per-partition L2-normalized node embeddings; merge across partitions
    with operators.merge.concat_embeddings (first-wins).
    """
    feature_dim = len(nodes.select("features").first()["features"])
    weights_bc = spark.sparkContext.broadcast([w.copy() for w in weights])

    def embed(key, nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        (partition_id,) = key
        ids, x, (src, dst), _ = _decode_group(nodes_pdf, edges_pdf)
        model = GraphSAGELinkModel(feature_dim, layer_sizes, seed=seed)
        model.set_weights(weights_bc.value)
        h = model.embed(x, src, dst)
        return pd.DataFrame(
            {
                "id": ids,
                "embedding": [row.tolist() for row in h],
                "partition_id": int(partition_id),
            }
        )

    return (
        nodes.groupBy("partition_id")
        .cogroup(edges.groupBy("partition_id"))
        .applyInPandas(
            embed, schema="id long, embedding array<double>, partition_id long"
        )
    )
