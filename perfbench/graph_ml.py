"""``graph_ml``: a training client and three analytics clients on one
session, all over the same partitioned graph store.

Training client (the paper's workload): ``catalog.read_graph``, then
``federated_fit`` with the reference defaults (fanouts [20, 10], Adam,
lr 1e-2, dropout 0.1, ``eval_fraction=0.1``, a ``weights_sink``), then
``gen_embeddings`` materialized. One op = one federated round, timed by
the program itself (``history[*].round_wall_s``).

Analytics clients: ``core_numbers``; ``pagerank`` (10 iterations);
``connected_components``, ``sssp`` and ``triangle_stats``. One op = one
algorithm run: the call plus the action that collects its result.

The work is fixed by ``--seconds`` (a round per ``ROUND_BUDGET_S``, a
pass over the algorithms per ``PASS_BUDGET_S``), not cut by the clock:
an op here lasts seconds, so a cut-off would change which ops a run
holds, and the round count fixes the held-out AUC and the weight
fingerprint.

All of it is driver-driven loops of many small jobs, so per-iteration
overhead (the ``graph`` and ``barrier`` layers) dominates.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from perfbench.reference import SSSP_HOPS, hub
from perfbench.stats import Op, fixed_tail_percentile, median
from perfbench.trace import wrap_functions

ALGOS = ("core_numbers", "pagerank", "connected_components", "sssp", "triangle_stats")
# Three analytics clients with about equal work each.
ANALYTICS_CLIENTS = (ALGOS[:1], ALGOS[1:2], ALGOS[2:])

FANOUTS = [20, 10]
# A round and its evaluation take 10-14 s and a pass over ALGOS about
# 20 s on 4 cores with all four clients running.
ROUND_BUDGET_S = 20
PASS_BUDGET_S = 20
# The global model's held-out AUC after one round was 0.54-0.73 on ten
# seeds; a collapsed model (all scores equal) reads exactly 0.5.
AUC_FLOOR = 0.5
BARRIERS = ("iteration_barrier", "agg_probed_barrier", "counted_barrier", "lazy_barrier")
TOP_K = 10


def fingerprint(weights) -> str:
    h = hashlib.sha256()
    for w in weights:
        h.update(np.ascontiguousarray(w, dtype="float64").tobytes())
    return h.hexdigest()[:16]


class GraphMl:
    name = "graph_ml"

    def __init__(self, ctx):
        self.ctx = ctx
        self.raw = os.path.join(ctx.inputs, "graph")
        self.store = os.path.join(ctx.run_dir, "graph_store")
        self.sink = os.path.join(ctx.run_dir, "weights_sink")
        self.rounds = max(1, int(ctx.seconds) // ROUND_BUDGET_S)
        self.passes = max(1, int(ctx.seconds) // PASS_BUDGET_S)
        self.tail_percentile = fixed_tail_percentile(self.rounds + self.passes * len(ALGOS))
        self.clients = 0
        self.ops: list[Op] = []
        self.algo_results: dict[str, list] = {}
        self.fit: dict = {}
        self._lock = threading.Lock()
        self._undo = None

    # -- timed phase -------------------------------------------------------

    def prime(self) -> None:
        """Lay the generated graph out with ``catalog.write_graph``."""
        spark = self.ctx.engine.spark
        mod = self.ctx.engine.mod
        nodes = spark.read.parquet(os.path.join(self.raw, "nodes.parquet"))
        edges = spark.read.parquet(os.path.join(self.raw, "edges.parquet"))
        mod["catalog"].write_graph(nodes, edges, self.store)
        self.clients = pd.read_parquet(os.path.join(self.raw, "nodes.parquet"),
                                       columns=["partition_id"])["partition_id"].nunique()
        if self.ctx.trace:
            graph_modules = [mod[k] for k in
                             ("components", "pagerank", "kcore", "sssp", "triangles", "sampling")]
            self._undo = _wrap_traced(self.ctx.tracer, graph_modules, mod["federated"])

    def run(self) -> None:
        graph = self._analytics_graph()
        threads = [threading.Thread(target=self._train)] + [
            threading.Thread(target=self._analytics, args=(graph, algos))
            for algos in ANALYTICS_CLIENTS
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if self._undo is not None:
            self._undo()

    def _fit(self, nodes, edges, sink: str):
        """``federated_fit`` with the reference defaults."""
        return self.ctx.engine.mod["federated"].federated_fit(
            self.ctx.engine.spark, nodes, edges, rounds=self.rounds, seed=self.ctx.seed,
            optimizer="adam", lr=1e-2, dropout=0.1, fanouts=FANOUTS,
            eval_fraction=0.1, weights_sink=sink,
        )

    def _train(self) -> None:
        ctx = self.ctx
        spark = ctx.engine.spark
        mod = ctx.engine.mod
        tracer = ctx.tracer
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.train") as root:
                with tracer.span("catalog.read_graph"):
                    nodes, edges = mod["catalog"].read_graph(spark, self.store)
                t1 = time.perf_counter()
                with tracer.span("ml.federated_fit"):
                    weights, history = self._fit(nodes, edges, self.sink)
                t2 = time.perf_counter()
                with tracer.span("ml.gen_embeddings"):
                    n_emb = mod["federated"].gen_embeddings(spark, nodes, edges, weights).count()
                t3 = time.perf_counter()
        except Exception as exc:  # counted as failed rounds, never skipped
            for _ in range(self.rounds):
                ctx.outcomes.record(False, "federated_round", repr(exc))
            return
        ops = [Op("federated_round", h["round_wall_s"], ctx.trace,
                  {"tag": root.tag} if root is not None else {}) for h in history]
        with self._lock:
            self.ops.extend(ops)
        for _ in ops:
            ctx.outcomes.record(True)
        self.fit = {
            "weights": weights, "history": history, "n_emb": n_emb,
            "read_graph_s": t1 - t0, "embed_s": t3 - t2, "fit_s": t3 - t0,
        }

    def _analytics(self, graph: dict, algos) -> None:
        ctx = self.ctx
        for _ in range(self.passes):
            for algo in algos:
                # a traced run runs each algorithm twice, traced first for
                # every other one, so warm caches cancel in the overhead
                first = ALGOS.index(algo) % 2 == 0
                modes = (first, not first) if ctx.trace else (False,)
                for traced in modes:
                    self.run_algo(ctx.engine.spark, ctx.engine.mod, graph, algo, traced)

    def _analytics_graph(self) -> dict:
        spark = self.ctx.engine.spark
        mod = self.ctx.engine.mod
        Graph = mod["graph"].Graph
        nodes, edges = mod["catalog"].read_graph(spark, self.store)
        v = nodes.select("id")
        e = edges.select("src", "dst")
        sym = Graph(v, e).symmetrized_edges()
        return {
            "graph": Graph(v, e),
            "sym_graph": Graph(v, sym),
            "edges": e,
            "sym_w": sym.withColumn("w", F.lit(1)),
            "source": hub(pd.read_parquet(os.path.join(self.raw, "edges.parquet"))),
        }

    def run_algo(self, spark, mod, g: dict, algo: str, traced: bool) -> None:
        tracer = self.ctx.tracer
        scope = tracer.span("bench.op") if traced else tracer.suspended()
        stats: dict = {}
        t0 = time.perf_counter()
        try:
            with scope as root:
                with tracer.span(f"graph.{algo}"):
                    with tracer.span(f"graph.{algo}.driver"):
                        if algo == "core_numbers":
                            df = mod["kcore"].core_numbers(g["graph"], stats=stats)
                        elif algo == "pagerank":
                            df = mod["pagerank"].pagerank(g["sym_graph"], max_iterations=10)
                        elif algo == "connected_components":
                            df = mod["components"].connected_components(g["graph"], stats=stats)
                        elif algo == "sssp":
                            df = mod["sssp"].sssp(g["sym_w"], g["source"], max_iters=SSSP_HOPS)
                        else:
                            df = mod["triangles"].triangle_stats(g["edges"])
                    t1 = time.perf_counter()
                    with tracer.span(f"graph.{algo}.final"):
                        result = df.toPandas()
                    t2 = time.perf_counter()
        except Exception as exc:
            self.ctx.outcomes.record(False, algo, repr(exc))
            return
        info = {"driver_s": t1 - t0, "final_s": t2 - t1}
        if "iterations" in stats:
            info["supersteps"] = stats["iterations"]
        if root is not None:
            info.update(tag=root.tag, trace_id=root.trace_id)
        with self._lock:
            self.ops.append(Op(algo, t2 - t0, traced, info))
            self.algo_results.setdefault(algo, []).append(result)
        self.ctx.outcomes.record(True)

    # -- checks ------------------------------------------------------------

    def check(self) -> None:
        """networkx's answer for every algorithm run, and the trained
        model: finite weights, AUC above the floor, one embedding per
        node, and the same weight fingerprint and AUC from a second
        ``federated_fit`` with the same seed on the same store."""
        ref = self.ctx.reference.result()
        for algo, results in self.algo_results.items():
            for res in results:
                problem = check_algo(algo, res, ref[algo])
                if problem:
                    self.ctx.outcomes.fail(algo, problem)
        if not self.fit:
            return
        w = self.fit["weights"]
        if not all(np.isfinite(x).all() for x in w):
            self.ctx.outcomes.fail("federated_fit", "non-finite weights")
        auc = self.fit["history"][-1].get("auc")
        if auc is None or not auc > AUC_FLOOR:
            self.ctx.outcomes.fail("federated_fit", f"held-out AUC {auc} not above {AUC_FLOOR}")
        n_nodes = len(ref["connected_components"])
        if self.fit["n_emb"] != n_nodes:
            self.ctx.outcomes.fail("gen_embeddings", f"{self.fit['n_emb']} rows, want {n_nodes}")
        spark = self.ctx.engine.spark
        nodes, edges = self.ctx.engine.mod["catalog"].read_graph(spark, self.store)
        w2, hist2 = self._fit(nodes, edges, self.sink + "_repeat")
        first = (fingerprint(w), auc)
        again = (fingerprint(w2), hist2[-1].get("auc"))
        if again != first:
            self.ctx.outcomes.fail("federated_fit", f"repeat with the same seed gave "
                                   f"(fingerprint, AUC) {again}, first run {first}")

    def _kernel_probe(self) -> float:
        """Seconds of ``GraphSAGELinkModel.fit`` on the largest client's
        arrays, in the driver."""
        kernels = self.ctx.engine.mod["kernels"]
        nodes = pd.read_parquet(os.path.join(self.raw, "nodes.parquet"))
        edges = pd.read_parquet(os.path.join(self.raw, "edges.parquet"))
        pid = int(edges["partition_id"].value_counts().idxmax())
        n = nodes[nodes["partition_id"] == pid].sort_values("id")
        e = edges[edges["partition_id"] == pid]
        idx = {v: i for i, v in enumerate(n["id"])}
        x = np.stack(n["features"].to_numpy()).astype("float64")
        src = e["src"].map(idx).to_numpy("int64")
        dst = e["dst"].map(idx).to_numpy("int64")
        rng = np.random.default_rng(self.ctx.seed)
        neg_u = rng.integers(0, len(x), len(src))
        neg_v = rng.integers(0, len(x), len(src))
        pu = np.concatenate([src, neg_u])
        pv = np.concatenate([dst, neg_v])
        labels = np.concatenate([np.ones(len(src)), np.zeros(len(src))])
        model = kernels.GraphSAGELinkModel(x.shape[1], (10, 10), lr=1e-2, seed=self.ctx.seed,
                                           optimizer="adam", dropout=0.1)
        t0 = time.perf_counter()
        model.fit(x, src, dst, pu, pv, labels, epochs=2)
        return time.perf_counter() - t0

    # -- reporting ---------------------------------------------------------

    def workload_metrics(self) -> dict:
        if not self.fit:
            return {"rounds": self.rounds}
        return {
            "fit_s": self.fit["fit_s"],
            "heldout_auc": self.fit["history"][-1].get("auc"),
            "weight_fingerprint": fingerprint(self.fit["weights"]),
            "rounds": self.rounds,
            "passes": self.passes,
        }

    def layer_metrics(self) -> dict:
        out: dict = {}
        barriers: dict[int, int] = {}  # trace id -> barrier calls in it
        for s in self.ctx.tracer.spans:
            if s.layer == "barrier":
                barriers[s.trace_id] = barriers.get(s.trace_id, 0) + 1
        for algo in ALGOS:
            runs = [o for o in self.ops if o.kind == algo and o.traced]
            # supersteps: the algorithm's own count where it reports one,
            # else the barriers it went through
            steps = [o.info.get("supersteps", barriers.get(o.info["trace_id"], 0)) for o in runs]
            for key, vals in (("s", [o.latency_s for o in runs]),
                              ("driver_s", [o.info["driver_s"] for o in runs]),
                              ("final_s", [o.info["final_s"] for o in runs]),
                              ("supersteps", steps)):
                out[f"graph.{algo}.{key}"] = float(median(vals)) if vals else 0.0
        hist = self.fit.get("history", [])
        rounds = [h["round_wall_s"] for h in hist]
        evals = [s.duration for s in self.ctx.tracer.spans if s.name == "ml._eval_metrics"]
        out.update({
            "ml.round_s": median(rounds) if rounds else 0.0,
            "ml.first_round_s": rounds[0] if rounds else 0.0,
            "ml.eval_s": median(evals) if evals else 0.0,
            "ml.embed_s": self.fit.get("embed_s", 0.0),
            "ml.fit_s": self.fit.get("fit_s", 0.0),
            "ml.heldout_auc": float(self.fit["history"][-1].get("auc") or 0.0) if hist else 0.0,
            "catalog.read_graph_s": self.fit.get("read_graph_s", 0.0),
            "ml.clients": self.clients,
        })
        out.update(self._probes())
        return out

    def _probes(self) -> dict:
        """Single-layer probes, run after the timed phase."""
        ctx = self.ctx
        spark = ctx.engine.spark
        mod = ctx.engine.mod
        tracer = ctx.tracer
        out = {}
        out["ml.kernel_fit_s"] = self._kernel_probe()
        nodes, edges = mod["catalog"].read_graph(spark, self.store)
        g = mod["graph"].Graph(nodes.select("id", "partition_id"), edges)
        t0 = time.perf_counter()
        with tracer.span("graph.sampling.fanout_sample"):
            mod["sampling"].fanout_sample(
                g, roots=nodes.select("id", "partition_id"), fanouts=FANOUTS,
                seed=ctx.seed, group_col="partition_id",
            ).write.format("noop").mode("overwrite").save()
        out["graph.sampling.fanout_s"] = time.perf_counter() - t0
        if self.fit:
            w = self.fit["weights"]
            n_clients = int(nodes.select("partition_id").distinct().count())
            rows = [r for c in range(n_clients)
                    for r in mod["fedavg"].weights_to_rows(w, client_id=str(c), num_examples=c + 1)]
            params = spark.createDataFrame(rows).withColumnRenamed("client_id", "partition_id")
            params = params.localCheckpoint(eager=True)
            t0 = time.perf_counter()
            with tracer.span("operators.fedavg"):
                mod["fedavg"].fedavg(params).collect()
            out["operators.fedavg_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("sources.write_weights_table"):
                mod["weights"].write_weights_table(
                    spark, w, os.path.join(ctx.run_dir, "weights_probe"), round_no=0
                )
            out["sources.weights_sink_s"] = time.perf_counter() - t0
        else:
            out["operators.fedavg_s"] = out["sources.weights_sink_s"] = 0.0
        return out


def check_algo(algo: str, res, want) -> str | None:
    """Compare one algorithm's result frame with networkx's answer
    (JSON: vertex ids arrive as strings)."""
    if algo == "triangle_stats":
        got = int(res["n_triangles"].iloc[0])
        return None if got == want else f"{got} triangles, networkx {want}"
    want = {int(k): v for k, v in want.items()}
    if algo == "pagerank":
        got = dict(zip(res["id"].tolist(), res["rank"].tolist()))
        top = sorted(got, key=lambda v: (-got[v], v))[:TOP_K]
        ref_top = sorted(want, key=lambda v: (-want[v], v))[:TOP_K]
        if top != ref_top:
            return f"top-{TOP_K} {top} vs networkx {ref_top}"
        worst = max(abs(got.get(v, 0.0) - r) for v, r in want.items())
        return None if worst < 1e-9 else f"rank off by {worst:.3g}"
    col = {"core_numbers": "coreness", "connected_components": "component",
           "sssp": "dist"}[algo]
    got = dict(zip(res["id"].tolist(), res[col].tolist()))
    if got != want:
        diff = sorted(v for v in set(got) | set(want) if got.get(v) != want.get(v))[:3]
        return f"{len(got)} vs networkx {len(want)} vertices; differ at {diff}"
    return None


def _wrap_traced(tracer, graph_modules, federated):
    """Spans around the barriers the graph modules bound, and around the
    per-round held-out evaluation inside ``federated_fit``."""
    undo = [wrap_functions(tracer, graph_modules, BARRIERS, "barrier"),
            wrap_functions(tracer, [federated], ["_eval_metrics"], "ml")]
    return lambda: [u() for u in undo]
