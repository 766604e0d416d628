"""Per-layer metrics of a traced run.

Every workload reports the same names; a layer that did no work in a
workload reports 0 (e.g. ``barrier.calls`` on ``olap_mix``, which is
the prediction, not a gap).
"""

from __future__ import annotations

import os

from perfbench.stats import layer_self_times, trace_overhead
from perfbench.trace import EventLog, find_event_log

ALGOS = ("core_numbers", "pagerank", "connected_components", "sssp", "triangle_stats")
SELF_LAYERS = ("bench", "plans", "catalog", "graph", "barrier", "ml", "streaming",
               "operators", "sources")

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.registry_import_s": "s",
    "session.python_worker_warm_s": "s",
    "catalog.scan_s": "s",
    "catalog.read_graph_s": "s",
    "sources.weights_sink_s": "s",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "plans.exec_s": "s",
    "plans.relational_p50_s": "s",
    "functions.curation_p50_s": "s",
    "operators.similarity_p50_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.failed_tasks": "count",
    "spark.skipped_stage_frac": "ratio",
    "spark.core_busy_frac": "ratio",
    **{f"graph.{a}.{k}": u for a in ALGOS
       for k, u in (("s", "s"), ("supersteps", "count"), ("driver_s", "s"), ("final_s", "s"))},
    "barrier.calls": "count",
    "barrier.s_per_call": "s",
    "ml.round_s": "s",
    "ml.first_round_s": "s",
    "ml.eval_s": "s",
    "ml.embed_s": "s",
    "ml.fit_s": "s",
    "ml.heldout_auc": "ratio",
    "ml.kernel_fit_s": "s",
    "ml.client_parallelism": "ratio",
    "graph.sampling.fanout_s": "s",
    "operators.fedavg_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.nonempty_batch_frac": "ratio",
    "streaming.rows_per_s": "1/s",
    **{f"self.{layer}_s_per_op": "s" for layer in SELF_LAYERS},
    "trace.op_p50_traced_s": "s",
    "trace.op_p50_untraced_s": "s",
    "trace.overhead_s": "s",
    "trace.paired_kinds": "count",
}


def per_layer(layer: dict, setup: dict, ops: list, spans: list, run_dir: str,
              cores: int) -> dict:
    out = dict.fromkeys(UNITS, 0.0)
    out.update({k: v for k, v in layer.items() if k in UNITS})
    out["session.start_s"] = setup["session_start_s"]
    out["session.registry_import_s"] = setup["registry_import_s"]
    out["session.python_worker_warm_s"] = setup["python_worker_warm_s"]

    traced = [o for o in ops if o.traced]
    n_traced = max(1, len(traced))
    for name, secs in layer_self_times(spans).items():
        key = f"self.{name}_s_per_op"
        if key in out:
            out[key] = secs / n_traced
    barrier = [s for s in spans if s.layer == "barrier"]
    if barrier:
        out["barrier.calls"] = len(barrier) / n_traced
        out["barrier.s_per_call"] = sum(s.duration for s in barrier) / len(barrier)
    on, off, diff, pairs = trace_overhead(ops)
    if pairs:
        out["trace.op_p50_traced_s"], out["trace.op_p50_untraced_s"] = on, off
        out["trace.overhead_s"] = diff
    out["trace.paired_kinds"] = float(pairs)

    log_path = find_event_log(os.path.join(run_dir, "eventlog"))
    if log_path:
        clients = int(layer.get("ml.clients", 0))
        out.update(spark_metrics(EventLog(log_path), traced, spans, cores, clients))
    return out


def spark_metrics(log: EventLog, traced: list, spans: list, cores: int,
                  clients: int) -> dict:
    """Executor-side figures of the traced ops, from the event log.

    Ops that share one span (the rounds of one ``federated_fit`` call)
    share its jobs equally."""
    groups: dict = {}
    for o in traced:
        key = o.info.get("tag") or o.info.get("stream")
        if key is not None:
            groups.setdefault(key, []).append(o)
    tot = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
           "stages_listed": 0, "stages_skipped": 0}
    wall = 0.0
    n_ops = 0
    for key, members in groups.items():
        jobs = log.jobs_of_batch(*key) if isinstance(key, tuple) else log.jobs_tagged(key)
        m = log.job_metrics(jobs)
        for k in tot:
            tot[k] += m[k]
        wall += sum(o.latency_s for o in members)
        n_ops += len(members)
    n_ops = max(1, n_ops)
    out = {
        "spark.jobs_per_op": tot["jobs"] / n_ops,
        "spark.tasks_per_op": tot["tasks"] / n_ops,
        "spark.task_s_per_op": tot["task_s"] / n_ops,
        "spark.shuffle_write_mb_per_op": tot["shuffle_bytes"] / 2**20 / n_ops,
        "spark.failed_tasks": float(sum(s["failed"] for s in log.stages.values())),
        "spark.skipped_stage_frac": (
            tot["stages_skipped"] / tot["stages_listed"] if tot["stages_listed"] else 0.0
        ),
        "spark.core_busy_frac": tot["task_s"] / (wall * cores) if wall else 0.0,
    }
    fit = [s for s in spans if s.name == "ml.federated_fit"]
    if fit and clients:
        # the training stage is the costliest stage of the fit's jobs
        m = log.job_metrics(log.jobs_tagged(fit[0].tag))
        if m["max_stage"] is not None:
            out["ml.client_parallelism"] = m["max_stage"]["tasks"] / min(clients, cores)
    return out
