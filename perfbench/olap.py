"""``olap_mix``: two query clients and one ingest client on one session.

Query clients: closed loops that share one queue holding the whole
query mix once per ``PASS_BUDGET_S`` of ``--seconds`` in a fixed order,
on a star schema generated from the seed. One op = one query: its plan is built
(``QUERIES[name]``), optimized (``executedPlan`` forced) and executed,
and the rows are collected and later compared with the DuckDB twin in
``ORACLE``.

Ingest client: the event files are drained with
``read_events_stream(max_files_per_trigger=1)`` and ``availableNow`` by
two checkpointed queries at once, ``streaming_exact_dedup`` into one
parquet sink and ``tumbling_value_agg`` into another. (One query cannot
hold both: the aggregate would redefine the dedup's watermark.) One op
= one micro-batch that read rows (its ``batchDuration``). The sinks
must equal batch ``dropDuplicates`` and batch ``tumbling_value_agg``
over the same files.
"""

from __future__ import annotations

import collections
import hashlib
import math
import os
import random
import threading
import time

from pyspark.sql import functions as F

from perfbench.gen import FLUSH_TYPE
from perfbench.stats import Op, fixed_tail_percentile, median

# min_cost_supplier is left out: its DuckDB twin's ROUND(x, 4) rounds
# the double 897.73124999999993 up to 897.7313 where the engine rightly
# gives 897.7312, so its reference is wrong on about one seed in twenty.
RELATIONAL = [
    "flagship_revenue", "market_share", "supplier_lift",
    "salted_join_revenue", "top_supplier_quarter", "pricing_summary",
    "rollup_revenue", "monthly_revenue", "window_topk", "events_tumbling",
    "events_sessionize", "funnel_conversion", "retention_daily",
]
CURATION = [
    "dedup_exact", "minhash_signatures", "tfidf_top_terms", "quality_score",
    "pii_redaction", "chunk_docs", "lang_id_detect",
]
SIMILARITY = ["similarity_topk", "knn_join_topk", "bm25_search"]
MIX = RELATIONAL + CURATION + SIMILARITY
QUERY_CLIENTS = 2
PASS_BUDGET_S = 20  # about one pass over MIX with two clients, 4 cores
# The queue order is one fixed shuffle, part of the workload like the
# mix itself: with an order drawn from the seed, which queries overlap
# changed from run to run and op_p50_s spread 18% over five seeds,
# against 7% with the order fixed. The seed draws the data.
ORDER_SEED = 0
STREAM_TIMEOUT_S = 60


def digest(rows, columns) -> tuple[str, int]:
    """Order-insensitive fingerprint of a result: columns sorted by
    lower-cased name, cells as ``repr`` for floats (every bit counts),
    rows sorted."""
    names = [c.lower() for c in columns]
    idx = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for row in rows:
        cells = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                cells.append("nan" if math.isnan(v) else repr(v))
            elif v is None:
                cells.append("NULL")
            else:
                cells.append(str(v))
        out.append("\x1f".join(cells))
    out.sort()
    h = hashlib.sha256("\x1e".join([",".join(names[i] for i in idx)] + out).encode())
    return h.hexdigest(), len(out)


class OlapMix:
    name = "olap_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.star = os.path.join(ctx.inputs, "star")
        self.events_src = os.path.join(ctx.inputs, "events")
        self.stream_dir = os.path.join(ctx.run_dir, "stream")
        self.ops: list[Op] = []
        self.results: dict[str, list] = {}  # query -> [(digest, n_rows)]
        self.stream: dict = {}
        self._lock = threading.Lock()
        self._work: collections.deque = collections.deque()
        self._seen: dict[str, int] = {}
        self.passes = max(1, int(ctx.seconds) // PASS_BUDGET_S)
        # one op per query, plus one per data file for each stream query
        n_files = len([f for f in os.listdir(self.events_src) if f.endswith(".parquet")])
        self.tail_percentile = fixed_tail_percentile(self.passes * len(MIX) + 2 * n_files)

    # -- timed phase -------------------------------------------------------

    def prime(self) -> None:
        """Nothing to prepare: the queue order is fixed, so the same first
        query pays the first star scan's one-time set-up in every run."""

    def run(self) -> None:
        # the whole mix once per PASS_BUDGET_S, shared by the clients:
        # every run holds the same queries (steady medians, every query
        # checked)
        rng = random.Random(ORDER_SEED)
        # a traced run holds each query twice, once traced and once not,
        # so tracing overhead compares like with like
        copies = 2 if self.ctx.trace else 1
        work = []
        for _ in range(self.passes):
            order = MIX * copies
            rng.shuffle(order)
            work.extend(order)
        self._work = collections.deque(work)
        threads = [threading.Thread(target=self._query_client) for _ in range(QUERY_CLIENTS)]
        threads.append(threading.Thread(target=self._ingest_client))
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _query_client(self) -> None:
        while True:
            with self._lock:
                if not self._work:
                    return
                name = self._work.popleft()
                n = self._seen[name] = self._seen.get(name, 0) + 1
            # which of a query's two runs in a traced run is traced
            # alternates along MIX, so warm caches cancel in the overhead
            self.run_query(name, self.ctx.trace and (n + MIX.index(name)) % 2 == 1)

    def run_query(self, name: str, traced: bool) -> None:
        ctx = self.ctx
        tracer = ctx.tracer
        spark = ctx.engine.spark
        queries = ctx.engine.mod["plans"].QUERIES
        scope = tracer.span("bench.op") if traced else tracer.suspended()
        info: dict = {}
        t0 = time.perf_counter()
        try:
            with scope as root:
                with tracer.span("plans.build"):
                    df = queries[name](spark, self.star)
                t1 = time.perf_counter()
                with tracer.span("plans.optimize"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tracer.span("plans.exec"):
                    rows = df.collect()
                t3 = time.perf_counter()
                if root is not None:
                    info["tag"] = root.tag
        except Exception as exc:  # a failed op is counted, never skipped
            ctx.outcomes.record(False, name, repr(exc))
            return
        info.update(build_s=t1 - t0, optimize_s=t2 - t1, exec_s=t3 - t2)
        result = digest(rows, df.columns)
        with self._lock:
            self.results.setdefault(name, []).append(result)
            self.ops.append(Op(name, t3 - t0, traced, info))
        ctx.outcomes.record(True)

    def _ingest_client(self) -> None:
        ctx = self.ctx
        spark = ctx.engine.spark
        ev = ctx.engine.mod["events"]
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("streaming.ingest"):
                src = ev.read_events_stream(spark, self.events_src, max_files_per_trigger=1)
                cols = src.columns
                keyed = src.withColumn("event_time", F.col("ts").cast("timestamp")).withColumn(
                    "content", F.to_json(F.struct(*cols))
                )
                deduped = (
                    ctx.engine.mod["dedup"]
                    .streaming_exact_dedup(keyed, text_col="content")
                    .select(*cols)
                )
                queries = [
                    _start(deduped, os.path.join(self.stream_dir, "dedup")),
                    _start(ev.tumbling_value_agg(src), os.path.join(self.stream_dir, "windows")),
                ]
                for q in queries:
                    _await(q)
        except Exception as exc:
            ctx.outcomes.record(False, "stream", repr(exc))
            return
        wall = time.perf_counter() - t0
        progress = [p for q in queries for p in q.recentProgress]
        batch_ops = [
            Op("micro_batch", p["batchDuration"] / 1000.0, ctx.trace,
               {"stream": (p["id"], p["batchId"])})
            for p in progress if p["numInputRows"] > 0
        ]
        with self._lock:
            self.ops.extend(batch_ops)
        for _ in batch_ops:
            ctx.outcomes.record(True)
        rows_in = sum(p["numInputRows"] for p in queries[0].recentProgress)
        self.stream = {"progress": progress, "wall_s": wall, "rows": rows_in}

    # -- checks ------------------------------------------------------------

    def check(self) -> None:
        """Outside the timed phase: compare every op's result with its
        DuckDB twin, and the stream's sinks with batch plans over the
        same files."""
        want = self.ctx.reference.result()
        for name, got in sorted(self.results.items()):
            for d in got:
                if d != tuple(want[name]):
                    self.ctx.outcomes.fail(name, f"{d[1]} rows vs oracle {want[name][1]}, "
                                                 "values differ")
        if self.stream:
            self._check_stream()

    def _check_stream(self) -> None:
        spark = self.ctx.engine.spark
        ev = self.ctx.engine.mod["events"]
        real = F.col("event_type") != FLUSH_TYPE
        raw = spark.read.parquet(self.events_src).where(real)

        def windows(df):
            return sorted(
                (str(r["window_start"]), r["event_type"], int(r["n_events"]),
                 round(float(r["total_value"]), 6))
                for r in df.collect()
            )

        got = windows(spark.read.parquet(os.path.join(self.stream_dir, "windows")).where(real))
        want = windows(ev.tumbling_value_agg(raw))
        if got != want:
            self.ctx.outcomes.fail("stream", f"{len(got)} windows vs batch {len(want)}")
        got = spark.read.parquet(os.path.join(self.stream_dir, "dedup")).where(real)
        if digest(got.collect(), got.columns) != digest(raw.dropDuplicates().collect(), raw.columns):
            self.ctx.outcomes.fail("stream", "dedup sink differs from batch dropDuplicates")

    # -- reporting ---------------------------------------------------------

    def workload_metrics(self) -> dict:
        s = self.stream
        return {
            "rows_per_s": s["rows"] / s["wall_s"] if s else float("nan"),
            "stream_rows": s.get("rows", 0),
        }

    def layer_metrics(self) -> dict:
        traced = [o for o in self.ops if o.traced and "build_s" in o.info]

        def med(vals):
            vals = list(vals)
            return median(vals) if vals else 0.0

        def class_p50(names):
            return med(o.latency_s for o in self.ops if o.kind in names)

        out = {
            "plans.build_s": med(o.info["build_s"] for o in traced),
            "plans.optimize_s": med(o.info["optimize_s"] for o in traced),
            "plans.exec_s": med(o.info["exec_s"] for o in traced),
            "plans.relational_p50_s": class_p50(RELATIONAL),
            "functions.curation_p50_s": class_p50(CURATION),
            "operators.similarity_p50_s": class_p50(SIMILARITY),
            "catalog.scan_s": self._scan_probe(),
        }
        out.update(stream_metrics(self.stream.get("progress", [])))
        out["streaming.rows_per_s"] = self.workload_metrics()["rows_per_s"]
        return out

    def _scan_probe(self) -> float:
        """Time to scan every star table through ``catalog.load_table``."""
        spark = self.ctx.engine.spark
        catalog = self.ctx.engine.mod["catalog"]
        t0 = time.perf_counter()
        with self.ctx.tracer.span("catalog.scan"):
            for t in sorted(os.listdir(self.star)):
                df = catalog.load_table(spark, self.star, t[: -len(".parquet")])
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def _start(df, path: str):
    """A checkpointed ``availableNow`` parquet sink at ``path``."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", path + ".checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _await(q) -> None:
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream {q.id} still running after {STREAM_TIMEOUT_S}s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def stream_metrics(progress: list) -> dict:
    """Per-batch streaming figures from ``StreamingQuery.recentProgress``."""
    names = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
    out = {}
    for n in names:
        vals = [p["durationMs"].get(n, 0) for p in progress]
        out[f"streaming.{_snake(n)}_ms"] = median(vals) if vals else 0.0
    commits = [sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
               for p in progress]
    out["streaming.state_commit_ms"] = median(commits) if commits else 0.0
    last = {p["id"]: p for p in progress}.values()  # final batch of each query
    out["streaming.state_rows_total"] = float(
        sum(s.get("numRowsTotal", 0) for p in last for s in p.get("stateOperators", []))
    )
    mem = [sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", []))
           for p in progress]
    out["streaming.state_mem_mb"] = max(mem) / 2**20 if mem else 0.0
    out["streaming.nonempty_batch_frac"] = (
        sum(1 for p in progress if p["numInputRows"] > 0) / len(progress) if progress else 0.0
    )
    return out


def _snake(name: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in name)
