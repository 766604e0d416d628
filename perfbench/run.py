"""Benchmark of record for the federated_gcn_spark engine.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 30 --trace 0

Runs one workload in this process on ``local[nproc]``: generates its
inputs from ``--seed`` in a separate generator process, sets the engine
up once from cold (``setup_s``: process start until the engine is ready,
less the generator's time), measures for ``--seconds``, checks every result, and prints each end-to-end metric
by name and unit, a JSON detail line, and as the last line a JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 1`` reports the per-layer metrics instead.
Exits 0 only when every correctness check passed. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("olap_mix", "graph_ml")
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
WATCHDOG_S = 170  # the run must end within 180 s whatever happens


@dataclass
class RunContext:
    engine: object
    tracer: object
    outcomes: object
    reference: object
    inputs: str
    run_dir: str
    seed: int
    seconds: float
    cores: int
    trace: bool


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "federated_gcn_spark", "__init__.py"))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: no federated_gcn_spark package next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers must import this checkout's engine; scratch files
    # stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    watchdog = threading.Timer(WATCHDOG_S, _watchdog_exit)
    watchdog.daemon = True
    watchdog.start()
    try:
        report = run(args, run_dir, cores)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)
    print_report(report)
    return 0 if report["result"]["correct"] else 1


def _watchdog_exit() -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S}s, aborting", file=sys.stderr)
    sys.stderr.flush()
    os._exit(3)  # the JVM exits when its parent's pipe closes


def run(args, run_dir: str, cores: int) -> dict:
    from perfbench import harness, layers
    from perfbench.reference import Reference
    from perfbench.stats import Outcomes, median, op_tail, tail_percentile
    from perfbench.trace import Tracer

    ticks0 = harness.cpu_ticks()
    inputs = os.path.join(run_dir, "inputs")
    t_gen = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"),
         args.workload, str(args.seed), inputs],
        capture_output=True, text=True, timeout=120, check=True,
    )
    gen_s = time.perf_counter() - t_gen
    shape = json.loads(gen.stdout.strip().splitlines()[-1])
    reference = Reference(args.workload, inputs, os.path.join(run_dir, "reference.json"))

    try:
        conf = harness.spark_conf(run_dir, bool(args.trace))
        with harness.RssSampler(os.getpid(), harness.heap_log(run_dir),
                                exclude={reference.proc.pid}) as rss:
            engine, setup = harness.setup(conf, cores)
            # the engine's imports, JVM launch and session start are all
            # cold here: nothing before this point touched pyspark
            setup["since_process_start_s"] = time.perf_counter() - PROCESS_START - gen_s
            tracer = Tracer(engine.sc if args.trace else None)
            outcomes = Outcomes()
            ctx = RunContext(engine, tracer, outcomes, reference, inputs, run_dir,
                             args.seed, args.seconds, cores, bool(args.trace))
            workload = _workload(args.workload)(ctx)
            t_prime = time.perf_counter()
            workload.prime()
            t0 = time.perf_counter()
            workload.run()
            wall = time.perf_counter() - t0
            workload.check()
            t_check = time.perf_counter()
            layer = workload.layer_metrics() if args.trace else {}
            extra = workload.workload_metrics()
            live_heap = harness.live_heap_bytes(engine.spark)
            if rss.heap is None:
                raise RuntimeError("the JVM did not log its heap range")
            harness.shutdown(engine)
        phases = {"prime_s": t0 - t_prime, "check_s": t_check - t0 - wall,
                  "after_check_s": time.perf_counter() - t_check}
    finally:
        reference.close()
    host = harness.host_state(ticks0, harness.cpu_ticks())

    ops = workload.ops
    lat = [o.latency_s for o in ops]
    tail_p = workload.tail_percentile
    if lat:
        tail, beyond = op_tail(lat, tail_p)
        p50 = median(lat)
    else:
        tail, beyond, p50 = float("nan"), 0, float("nan")
    metrics = {
        "setup_s": setup["since_process_start_s"],
        "op_p50_s": p50,
        "op_tail_s": tail,
        "ops_per_s": len(ops) / wall,
        "peak_rss_mb": (rss.peak + live_heap) / 2**20,
    }
    end_to_end = metrics
    if args.trace:
        metrics = layers.per_layer(layer, setup, ops, tracer.spans, run_dir, cores)
        trace_dir = os.path.join(ROOT, ".bench_run", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
    correct = outcomes.failed == 0 and bool(ops) and all(
        isinstance(v, (int, float)) and math.isfinite(v) for v in metrics.values()
    )
    units = END_TO_END if not args.trace else layers.UNITS
    result = {
        "correct": correct,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_shape": shape,
        "host": host,
        "setup": setup,
        "generator_s": gen_s,
        "timed_wall_s": wall,
        "phases": phases,
        "peak_rss_outside_heap_mb": {k: round(v / 2**20, 1) for k, v in rss.peak_split.items()},
        "live_heap_mb": round(live_heap / 2**20, 1),
        "ops": len(ops),
        "tail_percentile": tail_p,
        "tail_samples_beyond": beyond,
        "rule_percentile": tail_percentile(len(ops)),
        "failed_frac": outcomes.failed_frac,
        "failures": outcomes.failures[:20],
        "op_latencies": [(o.kind, round(o.latency_s, 3)) for o in ops],
        "workload_metrics": extra,
        "end_to_end": end_to_end,
    }
    return {"result": result, "detail": detail}


def _workload(name: str):
    if name == "olap_mix":
        from perfbench.olap import OlapMix

        return OlapMix
    from perfbench.graph_ml import GraphMl

    return GraphMl


def print_report(report: dict) -> None:
    result, detail = report["result"], report["detail"]
    for name, m in result["metrics"].items():
        print(f"{name:<40} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_frac':<40} {detail['failed_frac']:.6g} "
          f"({result['failed']}/{result['attempted']})")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
