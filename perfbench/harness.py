"""Engine set-up, host state and process memory for one benchmark run."""

from __future__ import annotations

import gc
import importlib
import os
import re
import subprocess
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "federated_gcn_spark"
CLEANER_WAIT_S = 0.5
LIVE_HEAP_MAX_GCS = 8


@dataclass
class Engine:
    spark: object
    mod: dict = field(default_factory=dict)  # short name -> imported module

    @property
    def sc(self):
        return self.spark.sparkContext


# Modules the workloads call into.
ENGINE_MODULES = {
    "session": f"{PACKAGE}.session",
    "plans": f"{PACKAGE}.plans",
    "catalog": f"{PACKAGE}.catalog",
    "barrier": f"{PACKAGE}.barrier",
    "graph": f"{PACKAGE}.graph",
    "components": f"{PACKAGE}.graph.components",
    "pagerank": f"{PACKAGE}.graph.pagerank",
    "kcore": f"{PACKAGE}.graph.kcore",
    "triangles": f"{PACKAGE}.graph.triangles",
    "sssp": f"{PACKAGE}.graph.sssp",
    "sampling": f"{PACKAGE}.graph.sampling",
    "federated": f"{PACKAGE}.ml.federated",
    "kernels": f"{PACKAGE}.ml.kernels",
    "fedavg": f"{PACKAGE}.operators.fedavg",
    "weights": f"{PACKAGE}.sources.weights",
    "events": f"{PACKAGE}.streaming.events",
    "dedup": f"{PACKAGE}.streaming.dedup",
}


def _warm_batches(batches):
    for pdf in batches:
        yield pdf


def setup(conf: dict, cores: int) -> tuple[Engine, dict]:
    """Import the engine, start its session and spawn the Python workers.

    Returns the engine and the time of each step. The warm-up runs one
    pandas-UDF job over ``cores`` partitions, so every task slot has a
    live Python worker before any timed op."""
    t0 = time.perf_counter()
    mod = {k: importlib.import_module(v) for k, v in ENGINE_MODULES.items()}
    t1 = time.perf_counter()
    spark = mod["session"].get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(0, 1 << 12, 1, cores).mapInPandas(_warm_batches, "id long").count()
    t3 = time.perf_counter()
    return Engine(spark, mod), {
        "registry_import_s": t1 - t0,
        "session_start_s": t2 - t1,
        "python_worker_warm_s": t3 - t2,
        "total_s": t3 - t0,
    }


def live_heap_bytes(spark) -> int:
    """Bytes the JVM heap still holds once all that the run dropped is
    collected: Python's proxies of JVM objects first, then full JVM
    collections, with pauses in which Spark's ContextCleaner removes the
    blocks of the datasets a collection freed, until one frees less than
    1% (freed blocks free further objects: it took three in practice)."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(LIVE_HEAP_MAX_GCS):
        jvm.java.lang.System.gc()
        before, used = used, heap.getHeapMemoryUsage().getUsed()
        if before is not None and used > 0.99 * before:
            break
        time.sleep(CLEANER_WAIT_S)
    return used


def shutdown(engine: Engine) -> None:
    """Stop the session, then the JVM it runs in (its Python workers exit
    with it), and wait for the JVM to end."""
    from pyspark import SparkContext

    engine.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spark_conf(run_dir: str, trace: bool) -> dict:
    """Session settings of a benchmark run; everything the engine
    writes stays under ``run_dir``. The driver memory is the engine's
    own default. The JVM logs its heap's address range to
    ``heap_log(run_dir)``, so the memory sampler can tell the heap's
    pages from the rest of the JVM's."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp} -Xlog:gc+heap+coops=debug:file={heap_log(run_dir)}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        conf["spark.eventLog.compress"] = "false"
    return conf


# ---------------------------------------------------------------------------
# host state
# ---------------------------------------------------------------------------

def cpu_ticks() -> list[int]:
    """/proc/stat aggregate: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def host_state(ticks_before: list[int], ticks_after: list[int]) -> dict:
    d = [b - a for a, b in zip(ticks_before, ticks_after)]
    tot = sum(d) or 1
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "steal_pct": round(100.0 * d[7] / tot, 2),
        "idle_pct": round(100.0 * d[3] / tot, 2),
    }


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def heap_log(run_dir: str) -> str:
    return os.path.join(run_dir, "jvm-heap.log")


_HEX = frozenset("0123456789abcdef")
_HEAP_LINE = re.compile(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB")


def heap_range(log_path: str) -> tuple[int, int] | None:
    """[start, end) of the JVM heap's address reservation, from the
    ``gc+heap+coops`` log line, or None while it is not written yet."""
    try:
        with open(log_path) as fh:
            m = _HEAP_LINE.search(fh.read())
    except OSError:
        return None
    if m is None:
        return None
    start = int(m.group(1), 16)
    return start, start + int(m.group(2)) * 2**20


def pss_outside(smaps_lines, heap: tuple[int, int]) -> int:
    """Pss in bytes of the mappings of one ``/proc/<pid>/smaps`` that lie
    outside the address range ``heap``. A mapping's header line starts
    with its hex start address; its field names start upper-case."""
    total = 0
    inside = False
    for line in smaps_lines:
        if line[0] in _HEX:
            start = int(line[:line.index("-")], 16)
            inside = heap[0] <= start < heap[1]
        elif not inside and line.startswith("Pss:"):
            total += int(line[4:].split()[0]) * 1024
    return total


def tree_rss(root_pid: int, exclude=(), heap: tuple[int, int] | None = None) -> dict[str, int]:
    """Resident memory in bytes of ``root_pid`` and all its descendants
    (the driver, the JVM it launched and the JVM's Python workers) by
    program name, leaving out the subtrees of ``exclude`` and, in every
    ``java`` process, the pages of the heap address range ``heap``.

    Each process counts its proportional set size (Pss): forked Python
    workers share their parent's pages, and a JVM briefly forks helper
    processes that share all of its heap, so plain RSS summed over the
    tree would count those pages several times."""
    kids = _children_map()
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            if heap is not None and name == "java":
                with open(f"/proc/{pid}/smaps") as fh:
                    rss = pss_outside(fh, heap)
            else:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    rss = next(int(line.split()[1]) * 1024 for line in fh
                               if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0) + rss
    return out


class RssSampler:
    """Background thread keeping the peak total of ``tree_rss`` outside
    the JVM heap (its range read from ``heap_log_path`` once the JVM has
    written it) and the split by program at that moment."""

    def __init__(self, root_pid: int, heap_log_path: str, exclude=(),
                 interval_s: float = 0.25):
        self.root_pid = root_pid
        self.heap_log_path = heap_log_path
        self.heap: tuple[int, int] | None = None
        self.exclude = set(exclude)
        self.interval_s = interval_s
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        if self.heap is None:
            self.heap = heap_range(self.heap_log_path)
        split = tree_rss(self.root_pid, self.exclude, self.heap)
        total = sum(split.values())
        if total > self.peak:
            self.peak, self.peak_split = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
