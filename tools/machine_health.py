"""Machine-health probe: hypervisor CPU steal + single-core throughput.

Bench numbers on a shared host are only interpretable next to the
conditions they ran under.  Round-8 finding: a quiet-start (load 0.2)
full-sidecar re-run still read +45% vs the round-7 artifact with ZERO
plan deltas on the moved queries; this probe measured **18.5% CPU steal
under full 32-core load** at that moment — the host was overcommitted,
and steal lands super-linearly on Spark stage times (a stage ends at its
slowest task, so the straggler eats the steal burst).  The scaling
bench (``tools/bench_scale.py``) embeds this probe's output so its
artifacts can separate "the code got slower" from "the host got busier".

    python tools/machine_health.py          # one JSON line
"""

from __future__ import annotations

import json
import multiprocessing as mp
import time


def _burn(stop_t: float) -> None:
    x = 0
    while time.time() < stop_t:
        for i in range(100_000):
            x += i * i


def _cpu_ticks() -> list[int]:
    # /proc/stat first line: user nice system idle iowait irq softirq steal
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def probe(
    seconds: float = 10.0,
    nprocs: int | None = None,
    cooldown_s: float = 2.0,
) -> dict:
    """Measure steal%% under full load and a single-core loop time.

    Returns {"steal_pct_under_load", "idle_pct_under_load",
    "py_loop_s", "nprocs", "probe_s"} — cheap (~seconds+3 wall).

    NOT side-effect-free: steal is only observable under load, so the
    probe PINS every core at 100%% for ``seconds`` — on a thermally- or
    hypervisor-throttled host that can itself shift turbo/steal state
    for the moments after it returns (round-8 advice).  A short
    ``cooldown_s`` sleep after the burn lets the scheduler drain before
    a timed run starts; bump it if the first benched query looks
    suspiciously slow.
    """
    n = nprocs or mp.cpu_count()
    # single-core throughput first (quiet reference point)
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i * i
    loop_s = time.perf_counter() - t0

    stop_t = time.time() + seconds
    procs = [mp.Process(target=_burn, args=(stop_t,)) for _ in range(n)]
    s0 = _cpu_ticks()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    s1 = _cpu_ticks()
    if cooldown_s:
        time.sleep(cooldown_s)
    d = [b - a for a, b in zip(s0, s1)]
    tot = sum(d) or 1
    return {
        "steal_pct_under_load": round(100.0 * d[7] / tot, 1),
        "idle_pct_under_load": round(100.0 * d[3] / tot, 1),
        "py_loop_s": round(loop_s, 3),
        "nprocs": n,
        "probe_s": seconds,
    }


if __name__ == "__main__":
    print(json.dumps(probe()))
