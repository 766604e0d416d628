"""Reference answers, computed by other engines in their own process
while the engine under test starts up.

    python3 perfbench/reference.py <workload> <inputs_dir> <out.json>

``olap_mix``: each query's DuckDB twin from the engine's ``ORACLE``
registry over the star tables, as {query: [digest, rows]} with the same
order-insensitive digest the benchmark takes of the engine's results.
``graph_ml``: networkx answers for the analytics algorithms.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 60
PAGERANK_STEPS = 10
SSSP_HOPS = 6


class Reference:
    """Handle on a running reference process."""

    def __init__(self, workload: str, inputs: str, out: str):
        self.out = out
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), workload, inputs, out],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        )

    def close(self) -> None:
        """Stop the process if nobody waited for it (a failed run)."""
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.communicate()

    def result(self) -> dict:
        _, err = self.proc.communicate(timeout=TIMEOUT_S)
        if self.proc.returncode != 0:
            raise RuntimeError(f"reference process failed: {err[-800:]}")
        with open(self.out) as fh:
            return json.load(fh)


def olap_answers(inputs: str) -> dict:
    import duckdb

    from federated_gcn_spark.plans import ORACLE
    from perfbench.olap import MIX, digest

    star = os.path.join(inputs, "star")
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # runs beside the engine's start-up
    for f in sorted(os.listdir(star)):
        path = os.path.join(star, f)
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet('{path}')")
    answers = {}
    for name in MIX:
        res = con.execute(ORACLE[name])
        answers[name] = digest(res.fetchall(), [d[0] for d in res.description])
    return answers


def hub(edges) -> int:
    """Highest-degree vertex, lowest id on ties: the SSSP source."""
    import pandas as pd

    deg = pd.concat([edges["src"], edges["dst"]]).value_counts()
    return int(deg[deg == deg.max()].index.min())


def graph_answers(inputs: str) -> dict:
    import networkx as nx
    import numpy as np
    import pandas as pd

    d = os.path.join(inputs, "graph")
    ids = pd.read_parquet(os.path.join(d, "nodes.parquet"), columns=["id"])["id"].tolist()
    edges = pd.read_parquet(os.path.join(d, "edges.parquet"), columns=["src", "dst"])
    g = nx.Graph()
    g.add_nodes_from(ids)
    g.add_edges_from(zip(edges["src"].tolist(), edges["dst"].tolist()))
    order = sorted(g.nodes)
    # pagerank: the engine's synchronous steps from the uniform vector,
    # i.e. power steps on networkx's Google matrix (dangling mass spread)
    m = np.asarray(nx.google_matrix(g, alpha=0.85, nodelist=order))
    x = np.full(len(order), 1.0 / len(order))
    for _ in range(PAGERANK_STEPS):
        x = x @ m
    source = hub(edges)
    return {
        "core_numbers": {v: c for v, c in nx.core_number(g).items() if g.degree(v) > 0},
        "connected_components": {v: min(c) for c in nx.connected_components(g) for v in c},
        "triangle_stats": sum(nx.triangles(g).values()) // 3,
        "sssp": dict(nx.single_source_shortest_path_length(g, source, cutoff=SSSP_HOPS)),
        "pagerank": dict(zip(order, x.tolist())),
        "sssp_source": source,
    }


if __name__ == "__main__":
    os.nice(19)  # yield the CPU to the engine starting beside it
    sys.path.insert(0, ROOT)
    workload, inputs, out = sys.argv[1:4]
    answers = olap_answers(inputs) if workload == "olap_mix" else graph_answers(inputs)
    with open(out, "w") as fh:
        json.dump(answers, fh)
