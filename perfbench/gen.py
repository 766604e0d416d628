"""Seeded input generators for the benchmark workloads.

Each generator writes plain parquet files with numpy/pandas/pyarrow only
(no Spark), so the engine under test never helps build its own inputs.
The same ``seed`` always yields byte-identical tables.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

prints one JSON line: the input shape that the result records next to
its metrics.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the star schema (the sf0.01 shape).
STAR_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.14, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def write_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def _days(rng, n: int, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped star schema plus the events/documents/embeddings
    side tables the registry queries read (value domains as in the
    engine's test data, so every query in the mix returns rows)."""
    rng = np.random.default_rng([seed, 1])
    n = STAR_ROWS
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    nc = n["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    pk = np.arange(npart, dtype="int64")
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no, p=[0.49, 0.49, 0.02]),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    l_part = rng.integers(0, npart, nl).astype("int64")
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.9, 2.1, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
        }
    )
    t["events"] = events_frame(rng, 0, n["events"], max(10, n["events"] // 66), 30 * 86400)
    t["documents"] = documents_frame(rng, n["documents"])
    ne = n["embeddings"]
    emb = rng.normal(size=(ne, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(ne, dtype="int64"),
            "embedding": list(emb.astype("float32")),
            "label": rng.integers(0, 10, ne).astype("int32"),
        }
    )
    return t


def events_frame(rng, first_id: int, n: int, n_users: int, span_s: float,
                 t0_s: float = 0.0) -> pd.DataFrame:
    """``n`` time-ordered events spread over ``span_s`` seconds."""
    offs = np.sort(rng.random(n)) * span_s + t0_s
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype="int64"),
            "ts": EVENT_T0 + (offs * 1e6).astype("int64").astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_frame(rng, n: int) -> pd.DataFrame:
    """Bag-of-words documents; 5% are an earlier document plus " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 80)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )


def write_star(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed)
    for name, df in tables.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


FLUSH_TYPE = "flush"
EVENT_FILES = 2
EVENTS_PER_FILE = 500
FILE_SPAN_S = 300
LATE_SHARE = 0.05
DUP_SHARE = 0.02


def event_files(seed: int) -> list[pd.DataFrame]:
    """Event files as an ingest source delivers them.

    File i carries the events of event-time slice i, shuffled (out of
    order), except that LATE_SHARE of them arrive one file late and
    DUP_SHARE are re-delivered verbatim in the next file. A slice is
    FILE_SPAN_S = 5 minutes, so a late or re-delivered event is at most
    10 minutes behind the newest event seen: inside the 10-minute
    watermark of ``tumbling_value_agg``/``streaming_exact_dedup``, so no
    event is dropped as too late and the stream must agree exactly with
    the batch aggregate. A last one-row file with event type ``flush``,
    a day later, advances the watermark so every real window closes.
    """
    rng = np.random.default_rng([seed, 2])
    slices = [
        events_frame(rng, i * EVENTS_PER_FILE, EVENTS_PER_FILE, 150, FILE_SPAN_S,
                     t0_s=i * FILE_SPAN_S)
        for i in range(EVENT_FILES)
    ]
    files: list[list[pd.DataFrame]] = [[s] for s in slices]
    for i in range(EVENT_FILES - 1):
        s = files[i][0]
        late = rng.random(len(s)) < LATE_SHARE
        dup = rng.random(len(s)) < DUP_SHARE
        files[i + 1].append(s[late | dup])
        files[i][0] = s[~late]
    out = []
    for parts in files:
        f = pd.concat(parts, ignore_index=True)
        out.append(f.iloc[rng.permutation(len(f))].reset_index(drop=True))
    flush = events_frame(rng, EVENT_FILES * EVENTS_PER_FILE, 1, 1, 1.0,
                         t0_s=EVENT_FILES * FILE_SPAN_S + 86400)
    flush["event_type"] = FLUSH_TYPE
    out.append(flush)
    return out


def write_event_files(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    files = event_files(seed)
    late = 0
    seen_max = None
    for i, f in enumerate(files):
        write_parquet(f, os.path.join(out_dir, f"part-{i:05d}.parquet"))
        if seen_max is not None:
            late += int((f["ts"] < seen_max).sum())
        fmax = f["ts"].max()
        seen_max = fmax if seen_max is None else max(seen_max, fmax)
    rows = sum(len(f) for f in files)
    return {"files": len(files), "rows": rows, "late_share": round(late / rows, 4)}


# The graph's topology comes from this fixed draw; the workload seed
# relabels the vertices and draws the features. How many supersteps the
# fixpoint algorithms need depends on the topology alone, and with a
# seeded topology it ranged over 12-32 h-index rounds for core numbers
# between seeds: a change of input size, not run-to-run noise.
TOPOLOGY_SEED = 20240101
CLIENTS = 8
NODES_PER_CLIENT = 400
FEATURE_DIM = 64
COMMUNITIES = 4
EDGES_PER_CLIENT = 1500
ALPHA = 2.5  # degree-tail exponent the Chung-Lu weights aim at
P_CROSS = 0.1  # keep-probability of a pair across communities
SIGNAL = 2.0  # centroid scale against unit feature noise


def fed_graph(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Planted-community graph split into CLIENTS federated partitions.

    Inside a client, endpoints are drawn Chung-Lu style (weight of the
    i-th node ~ (i+1)^(-1/(ALPHA-1)), a power-law degree tail); a pair
    in different communities is kept with probability P_CROSS.
    Features are SIGNAL times the node's community centroid plus unit
    noise, so link prediction has something to learn. Node ids are
    global: client * N + a seeded relabelling of 0..N-1.
    """
    topo = np.random.default_rng([TOPOLOGY_SEED, 3])
    rng = np.random.default_rng([seed, 3])
    n = NODES_PER_CLIENT
    w = (np.arange(n) + 1.0) ** (-1.0 / (ALPHA - 1.0))
    w /= w.sum()
    centroids = rng.normal(size=(COMMUNITIES, FEATURE_DIM))
    nodes, edges = [], []
    for c in range(CLIENTS):
        comm = topo.integers(0, COMMUNITIES, n)
        draws = EDGES_PER_CLIENT * 4
        u = topo.choice(n, draws, p=w)
        v = topo.choice(n, draws, p=w)
        keep = (u != v) & ((comm[u] == comm[v]) | (topo.random(draws) < P_CROSS))
        pairs = np.unique(np.stack([np.minimum(u, v), np.maximum(u, v)], 1)[keep], axis=0)
        pairs = pairs[topo.permutation(len(pairs))[:EDGES_PER_CLIENT]]
        label = rng.permutation(n)  # vertex i is called base + label[i]
        base = c * n
        x = (SIGNAL * centroids[comm] + rng.normal(size=(n, FEATURE_DIM))).astype("float32")
        order = np.argsort(label)
        nodes.append(pd.DataFrame(
            {"id": base + np.arange(n, dtype="int64"), "features": list(x[order]),
             "partition_id": np.full(n, c, dtype="int64")}
        ))
        a, b = label[pairs[:, 0]], label[pairs[:, 1]]
        e = np.stack([np.minimum(a, b), np.maximum(a, b)], 1)
        e = e[np.lexsort((e[:, 1], e[:, 0]))]
        edges.append(pd.DataFrame(
            {"src": base + e[:, 0].astype("int64"),
             "dst": base + e[:, 1].astype("int64"),
             "partition_id": np.full(len(e), c, dtype="int64")}
        ))
    return pd.concat(nodes, ignore_index=True), pd.concat(edges, ignore_index=True)


def hill_alpha(edges: pd.DataFrame, d_min: int = 5) -> float:
    """Hill MLE of the degree-tail exponent over degrees >= d_min."""
    deg = np.bincount(np.concatenate([edges["src"], edges["dst"]]))
    d = deg[deg >= d_min]
    s = float(np.log(d / d_min).sum())
    return round(1.0 + len(d) / s, 3) if s else float("nan")


def write_fed_graph(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    nodes, edges = fed_graph(seed)
    write_parquet(nodes, os.path.join(out_dir, "nodes.parquet"))
    write_parquet(edges, os.path.join(out_dir, "edges.parquet"))
    return {
        "clients": int(nodes["partition_id"].nunique()),
        "nodes": len(nodes),
        "edges": len(edges),
        "feature_dim": len(nodes["features"].iloc[0]),
        "communities": COMMUNITIES,
        "hill_alpha": hill_alpha(edges),
    }


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """All inputs of one workload under ``out_dir``; returns their shape."""
    if workload == "olap_mix":
        return {
            "star": write_star(os.path.join(out_dir, "star"), seed),
            "stream": write_event_files(os.path.join(out_dir, "events"), seed),
        }
    if workload == "graph_ml":
        return {"graph": write_fed_graph(os.path.join(out_dir, "graph"), seed)}
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
