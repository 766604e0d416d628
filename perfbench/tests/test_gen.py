import pandas as pd

from perfbench import gen


def _same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return a.astype(str).equals(b.astype(str))


def test_star_tables_repeat_for_a_seed_and_change_with_it():
    a, b, c = gen.star_tables(7), gen.star_tables(7), gen.star_tables(8)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(_same(a[t], b[t]) for t in a)
    assert not _same(a["lineitem"], c["lineitem"])


def test_event_files_repeat_and_hold_late_and_duplicate_events():
    a, b = gen.event_files(3), gen.event_files(3)
    assert len(a) == len(b) == 3
    assert all(_same(x, y) for x, y in zip(a, b))
    assert a[-1]["event_type"].tolist() == [gen.FLUSH_TYPE]
    real = pd.concat(a[:-1])
    assert real["event_id"].duplicated().any()  # re-delivered verbatim
    late = sum(int((f["ts"] < a[i]["ts"].max()).sum()) for i, f in enumerate(a[1:-1]))
    assert late > 0
    # nothing arrives more than the 10-minute watermark behind
    newest = a[0]["ts"].max()
    for f in a[1:-1]:
        assert (newest - f["ts"].min()) < pd.Timedelta(minutes=10)
        newest = max(newest, f["ts"].max())


def test_fed_graph_repeats_and_has_the_stated_shape():
    (n1, e1), (n2, e2) = gen.fed_graph(5), gen.fed_graph(5)
    assert _same(n1, n2) and _same(e1, e2)
    assert n1["partition_id"].nunique() == 8 and len(n1) == 8 * 400
    assert len(e1) == 8 * 1500
    assert (e1["src"] < e1["dst"]).all()
    assert not e1.duplicated(["src", "dst"]).any()
    # every edge stays inside its client
    assert ((e1["src"] // 400) == e1["partition_id"]).all()
    assert 2.0 < gen.hill_alpha(e1) < 4.0
    n3, e3 = gen.fed_graph(6)
    assert not _same(n1, n3) and not _same(e1, e3)
    # another seed relabels the same topology: same degree sequence
    deg = [sorted(pd.concat([e["src"], e["dst"]]).value_counts().tolist()) for e in (e1, e3)]
    assert deg[0] == deg[1]
