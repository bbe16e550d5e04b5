"""Synchronous LPA vs a reference Python loop with the identical
deterministic tie-break (max count, then min label)."""

from collections import Counter

from tests.conftest import forced_route, random_graph

from graphsetintersection_spark.operators.labelprop import label_propagation


def python_lpa(pairs, rounds):
    und = {(u, v) for u, v in pairs if u != v}
    und |= {(v, u) for u, v in und}
    verts = sorted({x for e in und for x in e})
    nbrs = {v: [] for v in verts}
    for u, v in und:
        nbrs[u].append(v)
    labels = {v: v for v in verts}
    for _ in range(rounds):
        new = {}
        for v in verts:
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            cnt = Counter(labels[u] for u in nbrs[v])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def _collect(df):
    return {r["v"]: r["label"] for r in df.collect()}


def test_lpa_fixed_rounds_exact(spark, tiny_graph):
    pairs, df = tiny_graph
    for rounds in (1, 3):
        oracle = python_lpa(pairs, rounds)
        res = label_propagation(df, max_rounds=rounds, fixed_rounds=True)
        assert res.rounds == rounds
        assert _collect(res.labels) == oracle


def test_lpa_random_sparse(spark):
    pairs = random_graph(150, 220, seed=5)
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = python_lpa(pairs, 4)
    res = label_propagation(df, max_rounds=4, fixed_rounds=True)
    assert _collect(res.labels) == oracle


def test_lpa_fixpoint_on_two_cliques(spark):
    # two cliques joined by one bridge edge → LPA converges, each clique
    # takes its min id as community label
    k1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14) if b >= 10]
    df = spark.createDataFrame(k1 + k2 + [(3, 10)], "src long, dst long")
    res = label_propagation(df, max_rounds=20, fixed_rounds=False)
    assert res.converged
    got = _collect(res.labels)
    assert {got[v] for v in range(4)} == {0}
    assert {got[v] for v in range(10, 14)} == {10}


def test_lpa_salted_parity_on_hub_graph(spark):
    """Forced salted two-stage counts (on the shuffle layout) must
    reproduce the deterministic LPA labels exactly (sum of salted count
    partials == plain count)."""
    from graphsetintersection_spark.operators.labelprop import label_propagation

    hub = [(0, i) for i in range(1, 150)]
    ring = [(i, (i + 1) % 30 + 200) for i in range(200, 230)]
    df = spark.createDataFrame(hub + ring, "src long, dst long")
    plain = label_propagation(df, max_rounds=3, fixed_rounds=True)
    with forced_route(shuffle=True, salts=8) as route:
        salted = label_propagation(df, max_rounds=3, fixed_rounds=True)
    assert route.shuffled and route.salted(8)
    a = sorted((r["v"], r["label"]) for r in plain.labels.collect())
    b = sorted((r["v"], r["label"]) for r in salted.labels.collect())
    assert a == b
