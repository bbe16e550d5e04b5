"""Maximal cliques vs an independent plain-BK Python oracle (mirrors the
reference's Org vs BP cross-checking of mc_num, src/mc.cpp:17-19)."""

import pytest

from tests.conftest import cache_snapshot, random_graph, undirected_simple
from tests.oracles import degeneracy_order

from graphsetintersection_spark.operators.cliques import (
    degeneracy_order_distributed,
    maximal_clique_count,
    maximal_cliques,
)


def python_bk(pairs):
    """Plain Bron–Kerbosch (no pivot, no ordering) — independent oracle."""
    und = undirected_simple(pairs)
    adj = {}
    for e in und:
        u, v = tuple(e)
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = []

    def bk(r, p, x):
        if not p and not x:
            out.append(tuple(sorted(r)))
            return
        for v in sorted(p):
            bk(r | {v}, p & adj[v], x & adj[v])
            p = p - {v}
            x = x | {v}

    bk(set(), set(adj), set())
    return sorted(out)


def _collect_cliques(df):
    return sorted(tuple(r["clique"]) for r in df.collect())


def test_cliques_tiny_exact(spark):
    pairs = random_graph(25, 90, seed=9)
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = python_bk(pairs)
    assert len(oracle) > 3
    got = _collect_cliques(maximal_cliques(df))
    assert got == oracle


def test_cliques_with_degeneracy_order(spark):
    pairs = random_graph(30, 140, seed=4)
    df = spark.createDataFrame(pairs, "src long, dst long")
    order, degen = degeneracy_order(df)
    assert degen >= 1
    got = _collect_cliques(maximal_cliques(df, order=order))
    assert got == python_bk(pairs)


def test_clique_structures(spark):
    # K4 + attached triangle + pendant edge
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    extra = [(3, 4), (4, 5), (3, 5), (5, 6)]
    df = spark.createDataFrame(k4 + extra, "src long, dst long")
    got = _collect_cliques(maximal_cliques(df))
    assert got == [(0, 1, 2, 3), (3, 4, 5), (5, 6)]
    assert maximal_clique_count(df) == 3


def test_degeneracy_value(spark):
    # a k-core graph: K5 has degeneracy 4; adding a path keeps it 4
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(5, 6), (6, 7)]
    df = spark.createDataFrame(k5 + path, "src long, dst long")
    _, degen = degeneracy_order(df)
    assert degen == 4
    assert degeneracy_order_distributed(df)[1] == 4


def test_degeneracy_distributed_matches_driver(spark):
    pairs = random_graph(40, 180, seed=11)
    df = spark.createDataFrame(pairs, "src long, dst long")
    _, degen_driver = degeneracy_order(df)
    order, degen_dist = degeneracy_order_distributed(df)
    assert degen_dist == degen_driver
    # the order is a valid permutation of the vertex set
    rows = order.collect()
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(len(rows)))
    # and BK over it reproduces the exact clique set
    got = _collect_cliques(maximal_cliques(df, order=order))
    assert got == python_bk(pairs)


def test_degeneracy_distributed_releases_caches_when_a_wave_fails(
    spark, monkeypatch
):
    """A peel wave that raises (here the third localCheckpoint: the first
    wave's (v, wave) frame, taken while that wave's degree frame is
    persisted) leaves no CacheManager entry behind."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    cls = type(df)
    real = cls.localCheckpoint
    calls = []

    def flaky(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected wave failure")
        return real(self, *args, **kwargs)

    before = cache_snapshot(spark)
    monkeypatch.setattr(cls, "localCheckpoint", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        degeneracy_order_distributed(df)
    monkeypatch.setattr(cls, "localCheckpoint", real)
    assert len(calls) == 3
    leaked = cache_snapshot(spark) - before
    assert not leaked, f"degeneracy_order_distributed leaked caches: {leaked}"


def test_degeneracy_distributed_round_cap(spark):
    # path graph peels 2 ends per wave — force the cap and check leftovers
    path = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(path, "src long, dst long")
    order, degen = degeneracy_order_distributed(df, max_rounds=2)
    assert degen == 1
    rows = order.collect()
    assert sorted(r["rank"] for r in rows) == list(range(11))
    got = _collect_cliques(maximal_cliques(df, order=order))
    assert got == python_bk(path)


def _wave_order(pairs):
    """Rank of each vertex under simultaneous min-degree peeling, ordered
    by (wave, v): the order ``degeneracy_order_distributed`` defines."""
    adj = {}
    for e in undirected_simple(pairs):
        u, v = tuple(e)
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    remaining, wave_of, wave = set(adj), {}, 0
    while remaining:
        deg = {v: len(adj[v] & remaining) for v in remaining}
        low = min(deg.values())
        for v in [v for v in remaining if deg[v] == low]:
            wave_of[v] = wave
            remaining.discard(v)
        wave += 1
    ranked = sorted(adj, key=lambda v: (wave_of[v], v))
    return {v: i for i, v in enumerate(ranked)}


def test_degeneracy_distributed_plan_does_not_grow_with_waves(spark, monkeypatch):
    """A path peels its two ends a wave, so 400 vertices take 200 waves.
    The order is the (wave, v) ranking, and the frame handed to the final
    ranking has the same plan size as a 5-wave path's: each vertex's wave
    rides on one checkpointed frame, not on a union of one frame per
    wave."""
    from graphsetintersection_spark.plans import assign

    real = assign.global_order_stats
    seen = []

    def spy(df, *args, **kwargs):
        seen.append(len(df._jdf.queryExecution().analyzed().treeString().splitlines()))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(assign, "global_order_stats", spy)
    for k in (10, 400):
        path = [(i, i + 1) for i in range(k - 1)]
        df = spark.createDataFrame(path, "src long, dst long")
        order, degen = degeneracy_order_distributed(df)
        assert degen == 1
        assert {r["v"]: r["rank"] for r in order.collect()} == _wave_order(path)
    assert seen[0] == seen[1]


def test_cliques_hub_split_matches_unsplit(spark):
    """Forcing a tiny max_group_deg routes hub vertices through the
    pair-split path (one BK level deeper, common-neighborhood groups);
    the clique set must be identical to the unsplit run and the oracle."""
    pairs = random_graph(30, 160, seed=21)
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = python_bk(pairs)
    # cap low enough that several vertices split (random_graph(30,160)
    # has average degree ~10)
    got_split = _collect_cliques(maximal_cliques(df, max_group_deg=4))
    assert got_split == oracle
    got_unsplit = _collect_cliques(maximal_cliques(df, max_group_deg=10**9))
    assert got_unsplit == oracle


def test_cliques_hub_star_and_k4(spark):
    """A hub star (hub adjacent to many leaves, no leaf-leaf edges) under
    the pair path: every {hub, leaf} edge with empty common neighborhood
    must still be emitted as a maximal 2-clique."""
    hub_star = [(0, i) for i in range(1, 12)]
    k4 = [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
    bridge = [(0, 20)]
    pairs = hub_star + k4 + bridge
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = _collect_cliques(maximal_cliques(df, max_group_deg=3))
    assert got == python_bk(pairs)


def test_cliques_partial_order_guard(spark):
    """A caller-supplied order missing some vertices must not crash
    (ADVICE r2 #3): covered vertices' cliques are enumerated over the
    order's scope."""
    k3 = [(0, 1), (1, 2), (0, 2), (2, 3)]
    df = spark.createDataFrame(k3, "src long, dst long")
    order = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "v long, rank long"
    )  # vertex 3 missing
    got = _collect_cliques(maximal_cliques(df, order=order))
    assert (0, 1, 2) in got


def test_bk_arrays_oversized_group_bounded_time():
    """A >16,384-member group must route through _bk_arrays and complete
    in bounded time — the pivot scan is one vectorized stack+searchsorted
    pass, not a per-candidate Python loop (VERDICT r3 #5). 17,000
    vertices as 4,250 disjoint K4s; oracle: exactly the K4s. No Spark:
    the per-group kernel is pure numpy."""
    import time

    import numpy as np

    from graphsetintersection_spark.operators.cliques import _bk_arrays

    n_groups = 4_250
    n = n_groups * 4
    adj_list = []
    for v in range(n):
        g = v // 4
        adj_list.append(
            np.array([u for u in range(g * 4, g * 4 + 4) if u != v],
                     dtype=np.int64)
        )
    out: list = []
    t0 = time.perf_counter()
    _bk_arrays(adj_list, np.arange(n, dtype=np.int64),
               np.empty(0, dtype=np.int64), [], out)
    elapsed = time.perf_counter() - t0
    expect = [[g * 4, g * 4 + 1, g * 4 + 2, g * 4 + 3] for g in range(n_groups)]
    assert sorted(out) == expect
    assert elapsed < 60, f"oversized-group BK took {elapsed:.1f}s"


def test_bk_arrays_pivot_parity_small():
    """Vectorized pivot selection must leave BK output identical to the
    bitset kernel on random graphs (the two kernels' parity grid)."""
    import random

    import numpy as np

    from graphsetintersection_spark.operators.cliques import (
        _bk_arrays,
        _bk_bitset,
        _mask_from_idx,
    )

    rnd = random.Random(3)
    for trial in range(5):
        n = 40
        edges = {(a, b) for a in range(n) for b in range(a + 1, n)
                 if rnd.random() < 0.25}
        adj_sets = [set() for _ in range(n)]
        for a, b in edges:
            adj_sets[a].add(b)
            adj_sets[b].add(a)
        adj_list = [np.array(sorted(s), dtype=np.int64) for s in adj_sets]
        out_a: list = []
        _bk_arrays(adj_list, np.arange(n, dtype=np.int64),
                   np.empty(0, dtype=np.int64), [], out_a)
        words = (n + 63) >> 6
        adj_bits = np.stack([
            _mask_from_idx(adj_list[v], words) for v in range(n)
        ])
        full = _mask_from_idx(np.arange(n, dtype=np.int64), words)
        out_b: list = []
        _bk_bitset(adj_bits, full, np.zeros(words, dtype=np.uint64), [], out_b)
        assert sorted(out_a) == sorted(out_b)


def test_plain_bk_matches_pivot(spark):
    """use_pivot=False (the reference's plain Bron–Kerbosch,
    src/org_maximal_clique.cpp:50-73) must emit exactly the same clique
    set as the Tomita-pivot default, in both the bitset and the
    sorted-array kernels."""
    import numpy as np

    from graphsetintersection_spark.operators.cliques import (
        _bk_arrays,
        _bk_bitset,
        _mask_from_idx,
        maximal_cliques,
    )
    from tests.conftest import random_graph

    pairs = [(u, v) for u, v in random_graph(30, 220, seed=5) if u != v]
    df = spark.createDataFrame(pairs, "src long, dst long")
    piv = sorted(tuple(r["clique"]) for r in maximal_cliques(df).collect())
    plain = sorted(
        tuple(r["clique"])
        for r in maximal_cliques(df, use_pivot=False).collect()
    )
    assert plain == piv and len(piv) > 0

    # kernel-level parity on a dense random adjacency (both code paths)
    rng = np.random.default_rng(9)
    n = 40
    m = rng.random((n, n)) < 0.3
    m = np.triu(m, 1)
    m = m | m.T
    words = (n + 63) // 64
    adj_bits = np.zeros((n, words), dtype=np.uint64)
    adj_list = []
    for i in range(n):
        nb = np.nonzero(m[i])[0].astype(np.int64)
        adj_list.append(nb)
        for j in nb:
            adj_bits[i, j >> 6] |= np.uint64(1) << np.uint64(int(j) & 63)
    full = _mask_from_idx(np.arange(n, dtype=np.int64), words)
    zero = np.zeros(words, dtype=np.uint64)
    res = {}
    for use_pivot in (True, False):
        out_b: list = []
        _bk_bitset(adj_bits, full.copy(), zero.copy(), [], out_b, use_pivot)
        out_a: list = []
        _bk_arrays(
            adj_list, np.arange(n, dtype=np.int64),
            np.empty(0, dtype=np.int64), [], out_a, use_pivot,
        )
        assert sorted(out_b) == sorted(out_a)
        res[use_pivot] = sorted(out_b)
    assert res[True] == res[False]


def test_maximal_cliques_release_caches_when_a_step_fails(spark, monkeypatch):
    """A default ordering that fails after reading the edge cache (before
    the triangle list exists) and a failing result checkpoint (after the
    triangle list is persisted) both leave no CacheManager entry behind."""
    from graphsetintersection_spark.operators import relabel

    df = spark.createDataFrame(random_graph(20, 60, seed=3), "src long, dst long")
    order = spark.createDataFrame(
        [(v, v) for v in range(20)], "v long, rank long"
    )
    cls = type(df)
    real = cls.localCheckpoint

    real_order = relabel.degree_order

    def failing_order(*args, **kwargs):
        real_order(*args, **kwargs).count()  # the edge cache is filled
        raise RuntimeError("injected degree_order failure")

    def failing_checkpoint(self, *args, **kwargs):
        raise RuntimeError("injected checkpoint failure")

    for target, attr, fake, kwargs in (
        (relabel, "degree_order", failing_order, {}),
        (cls, "localCheckpoint", failing_checkpoint, {"order": order}),
    ):
        before = cache_snapshot(spark)
        monkeypatch.setattr(target, attr, fake)
        with pytest.raises(RuntimeError, match="injected"):
            maximal_cliques(df, **kwargs)
        monkeypatch.undo()
        leaked = cache_snapshot(spark) - before
        assert not leaked, f"{attr} failure leaked caches: {leaked}"
    assert cls.localCheckpoint is real
