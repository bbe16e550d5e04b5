"""Degree relabel: bijection invariant, triangle-count invariance under
relabel, and comp_ratio densification (the reference's reorder contract —
src/porder.cpp:471-495, metric :295-351)."""

import pytest

from tests.conftest import (
    brute_triangles,
    cache_snapshot,
    forced_route,
    jobs_run,
    random_graph,
)

from graphsetintersection_spark.operators.relabel import (
    apply_order,
    bfs_order,
    comp_ratio,
    continuous_ids,
    degree_order,
    hub_degree_threshold,
    leaf_node_count,
    select_bignode,
)
from graphsetintersection_spark.operators.triangle import triangle_count_kernel


def test_degree_order_is_bijection_and_dense(spark, tiny_graph):
    pairs, df = tiny_graph
    order = degree_order(df).collect()
    n = len(order)
    new_ids = sorted(r["new_id"] for r in order)
    assert new_ids == list(range(n))  # continuous 0-based (README.md:44)
    orgs = {r["org_id"] for r in order}
    assert len(orgs) == n


def test_relabel_preserves_triangles(spark, tiny_graph):
    pairs, df = tiny_graph
    expected = brute_triangles(pairs)
    relabeled = apply_order(df, degree_order(df))
    assert triangle_count_kernel(relabeled) == expected


def test_degree_relabel_densifies_comp_ratio(spark):
    # Zipf-ish graph: hubs get small ids after relabel → lower comp_ratio
    import numpy as np

    rng = np.random.default_rng(3)
    n = 500
    dst = (n * rng.random(4000) ** 3).astype(int)  # power-law-ish popularity
    src = rng.integers(0, n, 4000)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(src, dst) if a != b],
        "src long, dst long",
    )
    before = comp_ratio(df)
    after = comp_ratio(apply_order(df, degree_order(df)))
    assert after <= before  # densification (usually strictly better)


def test_continuous_ids(spark):
    df = spark.createDataFrame(
        [(100, 7), (7, 55), (55, 100)], "src long, dst long"
    )
    ids = {r["org_id"]: r["new_id"] for r in continuous_ids(df).collect()}
    assert ids == {7: 0, 55: 1, 100: 2}


def test_select_bignode_covers_ratio(spark, tiny_graph):
    pairs, df = tiny_graph
    from graphsetintersection_spark.operators.edges import degrees

    total = sum(r["deg"] for r in degrees(df).collect())
    hubs = select_bignode(df, deg_ratio=0.3).collect()
    cum = sum(r["deg"] for r in hubs)
    assert cum >= 0.3 * total
    # minimality: dropping the last (smallest-degree) hub falls below
    smallest = min(r["deg"] for r in hubs)
    assert cum - smallest < 0.3 * total


def test_leaf_node_count(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    assert leaf_node_count(df) == 1  # vertex 3


def test_hub_degree_threshold(spark):
    from graphsetintersection_spark.operators.edges import degrees

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 10)] + [(1, 2), (3, 4)], "src long, dst long"
    )
    deg = degrees(df)
    t = hub_degree_threshold(deg, 0.3)
    # vertex 0 has deg 9 (~41% of total 22) — the 0.3 cut is its degree
    assert t == 9
    assert hub_degree_threshold(deg, 0.999) == 1
    empty = spark.createDataFrame([], "src long, dst long")
    assert hub_degree_threshold(degrees(empty), 0.3) is None


def test_bfs_order_levels_and_bijection(spark):
    # star root 10 with arms 20,30 and a 2-hop tail 40 behind 20
    df = spark.createDataFrame(
        [(10, 20), (10, 30), (20, 40)], "src long, dst long"
    )
    order = {r["org_id"]: r["new_id"] for r in bfs_order(df).collect()}
    assert sorted(order.values()) == [0, 1, 2, 3]
    assert order[10] == 0                 # max-out-degree root first
    assert order[20] < order[40]          # level 1 before level 2
    assert order[30] < order[40]


def test_bfs_order_beats_degree_order_on_scrambled_grid(spark):
    """The comparative reordering story (reference src/porder.cpp: multiple
    orderings judged by comp_ratio): on an id-scrambled 16x24 grid almost
    all degrees tie, so degree order recovers no locality, but BFS order
    clusters the narrow (≤16-wide) frontier bands into consecutive ids and
    lowers comp_ratio."""
    W, D = 16, 24
    n = W * D

    def vid(x, y):
        return ((y * W + x) * 91) % n  # id scramble (gcd(91, 384) = 1)

    pairs = []
    for y in range(D):
        for x in range(W):
            if x + 1 < W:
                pairs.append((vid(x, y), vid(x + 1, y)))
            if y + 1 < D:
                pairs.append((vid(x, y), vid(x, y + 1)))
    # symmetrize so BFS over out-edges explores the whole grid
    pairs = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(pairs, "src long, dst long")
    base = comp_ratio(df)
    deg_r = comp_ratio(apply_order(df, degree_order(df)))
    bfs_r = comp_ratio(apply_order(df, bfs_order(df, max_levels=64)))
    assert bfs_r < base
    assert bfs_r < deg_r


def test_rcm_order_reversed_min_degree_root(spark):
    """RCM (reference src/porder.cpp:586-631): BFS from the MIN-degree
    vertex with ascending-degree tie-break, ids assigned in reverse — the
    root therefore gets the LARGEST new id."""
    from graphsetintersection_spark.operators.relabel import rcm_order

    # path 1-2-3-4 plus a hub 3-{5,6}: min total degree = vertex 1
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (3, 5), (3, 6), (2, 1), (3, 2), (4, 3),
         (5, 3), (6, 3)],
        "src long, dst long",
    )
    order = {r["org_id"]: r["new_id"] for r in rcm_order(df).collect()}
    n = len(order)
    assert sorted(order.values()) == list(range(n))
    assert order[1] == n - 1          # min-degree root gets the top id
    # BFS level monotonicity, reversed: level 1 (vertex 2) above level 2
    assert order[2] > order[3]
    # within level 2 of the BFS ({3}): nothing to compare; level 3
    # ({4,5,6}, all deg ties) ordered by v asc then reversed
    assert order[4] > order[5] > order[6]


def test_rcm_order_job_count(spark):
    """rcm_order ranks the reversed order inside the BFS ordering, with no
    vertex count afterwards, and the ranking reuses the BFS's vertex count
    instead of persisting and counting the ranked frame again. Measured on
    this graph at 4 local cores: 51 jobs with the trailing count, 49
    without, 46 with the vertex count reused."""
    from graphsetintersection_spark.operators.relabel import rcm_order

    df = spark.createDataFrame(random_graph(200, 800, seed=1), "src long, dst long")
    _, jobs = jobs_run(spark, lambda: rcm_order(df))
    assert jobs <= 46


def test_bfs_order_job_count(spark):
    """bfs_order's ranking reuses the BFS's vertex count (no persist and
    second count of the ranked frame). Measured on this graph at 4 local
    cores: 41 jobs with the second count, 38 without."""
    from graphsetintersection_spark.operators.relabel import bfs_order

    df = spark.createDataFrame(random_graph(200, 800, seed=1), "src long, dst long")
    _, jobs = jobs_run(spark, lambda: bfs_order(df))
    assert jobs <= 38


def test_rcm_order_lowers_comp_ratio_on_band_graph(spark):
    """RCM's purpose is bandwidth reduction: on an id-scrambled grid
    (narrow BFS frontier bands) the RCM relabel must densify packing vs
    the scrambled original."""
    from graphsetintersection_spark.operators.relabel import rcm_order

    W, D = 16, 24
    n = W * D

    def vid(x, y):
        return ((y * W + x) * 91) % n  # id scramble (gcd(91, 384) = 1)

    pairs = []
    for y in range(D):
        for x in range(W):
            if x + 1 < W:
                pairs.append((vid(x, y), vid(x + 1, y)))
            if y + 1 < D:
                pairs.append((vid(x, y), vid(x, y + 1)))
    pairs = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(pairs, "src long, dst long")
    rel = apply_order(df, rcm_order(df))
    # measured: scrambled 0.606 → rcm 0.387 (0.64×); also beats bfs_order's
    # 0.442 on this fixture. 0.75 leaves noise margin while still proving
    # densification.
    assert comp_ratio(rel) < comp_ratio(df) * 0.75


def test_greedy_mheap_order_packs_cliques(spark):
    """GRO greedy (reference src/porder.cpp:142-235): on a union of
    id-scrambled 16-cliques with identical degrees, degree order recovers
    nothing but the windowed greedy co-locates each clique inside one
    64-id pack window, collapsing comp_ratio."""
    from graphsetintersection_spark.operators.relabel import greedy_mheap_order

    C, S = 12, 16   # 12 cliques of 16 vertices
    n = C * S

    def vid(c, i):
        return ((c * S + i) * 119) % n  # scramble (gcd(119, 192) = 1)

    pairs = []
    for c in range(C):
        for i in range(S):
            for j in range(i + 1, S):
                pairs.append((vid(c, i), vid(c, j)))
    df = spark.createDataFrame(pairs, "src long, dst long")

    order = greedy_mheap_order(df)
    rows = {r["org_id"]: r["new_id"] for r in order.collect()}
    assert sorted(rows.values()) == list(range(n))   # dense permutation
    # every clique must land inside a contiguous id run of ≤ 2 windows
    rel = apply_order(df, order)
    assert comp_ratio(rel) < comp_ratio(df) * 0.5
    # greedy must also beat degree order (all degrees tie → no locality)
    deg_rel = apply_order(df, degree_order(df))
    assert comp_ratio(rel) < comp_ratio(deg_rel) * 0.6


def test_slashburn_order_structure(spark):
    """SlashBurn (reference src/porder.cpp:1009-1114): hubs to the FRONT,
    satellite components to the BACK, leftovers in the middle."""
    from graphsetintersection_spark.operators.relabel import slashburn_order

    # hub 0 with 40 satellites; separate chain 100..119 (the giant comp
    # after slashing the hub); satellite pairs (200,201), (202,203)
    pairs = [(0, i) for i in range(1, 41)]
    pairs += [(100 + i, 101 + i) for i in range(19)]
    pairs += [(200, 201), (202, 203)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    order = {r["org_id"]: r["new_id"] for r in
             slashburn_order(df, k_div=1, k_cap=1, max_rounds=3).collect()}
    n = len(order)
    assert sorted(order.values()) == list(range(n))
    # round 1: hub 0 (deg 40) slashed to front id 0
    assert order[0] == 0
    # its satellites become singleton components → back ids (higher than
    # any chain vertex's id)
    sat_ids = [order[i] for i in range(1, 41)]
    chain_ids = [order[100 + i] for i in range(20)]
    assert min(sat_ids) > max(chain_ids) - 20 or max(chain_ids) < n - 1
    # the two 2-vertex satellite components also land at the back
    assert order[200] > min(chain_ids)

    # deterministic
    order2 = {r["org_id"]: r["new_id"] for r in
              slashburn_order(df, k_div=1, k_cap=1, max_rounds=3).collect()}
    assert order == order2


def test_dfs_order_preorder(spark):
    """DFS preorder semantics vs a hand-computed trace (reference
    src/porder.cpp:497-533: ascending-id neighbor visits, smallest
    unvisited restart)."""
    from graphsetintersection_spark.operators.relabel import dfs_order

    # 0→{2,5}, 2→{3}, 5→{}, separate component 7→{8}
    df = spark.createDataFrame(
        [(0, 2), (0, 5), (2, 3), (7, 8)], "src long, dst long"
    )
    order = {r["org_id"]: r["new_id"] for r in dfs_order(df).collect()}
    # preorder from 0: 0,2,3,(backtrack),5 then restart at 7: 7,8
    assert order == {0: 0, 2: 1, 3: 2, 5: 3, 7: 4, 8: 5}


def test_bfsr_order_bisection_locality(spark):
    """BFS-bisection (reference src/porder.cpp:1116-1213): a dense
    permutation whose recursive halves are BFS-connected regions — on the
    scrambled grid it must densify comp_ratio vs the original ids."""
    from graphsetintersection_spark.operators.relabel import bfsr_order

    W, D = 16, 24
    n = W * D

    def vid(x, y):
        return ((y * W + x) * 91) % n

    pairs = []
    for y in range(D):
        for x in range(W):
            if x + 1 < W:
                pairs.append((vid(x, y), vid(x + 1, y)))
            if y + 1 < D:
                pairs.append((vid(x, y), vid(x, y + 1)))
    pairs = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(pairs, "src long, dst long")
    order = bfsr_order(df)
    rows = {r["org_id"]: r["new_id"] for r in order.collect()}
    assert sorted(rows.values()) == list(range(n))
    assert comp_ratio(apply_order(df, order)) < comp_ratio(df) * 0.8


def test_hybrid_bfsdeg_order_deg_then_bfs(spark):
    """hybrid_bfsdeg (reference src/porder.cpp:93-140): degree-descending
    primary key, BFS locality tie-break — checked against an independent
    (deg desc, level asc, v asc) rank computed in plain Python."""
    from collections import deque

    from graphsetintersection_spark.operators.relabel import (
        hybrid_bfsdeg_order,
    )

    edges = sorted({(u, v) for u, v in random_graph(40, 160, seed=7) if u != v})
    df = spark.createDataFrame(edges, "src long, dst long")
    verts = sorted({u for e in edges for u in e})
    deg: dict[int, int] = {v: 0 for v in verts}
    out_adj: dict[int, list[int]] = {v: [] for v in verts}
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
        out_adj[u].append(v)
    # BFS levels over out-edges from the smallest id
    level = {verts[0]: 0}
    q = deque([verts[0]])
    while q:
        u = q.popleft()
        for w in out_adj[u]:
            if w not in level:
                level[w] = level[u] + 1
                q.append(w)
    ranked = sorted(verts, key=lambda v: (-deg[v], level.get(v, 65), v))
    expect = {v: i for i, v in enumerate(ranked)}
    got = {
        r["org_id"]: r["new_id"] for r in hybrid_bfsdeg_order(df).collect()
    }
    assert got == expect


def _mloggapa_literal(edges, n, recompute_gains, min_part=32, max_iters=20):
    """Independent literal mirror of the reference's graph_bisection2
    (src/porder.cpp:794-930) over continuous ids 0..n-1: dict incidence
    lists, gains REcomputed every swap round from them, stable desc-gain
    sort, prefix swaps while gain_l+gain_r > 0. With
    ``recompute_gains=False`` the incidence lists are built once per
    bisection and stay static (exactly as the C++ does), which exercises
    the production code's compute-gains-once shortcut; with True they are
    rebuilt from the current halves before every swap round (the KDD'16
    refinement)."""
    import math

    out_adj = [[] for _ in range(n)]
    in_adj = [[] for _ in range(n)]
    for u, v in edges:
        out_adj[u].append(v)
        in_adj[v].append(u)

    def cost(n1, q1, n2, q2):
        return q1 * math.log2(n1 / (q1 + 1.0)) + q2 * math.log2(
            n2 / (q2 + 1.0)
        )

    def bisect(part):
        if len(part) < min_part:
            return part
        mid = len(part) // 2
        left, right = list(part[:mid]), list(part[mid:])
        ln, rn = len(left), len(right)

        def incidence():
            maps = []  # (q -> members) maps, one per (side, direction)
            for side in (left, right):
                for adj in (out_adj, in_adj):
                    mp = {}
                    for u in side:
                        for q in adj[u]:
                            mp.setdefault(q, []).append(u)
                    maps.append(mp)
            return maps

        incid = incidence()
        for _ in range(max_iters):
            if recompute_gains:
                incid = incidence()
            gain = {u: 0.0 for u in left + right}
            for d in (0, 1):  # direction: out, in
                lmap, rmap = incid[d], incid[2 + d]
                for q, members in lmap.items():
                    dl = len(members)
                    dr = len(rmap.get(q, ()))
                    mc = cost(ln, dl, rn, dr) - cost(ln, dl - 1, rn, dr + 1)
                    for u in members:
                        gain[u] += mc
                for q, members in rmap.items():
                    dr = len(members)
                    dl = len(lmap.get(q, ()))
                    mc = cost(ln, dl, rn, dr) - cost(ln, dl + 1, rn, dr - 1)
                    for u in members:
                        gain[u] += mc
            left.sort(key=lambda u: -gain[u])
            right.sort(key=lambda u: -gain[u])
            swapped = 0
            for i in range(min(ln, rn)):
                if gain[left[i]] + gain[right[i]] > 0:
                    left[i], right[i] = right[i], left[i]
                    swapped += 1
                else:
                    break
            if swapped == 0:
                break
        return bisect(left) + bisect(right)

    return bisect(list(range(n)))


def test_mloggapa_order_matches_literal_mirror(spark):
    """The reference's mloggapa_order with its static-gain dynamics
    (``graph_bisection_order(recompute_gains=False)``) must equal the
    literal per-round-recomputing mirror of src/porder.cpp:794-930
    exactly."""
    from graphsetintersection_spark.operators.relabel import (
        graph_bisection_order,
    )

    n = 200
    pairs = sorted(
        {(u, v) for u, v in random_graph(n, 1200, seed=11) if u != v}
    )
    # make ids continuous 0..n-1 (vertices not hit by the rng are isolated
    # in the reference too — only edge-touched ids exist here)
    verts = sorted({u for e in pairs for u in e})
    remap = {v: i for i, v in enumerate(verts)}
    pairs = [(remap[u], remap[v]) for u, v in pairs]
    m = len(verts)
    df = spark.createDataFrame(pairs, "src long, dst long")
    layout = _mloggapa_literal(pairs, m, recompute_gains=False)
    expect = {u: pos for pos, u in enumerate(layout)}
    got = {
        r["org_id"]: r["new_id"]
        for r in graph_bisection_order(df, recompute_gains=False).collect()
    }
    assert got == expect


def test_mloggapa_order_small_graph_identity(spark):
    """Below min_part no bisection happens (reference :799 tot_num < 32):
    the layout is the initial ascending-id order."""
    from graphsetintersection_spark.operators.relabel import (
        graph_bisection_order,
    )

    df = spark.createDataFrame(
        [(3, 9), (9, 12), (12, 3)], "src long, dst long"
    )
    got = {
        r["org_id"]: r["new_id"] for r in graph_bisection_order(df).collect()
    }
    assert got == {3: 0, 9: 1, 12: 2}


def test_mloggapa_order_densifies_scrambled_communities(spark):
    """Two id-interleaved dense communities: the bisection objective must
    place each community contiguously, densifying comp_ratio vs the
    original interleaved ids."""
    from graphsetintersection_spark.operators.relabel import (
        graph_bisection_order,
    )

    import numpy as np

    rng = np.random.default_rng(3)
    n = 128
    pairs = set()
    for _ in range(1500):
        c = rng.integers(0, 2)  # community = id parity
        u, v = rng.integers(0, n // 2, 2) * 2 + c
        if u != v:
            pairs.add((int(u), int(v)))
    df = spark.createDataFrame(sorted(pairs), "src long, dst long")
    order = graph_bisection_order(df)
    rows = {r["org_id"]: r["new_id"] for r in order.collect()}
    assert sorted(rows.values()) == list(range(len(rows)))
    # each community must land in one contiguous half
    halves = {c: {rows[v] for v in rows if v % 2 == c} for c in (0, 1)}
    lo = min(halves[0]) < min(halves[1])
    first = halves[0] if lo else halves[1]
    assert max(first) < len(rows) // 2 + len(rows) % 2
    assert comp_ratio(apply_order(df, order)) < comp_ratio(df)


def _hybrid_exact_oracle(edges):
    """Independent plain-dict mirror of src/porder.cpp:93-140: multi-root
    queue BFS over sorted out-adjacency (discovery index assigned at
    push), then sort by (out+in degree desc, discovery index asc)."""
    from collections import deque

    verts = sorted({u for e in edges for u in e})
    out_adj = {v: [] for v in verts}
    deg = {v: 0 for v in verts}
    for u, v in sorted(set(edges)):
        out_adj[u].append(v)
        deg[u] += 1
        deg[v] += 1
    bfs_idx = {}
    cur = 0
    for root in verts:
        if root in bfs_idx:
            continue
        bfs_idx[root] = cur
        cur += 1
        q = deque([root])
        while q:
            u = q.popleft()
            for w in out_adj[u]:
                if w not in bfs_idx:
                    bfs_idx[w] = cur
                    cur += 1
                    q.append(w)
    ranked = sorted(verts, key=lambda v: (-deg[v], bfs_idx[v]))
    return {v: i for i, v in enumerate(ranked)}


def test_hybrid_bfsdeg_exact_queue_order(spark):
    """hybrid_bfsdeg_order_exact mirrors the reference's queue discovery
    semantics on the exact counterexample where the distributed
    re-expression's (level, id) tie-break deviates (ADVICE r4 #1):
    edges 0→2, 0→3, 2→5, 3→4 — the queue discovers 5 BEFORE 4 (5 is
    found while popping 2, which entered the queue before 3 was popped),
    while level/id ordering would put 4 first."""
    from graphsetintersection_spark.operators.relabel import (
        hybrid_bfsdeg_order_exact,
    )

    edges = [(0, 2), (0, 3), (2, 5), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["org_id"]: r["new_id"]
        for r in hybrid_bfsdeg_order_exact(df).collect()
    }
    # degrees: 0→2, 2→2, 3→2, 4→1, 5→1; bfs idx: 0,2,3 = 0,1,2; 5=3, 4=4
    # sort (deg desc, idx asc): 0, 2, 3, 5, 4
    assert got == {0: 0, 2: 1, 3: 2, 5: 3, 4: 4}
    assert got == _hybrid_exact_oracle(edges)


def test_hybrid_bfsdeg_exact_multiroot_random(spark):
    """Random directed graphs incl. disconnected components: the
    driver-exact implementation equals the independent mirror, each
    component restarts its own BFS from the smallest unvisited id, and
    the permutation is dense 0-based."""
    from graphsetintersection_spark.operators.relabel import (
        hybrid_bfsdeg_order_exact,
    )

    for seed in (3, 11):
        edges = [
            (u, v) for u, v in random_graph(60, 150, seed=seed) if u != v
        ]
        # add an out-edge-unreachable island so multi-root restart fires
        edges += [(900, 901), (901, 902)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["org_id"]: r["new_id"]
            for r in hybrid_bfsdeg_order_exact(df).collect()
        }
        expect = _hybrid_exact_oracle(edges)
        assert got == expect
        assert sorted(got.values()) == list(range(len(expect)))


def _continuous(pairs):
    """(pairs over ids 0..m-1, m, original id of each continuous id)."""
    verts = sorted({u for e in pairs for u in e})
    remap = {v: i for i, v in enumerate(verts)}
    return [(remap[u], remap[v]) for u, v in pairs], len(verts), verts


def test_graph_bisection_order_equals_driver_exact(spark):
    """The distributed level-synchronous bisection must be BIT-IDENTICAL
    to the sequential recursion whenever every part fits a task — the
    level-synchronous (part, rank) order is the DFS concatenation order.
    The oracle is the driver-side literal mirror; both gain dynamics
    checked."""
    from graphsetintersection_spark.operators.relabel import (
        graph_bisection_order,
    )

    pairs = sorted(
        {(u, v) for u, v in random_graph(180, 1400, seed=23) if u != v}
    )
    df = spark.createDataFrame(pairs, "src long, dst long")
    cont, m, verts = _continuous(pairs)
    for rg in (True, False):
        layout = _mloggapa_literal(cont, m, recompute_gains=rg)
        exact = {verts[u]: pos for pos, u in enumerate(layout)}
        dist = {
            r["org_id"]: r["new_id"]
            for r in graph_bisection_order(df, recompute_gains=rg).collect()
        }
        assert dist == exact, f"recompute_gains={rg}"


def test_graph_bisection_order_oversize_median_cut(spark):
    """Parts above max_task_vertices split by the pure-expression median
    cut (no task materializes them); refinement engages below the cap.
    The output must still be a permutation, and with the cap above n it
    must return to exact driver parity."""
    from graphsetintersection_spark.operators.relabel import (
        graph_bisection_order,
    )

    pairs = sorted(
        {(u, v) for u, v in random_graph(160, 1000, seed=31) if u != v}
    )
    verts = sorted({u for e in pairs for u in e})
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["org_id"]: r["new_id"]
        for r in graph_bisection_order(df, max_task_vertices=40).collect()
    }
    # permutation over exactly the touched vertex set
    assert sorted(got.keys()) == verts
    assert sorted(got.values()) == list(range(len(verts)))
    # the first (oversize) cuts are rank-median cuts of the ascending-id
    # layout, so the top split boundary is the id median
    mid_id = verts[len(verts) // 2]
    left_ids = {v for v, pos in got.items() if pos < len(verts) // 2}
    assert left_ids == set(verts[: len(verts) // 2]), (
        "top median cut must split the initial layout in half"
    )
    assert mid_id not in left_ids
    # cap above n → identical to the driver-exact operator
    full = {
        r["org_id"]: r["new_id"]
        for r in graph_bisection_order(df, max_task_vertices=10**6).collect()
    }
    cont, m, _ = _continuous(pairs)
    layout = _mloggapa_literal(cont, m, recompute_gains=True)
    exact = {verts[u]: pos for pos, u in enumerate(layout)}
    assert full == exact


def test_bfs_levels_broadcast_equals_shuffle(spark):
    """_bfs_levels' broadcast-state strategy (stationary cached edges,
    broadcast frontier/visited — the CC/LPA/PageRank round shape) must
    produce exactly the shuffle strategy's levels, and its per-level
    join must plan broadcast-side (no shuffle of the edge frame)."""
    from graphsetintersection_spark.operators.relabel import _bfs_levels

    pairs = sorted(
        {(u, v) for u, v in random_graph(120, 700, seed=41) if u != v}
    )
    df = spark.createDataFrame(pairs, "src long, dst long")
    root = pairs[0][0]
    n = len({v for e in pairs for v in e})
    with forced_route() as route:
        lv_b = _bfs_levels(df, root, 32, n)
    with forced_route(shuffle=True) as forced:
        lv_s = _bfs_levels(df, root, 32, n)
    assert route.ships == [True] and forced.shuffled
    got_b = {(r["v"], r["level"]) for r in lv_b.collect()}
    got_s = {(r["v"], r["level"]) for r in lv_s.collect()}
    assert got_b == got_s and got_b
    lv_b.unpersist()
    lv_s.unpersist()


def test_bfs_levels_job_count_per_level(spark):
    """One run_rounds round per level. On the broadcast path a level costs
    4 jobs (the frontier and visited-set broadcast builds, the candidate
    distinct's shuffle stage and the level's checkpoint, whose observed
    row count is the stop test); measured the same before the move to
    run_rounds (21 jobs for the 4-edge chain, 37 for the 8-edge one)."""
    from graphsetintersection_spark.operators.relabel import _bfs_levels

    def jobs(k):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(k)], "src long, dst long"
        )
        levels, used = jobs_run(spark, lambda: _bfs_levels(df, 0, 64, k + 1))
        assert {(r["v"], r["level"]) for r in levels.collect()} == {
            (i, i) for i in range(k + 1)
        }
        levels.unpersist()
        return used

    assert jobs(8) - jobs(4) == 4 * 4


def test_bfs_orderings_release_caches_when_a_level_fails(spark, monkeypatch):
    """A level that raises (here the second localCheckpoint, i.e. the
    second BFS level) leaves neither the BFS edge cache nor the caller's
    degree cache behind."""
    from graphsetintersection_spark.operators import relabel

    df = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    cls = type(df)
    real = cls.localCheckpoint
    for fn in (relabel.bfs_order, relabel.rcm_order, relabel.hybrid_bfsdeg_order):
        calls = []

        def flaky(self, *args, **kwargs):
            calls.append(1)
            if len(calls) == 2:
                raise RuntimeError("injected level failure")
            return real(self, *args, **kwargs)

        before = cache_snapshot(spark)
        monkeypatch.setattr(cls, "localCheckpoint", flaky)
        with pytest.raises(RuntimeError, match="injected"):
            fn(df)
        monkeypatch.setattr(cls, "localCheckpoint", real)
        leaked = cache_snapshot(spark) - before
        assert not leaked, f"{fn.__name__} leaked caches: {leaked}"


# Jobs of one call on random_graph(200, 800, seed=1) at 4 local cores,
# measured on the Row-collect implementations this replaced: dfs 7,
# bfsr 9, GRO 9, hybrid_bfsdeg exact 10 (its separate in-degree collect
# cost 3). Now: 7, 9, 9, 7.
DRIVER_ORDERING_JOBS = {
    "dfs_order": 7,
    "bfsr_order": 9,
    "greedy_mheap_order": 9,
    "hybrid_bfsdeg_order_exact": 7,
}


def _recorded_orderings():
    import json
    from pathlib import Path

    path = Path(__file__).parent / "data" / "driver_orderings.json"
    return json.loads(path.read_text())


@pytest.mark.parametrize(
    "graph", ["directed_sinks_island", "sparse_negative_ids", "empty"]
)
def test_driver_orderings_match_recorded_outputs(spark, graph):
    """The four driver-side orderings reproduce, pair for pair, the
    permutations recorded before they moved onto the shared Arrow CSR:
    a directed graph with sink-only vertices and an island (the directed
    orderings keep sinks in their id set), sparse ids with negatives, and
    the empty graph."""
    from graphsetintersection_spark.operators import relabel

    rec = _recorded_orderings()
    df = spark.createDataFrame(
        [tuple(e) for e in rec["graphs"][graph]], "src long, dst long"
    )
    for key, (fn, kwargs) in rec["calls"].items():
        out = getattr(relabel, fn)(df, **kwargs)
        assert out.columns == ["org_id", "new_id"]
        got = sorted([r["org_id"], r["new_id"]] for r in out.collect())
        assert got == rec["orders"][graph][key], key


@pytest.mark.parametrize("fn", list(DRIVER_ORDERING_JOBS))
def test_driver_orderings_cap_fails_before_collect(spark, monkeypatch, fn):
    """Each driver-side ordering raises ValueError when its vertex cap is
    below the vertex count, and does so before any adjacency collect: the
    collect is patched to fail if it is ever reached (at the cap itself it
    is reached, so the patch is live)."""
    from graphsetintersection_spark.operators import adjacency, relabel

    def no_collect(adj):
        raise AssertionError("adjacency collected")

    monkeypatch.setattr(adjacency, "_collect_csr", no_collect)
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    order = getattr(relabel, fn)
    with pytest.raises(ValueError, match="too large"):
        order(df, max_driver_vertices=3)
    with pytest.raises(AssertionError, match="adjacency collected"):
        order(df, max_driver_vertices=4)


@pytest.mark.parametrize("fn", list(DRIVER_ORDERING_JOBS))
def test_driver_orderings_job_count(spark, fn):
    """One cap count and one Arrow adjacency collect per ordering (with
    their shuffle stages); hybrid_bfsdeg exact takes its in-degrees from
    the collected CSR instead of a second aggregate collect."""
    from graphsetintersection_spark.operators import relabel

    df = spark.createDataFrame(random_graph(200, 800, seed=1), "src long, dst long")
    _, jobs = jobs_run(spark, lambda: getattr(relabel, fn)(df))
    assert jobs <= DRIVER_ORDERING_JOBS[fn]


def test_slashburn_releases_caches_when_a_round_fails(spark, monkeypatch):
    """A round whose component search raises leaves no CacheManager entry
    behind (the symmetrized edge cache included)."""
    from graphsetintersection_spark.operators import components
    from graphsetintersection_spark.operators.relabel import slashburn_order

    def failing(edges, *args, **kwargs):
        raise RuntimeError("injected round failure")

    df = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    before = cache_snapshot(spark)
    monkeypatch.setattr(components, "connected_components_starcontraction", failing)
    with pytest.raises(RuntimeError, match="injected"):
        slashburn_order(df, k_div=1, k_cap=1)
    leaked = cache_snapshot(spark) - before
    assert not leaked, f"slashburn_order leaked caches: {leaked}"
