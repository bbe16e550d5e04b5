"""HITS vs dense numpy oracle, broadcast/shuffle/salted path parity, and
cache hygiene."""

import numpy as np
import pytest

from tests.conftest import cache_snapshot, forced_route, jobs_run, random_graph

from graphsetintersection_spark.operators.hits import hits


def numpy_hits(pairs, iters=10):
    """Dense oracle with identical semantics: synchronous half-steps,
    L2 normalization over the full vertex set each half-step."""
    edges = {(u, v) for u, v in pairs if u != v}
    verts = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(iters):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    return (
        {v: h[idx[v]] for v in verts},
        {v: a[idx[v]] for v in verts},
    )


def _assert_scores_allclose(res, hub_exp, auth_exp, atol=1e-6):
    rows = {r["v"]: (r["hub"], r["auth"]) for r in res.scores.collect()}
    assert set(rows) == set(hub_exp)
    for v in hub_exp:
        assert rows[v][0] == pytest.approx(hub_exp[v], abs=atol), f"hub {v}"
        assert rows[v][1] == pytest.approx(auth_exp[v], abs=atol), f"auth {v}"


def test_hits_allclose_tiny(spark, tiny_graph):
    pairs, df = tiny_graph
    hub_exp, auth_exp = numpy_hits(pairs)
    _assert_scores_allclose(hits(df, max_iter=10, tol=None), hub_exp, auth_exp)


def test_hits_known_star(spark):
    """A directed star u→{a,b,c}: u is the only hub (hub=1), the leaves
    are equal authorities (1/√3 each), and the roles don't bleed."""
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    res = hits(df, max_iter=5, tol=None)
    rows = {r["v"]: (r["hub"], r["auth"]) for r in res.scores.collect()}
    assert rows[0][0] == pytest.approx(1.0)
    assert rows[0][1] == 0.0
    for leaf in (1, 2, 3):
        assert rows[leaf][0] == 0.0
        assert rows[leaf][1] == pytest.approx(1 / np.sqrt(3.0))


def test_hits_broadcast_shuffle_salted_parity(spark):
    """All three execution paths must return identical scores: the
    broadcast layout, the shuffle layout, and the shuffle layout with
    both aggregation keys salted."""
    pairs = random_graph(200, 1500, seed=31)
    df = spark.createDataFrame(pairs, "src long, dst long")
    hub_exp, auth_exp = numpy_hits(pairs, iters=8)
    for force in ({}, {"shuffle": True}, {"shuffle": True, "salts": 4}):
        with forced_route(**force) as route:
            res = hits(df, max_iter=8, tol=None)
        assert route.ships == [not force]
        assert route.salted(4) == ("salts" in force)
        _assert_scores_allclose(res, hub_exp, auth_exp)


def test_hits_convergence_and_guard(spark, tiny_graph):
    pairs, df = tiny_graph
    res = hits(df, max_iter=100, tol=1e-12)
    assert res.converged and res.iterations < 100
    hub_exp, auth_exp = numpy_hits(pairs, iters=res.iterations)
    _assert_scores_allclose(res, hub_exp, auth_exp)
    with pytest.raises(ValueError, match="max_iter"):
        hits(df, max_iter=0)
    empty = spark.createDataFrame([], "src long, dst long")
    r = hits(empty)
    assert r.scores.count() == 0 and r.converged


def test_hits_releases_caches(spark, tiny_graph):
    """The two stationary edge caches and the vertex cache are released
    when the call returns. Iteration snapshots are localCheckpoints —
    reference-tracked by ContextCleaner (cleaned when the frames drop),
    so per the engine-wide convention (``conftest.cache_snapshot``) only
    CacheManager entries and non-checkpoint persistent RDDs count as
    leaks."""
    _, df = tiny_graph
    before = cache_snapshot(spark)
    res = hits(df, max_iter=4, tol=None)
    res.scores.count()
    leaked = cache_snapshot(spark) - before
    assert not leaked, f"leaked non-checkpoint caches: {leaked}"


def test_hits_round_job_counts(spark):
    """One driver round per half-step, 2 jobs each on the broadcast path
    (the score broadcast and the leaf's localCheckpoint): each half-step's
    Σ s² is observed on the leaf it builds, so neither the next half-step
    nor the final normalized view runs a norm aggregate. Measured on this
    graph at 4 local cores, counting the result's count: 35 jobs at
    max_iter=2 and 67 at max_iter=6 with the norm as an aggregate and a
    1-row broadcast per view; 25 and 41 with the norm observed; 21 and 37
    now that the first two half-steps build the two edge caches instead
    of a count of each."""
    df = spark.createDataFrame(random_graph(200, 1500, seed=31), "src long, dst long")

    def jobs(max_iter):  # 200 vertices: the broadcast layout
        return jobs_run(
            spark, lambda: hits(df, max_iter=max_iter, tol=None).scores.count()
        )[1]

    assert jobs(2) == 21
    assert jobs(6) == 37


def test_hits_first_delta_from_normalized_uniform(spark, tiny_graph):
    """The stop test compares each hub vector with the normalized one
    before it, starting from the uniform 1/√n vector."""
    pairs, df = tiny_graph
    res = hits(df, max_iter=2, tol=0.0)
    hub1, _ = numpy_hits(pairs, iters=1)
    h0 = 1.0 / np.sqrt(len(hub1))
    expected = max(abs(h - h0) for h in hub1.values())
    assert len(res.deltas) == 2
    assert res.deltas[0] == pytest.approx(expected, abs=1e-12)


def test_hits_shuffle_half_step_job_count(spark):
    """A shuffle-layout half-step has the broadcast half-step's shape, 3
    Spark jobs: the score vector, carried columns included, exchanged
    into the sort-merge join against the sorted cache, the aggregation's
    exchange, and the leaf's localCheckpoint. The half-step it replaced
    aggregated the edges alone and left-joined the result onto the score
    view: 5 jobs a half-step."""
    df = spark.createDataFrame(random_graph(200, 1500, seed=31), "src long, dst long")

    def jobs(max_iter):
        with forced_route(shuffle=True) as route:
            used = jobs_run(
                spark, lambda: hits(df, max_iter=max_iter, tol=None).scores.count()
            )[1]
        assert route.shuffled
        return used

    assert jobs(3) - jobs(1) == 4 * 3
