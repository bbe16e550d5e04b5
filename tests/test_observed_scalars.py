"""The per-round scalars the broadcast rounds observe instead of
aggregating: PageRank's and PPR's dangling mass and HITS's Σ s².

``Observation.get`` waits until the observed frame has run, so a path that
reads a value its driver never materialized would hang the suite instead
of failing it. Each case therefore runs in a thread joined with a
timeout."""

import threading

import pytest

from tests.conftest import random_graph
from tests.test_hits import _assert_scores_allclose, numpy_hits
from tests.test_pagerank import numpy_pagerank, numpy_ppr

from graphsetintersection_spark.operators.hits import hits
from graphsetintersection_spark.operators.pagerank import (
    pagerank,
    personalized_pagerank,
)
from graphsetintersection_spark.plans.checkpoint import CheckpointManager

TIMEOUT_S = 300
SINKS = [100, 101, 102, 103, 104]  # no out-edges: the dangling vertices
SEEDS = [0, 100, 101]  # two dangling seeds, so PPR's round-0 mass is not 0


def bounded(fn):
    """fn() run in a daemon thread; fails if it has not returned within
    ``TIMEOUT_S``."""
    out, err = [], []

    def run():
        try:
            out.append(fn())
        except BaseException as e:  # re-raised in the test's thread
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(TIMEOUT_S)
    assert not t.is_alive(), (
        f"no result in {TIMEOUT_S} s: an observed value was read before "
        "its frame ran"
    )
    if err:
        raise err[0]
    return out[0]


@pytest.fixture(scope="module")
def graph(spark):
    pairs = random_graph(80, 400, seed=3) + [(u, s) for u, s in enumerate(SINKS)]
    return pairs, spark.createDataFrame(pairs, "src long, dst long")


def _run(spark, engine, df, **kw):
    if engine == "pagerank":
        return pagerank(df, **kw)
    seeds = spark.createDataFrame([(s,) for s in SEEDS], "v long")
    return personalized_pagerank(df, seeds, **kw)


def _oracle(engine, pairs, iters):
    if engine == "pagerank":
        return numpy_pagerank(pairs, iters=iters)
    return numpy_ppr(pairs, SEEDS, iters=iters)


def _ranks(res) -> dict:
    return {r["v"]: r["rank"] for r in res.ranks.collect()}


def _assert_close(got: dict, expected: dict, atol: float):
    assert set(got) == set(expected)
    assert max(abs(got[v] - expected[v]) for v in expected) <= atol


@pytest.mark.parametrize("committed", [False, True], ids=["leaf", "checkpointer"])
@pytest.mark.parametrize("tol", [None, 1e-4], ids=["fixed", "tol"])
@pytest.mark.parametrize("engine", ["pagerank", "ppr"])
def test_observed_dangling_mass_matches_oracle(
    spark, graph, tmp_path, engine, tol, committed
):
    """Every way the driver materializes a round fills the observation
    the next round reads: the eager localCheckpoint, the staged cache the
    stop test reads before the commit, and the straight-through commit."""
    pairs, df = graph
    ck = CheckpointManager(str(tmp_path), "obs", engine) if committed else None
    max_iter = 8 if tol is None else 30
    res = bounded(
        lambda: _run(spark, engine, df, max_iter=max_iter, tol=tol, checkpointer=ck)
    )
    assert res.iterations == max_iter or res.converged
    assert len(res.deltas) == (0 if tol is None else res.iterations)
    _assert_close(_ranks(res), _oracle(engine, pairs, res.iterations), 1e-9)


@pytest.mark.parametrize("engine", ["pagerank", "ppr"])
def test_resumed_run_aggregates_the_restored_leaf_once(spark, graph, tmp_path, engine):
    """A resumed run has no observation for its restored leaf: it
    aggregates the leaf's dangling mass once, then observes again, and
    ends where an uninterrupted run does."""
    pairs, df = graph
    full = _ranks(bounded(lambda: _run(spark, engine, df, max_iter=8, tol=None)))
    ck = CheckpointManager(str(tmp_path), "obs-resume", engine)
    bounded(lambda: _run(spark, engine, df, max_iter=3, tol=None, checkpointer=ck))
    assert ck.latest_iteration() == 2
    res = bounded(
        lambda: _run(spark, engine, df, max_iter=8, tol=None, checkpointer=ck)
    )
    assert res.iterations == 8
    got = _ranks(res)
    _assert_close(got, full, 1e-12)
    _assert_close(got, _oracle(engine, pairs, 8), 1e-9)


def test_hits_observed_norms_with_tol(spark, graph):
    """The stop test and the final view read the last leaf's observed
    Σ s², and each half-step the previous one's."""
    pairs, df = graph
    res = bounded(lambda: hits(df, max_iter=30, tol=1e-8))
    assert res.converged and len(res.deltas) == res.iterations
    _assert_scores_allclose(res, *numpy_hits(pairs, iters=res.iterations), atol=1e-9)
