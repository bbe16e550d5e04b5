"""Shared fixtures: one local SparkSession per test run, tiny deterministic
graphs with brute-force oracles (mirrors the reference's scalar-oracle
differential testing, src/exp/test_intersection_algos.cpp:102-127)."""

from __future__ import annotations

import itertools
import sys
from contextlib import contextmanager

import numpy as np
import pytest

from graphsetintersection_spark.session import get_spark

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gsi-tests", master="local[4]", shuffle_partitions=8)
    yield s


def cache_snapshot(spark) -> set:
    """What a call can leave cached for the session's lifetime: the
    persisted RDDs that never auto-release, plus every CacheManager entry.
    ``persist()`` registers an entry at once, while its RDD only appears
    after the first action, so an entry alone is a leak too. Local
    checkpoints are reference-tracked by ContextCleaner (cleaned when the
    frame is dropped) and count in neither. A leak test compares this set
    before and after a call."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = {
        ("rdd", k) for k in m.keySet().toArray()
        if not m.get(k).rdd().isLocallyCheckpointed()
    }
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    ident = spark._jvm.java.lang.System.identityHashCode
    return rdds | {("cached", ident(cached.apply(i))) for i in range(cached.size())}


def jobs_run(spark, fn):
    """(fn(), the number of Spark jobs it submitted): the scheduler's
    next job id before and after the call, so jobs fn submits from worker
    threads count too."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    start = int(sched.nextJobId())
    out = fn()
    return out, int(sched.nextJobId()) - start


class Route:
    """What the layout and salting planners decided inside a
    ``forced_route`` block: one ``ships_state`` result per layout
    decision, one ``decide_hub_salting`` result per skew probe."""

    def __init__(self):
        self.ships: list[bool] = []
        self.plans: list = []

    @property
    def shuffled(self) -> bool:
        return bool(self.ships) and not any(self.ships)

    def salted(self, salts: int) -> bool:
        return bool(self.plans) and all(
            p is not None and p.salts == salts for p in self.plans
        )


@contextmanager
def forced_route(shuffle: bool = False, salts: int | None = None):
    """Force the iterative engines onto the shuffle layout and/or hub
    salting of ``salts`` salts for the block, the only way either is
    forced: by lowering the planners' module constants, which they read
    at call time. Salting is decided on the shuffle layout only, so it
    needs ``shuffle=True`` to engage. Yields a ``Route`` recording what
    the planners decided, so a test can assert the route was taken (a
    patch that no longer reaches the planner then fails)."""
    # the spies patch loaded modules only, so every caller is loaded first
    from graphsetintersection_spark.operators import hits, pagerank, relabel  # noqa: F401
    from graphsetintersection_spark.operators import iterative
    from graphsetintersection_spark.plans import skew

    route = Route()
    with pytest.MonkeyPatch.context() as m:
        if shuffle:
            m.setattr(iterative, "BROADCAST_STATE_MAX_VERTICES", -1)
        if salts is not None:
            for attr in ("SALT_MIN_ROWS", "SALT_MIN_MAX_DEG", "SALT_SKEW_FACTOR"):
                m.setattr(skew, attr, 0)
            m.setattr(skew, "DEFAULT_SALTS", salts)
        for real, seen in (
            (iterative.ships_state, route.ships),
            (skew.decide_hub_salting, route.plans),
        ):

            def spy(*args, _real=real, _seen=seen, **kwargs):
                _seen.append(_real(*args, **kwargs))
                return _seen[-1]

            # every library module holding the function, whether it
            # imported it at load time or looks it up at call time
            for name, mod in list(sys.modules.items()):
                if name.startswith("graphsetintersection_spark") and (
                    getattr(mod, real.__name__, None) is real
                ):
                    m.setattr(mod, real.__name__, spy)
        yield route


def random_graph(n_vertices: int, n_edges: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic directed multigraph (may contain dups/self-loops on
    purpose — canonicalization is under test too)."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_vertices, n_edges)
    dst = rng.integers(0, n_vertices, n_edges)
    return list(zip(src.tolist(), dst.tolist()))


def undirected_simple(pairs) -> set[frozenset]:
    return {frozenset((u, v)) for u, v in pairs if u != v}


def brute_triangles(pairs) -> int:
    """O(V^3-ish) oracle on the undirected simple graph."""
    und = undirected_simple(pairs)
    verts = sorted({x for e in und for x in e})
    nbrs = {v: set() for v in verts}
    for e in und:
        u, v = tuple(e)
        nbrs[u].add(v)
        nbrs[v].add(u)
    count = 0
    for a, b, c in itertools.combinations(verts, 3):
        if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]:
            count += 1
    return count


@pytest.fixture(scope="session")
def tiny_graph(spark):
    pairs = random_graph(60, 400, seed=42)
    df = spark.createDataFrame(pairs, "src long, dst long")
    return pairs, df
