"""Shared fixtures: one local SparkSession per test run, tiny deterministic
graphs with brute-force oracles (mirrors the reference's scalar-oracle
differential testing, src/exp/test_intersection_algos.cpp:102-127)."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from graphsetintersection_spark.session import get_spark

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gsi-tests", master="local[4]", shuffle_partitions=8)
    yield s


def cache_rdd_ids(spark) -> set:
    """Ids of the persisted RDDs that never auto-release. Local
    checkpoints are reference-tracked by ContextCleaner (cleaned when the
    frame is dropped), so only the CacheManager-backed kind counts: a
    leak test compares this set before and after a call."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        k for k in m.keySet().toArray()
        if not m.get(k).rdd().isLocallyCheckpointed()
    }


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
