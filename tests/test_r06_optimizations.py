"""Focused tests for round-6 optimization internals: the Mersenne-31
modular reduction in the minhash kernel, the kernel-input parallelism
floor, and the triangle broadcast strategy's dual edge-stream source."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


def test_mersenne31_mod_equals_division_mod():
    """The folding reduction must equal ``%`` exactly over the kernel's
    whole operand domain (non-negative int64 below 2^62) including the
    boundary cases — the minhash signatures' bit-identity rests on it."""
    from graphsetintersection_spark.functions.dedup import (
        _MH_PRIME,
        _mersenne31_mod,
    )

    m = np.int64(_MH_PRIME)
    rng = np.random.default_rng(7)
    x = rng.integers(0, (1 << 62) - 1, size=500_000, dtype=np.int64)
    assert np.array_equal(_mersenne31_mod(x.copy()), x % m)
    edge = np.array(
        [0, 1, _MH_PRIME - 1, _MH_PRIME, _MH_PRIME + 1,
         2 ** 31, 2 ** 32, (1 << 62) - 1],
        dtype=np.int64,
    )
    assert np.array_equal(_mersenne31_mod(edge.copy()), edge % m)


def test_minhash_kernel_signatures_unchanged_by_mersenne(spark):
    """Signatures from the kernel path must still be bit-identical to the
    relational agg path (whose JVM ``%`` is untouched) — the cross-check
    that the Mersenne rewrite changed no value."""
    from graphsetintersection_spark.functions.dedup import minhash_signatures
    from tests.minhash_agg import minhash_signatures_agg

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text payload {i % 3}")
         for i in range(40)],
        "doc_id long, text string",
    )
    k = {r["doc_id"]: list(r["sig"])
         for r in minhash_signatures(docs, 32).collect()}
    a = {r["doc_id"]: list(r["sig"])
         for r in minhash_signatures_agg(docs, 32).collect()}
    assert k == a


def test_ensure_min_parallelism(spark):
    from graphsetintersection_spark.session import ensure_min_parallelism

    # under-parallel input is raised to the target
    df = spark.range(0, 1000, 1, 1)
    out = ensure_min_parallelism(df, target=8)
    assert out.rdd.getNumPartitions() >= 8
    assert out.count() == 1000
    # already-parallel input is returned untouched (no extra exchange)
    df16 = spark.range(0, 1000, 1, 16)
    assert ensure_min_parallelism(df16, target=8) is df16


def test_triangle_broadcast_stream_cached_and_uncached_agree(spark):
    """The broadcast route (the planner's choice on this small graph)
    streams edges from the input cache when one exists and from the
    persisted adjacency (explode) when not — both must count
    identically."""
    from graphsetintersection_spark.operators.triangle import (
        triangle_count_kernel,
    )

    pairs = [(a, b) for a in range(12) for b in range(a + 1, 12)
             if (a * 7 + b) % 3 != 0]
    df = spark.createDataFrame(pairs, "src long, dst long")
    uncached = triangle_count_kernel(df)
    cached = df.persist()
    try:
        cached.count()
        assert triangle_count_kernel(cached) == uncached
    finally:
        cached.unpersist()
    # and against the relational reference
    from tests.oracles import triangle_count_join

    assert uncached == triangle_count_join(df)


def test_pagerank_broadcast_round_dangling_flag_internal(spark):
    """The broadcast rounds carry the dangling flag internally but the
    public result is exactly (v, rank), with dangling mass equal to the
    oracle's Σ_{outdeg=0} rank formulation."""
    from graphsetintersection_spark.operators.pagerank import pagerank

    # star into a dangling sink plus an isolated edge
    df = spark.createDataFrame(
        [(0, 3), (1, 3), (2, 3), (7, 8)], "src long, dst long"
    )
    res = pagerank(df, max_iter=6, tol=None)
    assert res.ranks.columns == ["v", "rank"]
    total = res.ranks.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-12)
