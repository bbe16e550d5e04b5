"""Differential tests of the numpy set kernels against brute-force oracles.

Mirrors the reference's differential test harness
(``src/exp/test_intersection_algos.cpp:102-127`` — every SIMD variant is
checked element-wise against the scalar merge oracle on parameterized random
sorted sets from ``src/exp/random_data_generator.cpp:4-45``).
"""

import numpy as np
import pytest

from graphsetintersection_spark import kernels as K


def gen_sorted_pair(rng, length, skew, selectivity, density):
    """Two sorted unique sets with controlled size skew and overlap —
    the same parameter space as the reference's gen_id_list
    (src/exp/random_data_generator.cpp: -len/-skew/-select/-dense)."""
    size_a = max(1, int(length))
    size_b = max(1, int(length * skew))
    universe = max(size_a, size_b) / max(density, 1e-9)
    a = np.unique(rng.integers(0, int(universe), size_a))
    n_common = int(selectivity * min(size_a, size_b))
    common = rng.choice(a, size=min(n_common, len(a)), replace=False)
    b_rand = rng.integers(0, int(universe), size_b)
    b = np.unique(np.concatenate([common, b_rand]))
    return np.sort(a).astype(np.int64), np.sort(b).astype(np.int64)


GRID = [
    (length, skew, select, dense)
    for length in (0, 1, 10, 1000)
    for skew in (1.0, 0.1)
    for select in (0.0, 0.5, 1.0)
    for dense in (0.01, 0.5)
]


def _flatten_lists(lists):
    lens = np.array([len(x) for x in lists], dtype=np.int64)
    vals = (
        np.concatenate([np.asarray(x, dtype=np.int64) for x in lists])
        if lens.sum()
        else np.empty(0, dtype=np.int64)
    )
    return vals, lens


@pytest.mark.parametrize("length,skew,select,dense", GRID)
def test_pairwise_contracts(length, skew, select, dense):
    rng = np.random.default_rng(42)
    a, b = gen_sorted_pair(rng, length, skew, select, dense)
    oracle = np.intersect1d(a, b)
    assert np.array_equal(K.intersect(a, b), oracle)
    assert np.array_equal(K.difference(a, b), np.setdiff1d(a, b))


@pytest.mark.parametrize("length,skew,select,dense", GRID)
def test_bsr_roundtrip_and_intersect(length, skew, select, dense):
    """The BSR kernel on the per-pair grid: |A∩A| = |A| and |B∩B| = |B|
    (packing into base/state words and popcounting them back loses no
    member) and |A∩B| equals the scalar-merge oracle, each pair as a
    one-row batch and all three as one batch."""
    rng = np.random.default_rng(7)
    a, b = gen_sorted_pair(rng, length, skew, select, dense)
    oracle = len(np.intersect1d(a, b))

    def bsr(lists_a, lists_b):
        va, la = _flatten_lists(lists_a)
        vb, lb = _flatten_lists(lists_b)
        return K.batch_bsr_intersect_count(va, la, vb, lb).tolist()

    assert bsr([a], [a]) == [len(a)]
    assert bsr([b], [b]) == [len(b)]
    assert bsr([a], [b]) == [oracle]
    assert bsr([a, b, a], [a, b, b]) == [len(a), len(b), oracle]


def test_batch_intersect_count_matches_rowwise():
    rng = np.random.default_rng(123)
    lists_a, lists_b, expected = [], [], []
    for i in range(200):
        a, b = gen_sorted_pair(
            rng, rng.integers(0, 50), 1.0, float(rng.random()), 0.3
        )
        lists_a.append(a)
        lists_b.append(b)
        expected.append(len(np.intersect1d(a, b)))
    got = K.batch_intersect_count(
        *_flatten_lists(lists_a), *_flatten_lists(lists_b)
    )
    assert got.tolist() == expected


def test_batch_intersect_count_empty_rows():
    e = np.empty(0, dtype=np.int64)
    got = K.batch_intersect_count(
        *_flatten_lists([e, np.array([1, 2])]),
        *_flatten_lists([np.array([1]), e]),
    )
    assert got.tolist() == [0, 0]
    assert K.batch_intersect_count(
        *_flatten_lists([]), *_flatten_lists([])
    ).tolist() == []


@pytest.mark.parametrize("dense", [0.01, 0.3, 0.9])
def test_batch_bsr_matches_uint_kernel(dense):
    """BSR batch kernel ≡ element-wise batch kernel across densities
    (the reference's BP-vs-Org parity, src/tc.cpp:14-16)."""
    rng = np.random.default_rng(31)
    lists_a, lists_b = [], []
    for _ in range(150):
        a, b = gen_sorted_pair(
            rng, rng.integers(0, 80), 1.0, float(rng.random()), dense
        )
        lists_a.append(a)
        lists_b.append(b)
    va, la = _flatten_lists(lists_a)
    vb, lb = _flatten_lists(lists_b)
    got_bsr = K.batch_bsr_intersect_count(va, la, vb, lb)
    got_uint = K.batch_intersect_count(va, la, vb, lb)
    assert got_bsr.tolist() == got_uint.tolist()


def test_batch_bsr_empty():
    e = np.empty(0, dtype=np.int64)
    z = np.array([0], dtype=np.int64)
    assert K.batch_bsr_intersect_count(e, z, e, z).tolist() == [0]
    assert K.batch_bsr_intersect_count(
        e, np.empty(0, dtype=np.int64), e, np.empty(0, dtype=np.int64)
    ).tolist() == []


def test_batch_kernels_reject_out_of_range_ids():
    big = np.array([1 << 40], dtype=np.int64)
    one = np.array([1], dtype=np.int64)
    for fn in (K.batch_intersect_count, K.batch_bsr_intersect_count):
        with pytest.raises(ValueError):
            fn(big, one, big, one)
        with pytest.raises(ValueError):
            fn(-one, one, one, one)
