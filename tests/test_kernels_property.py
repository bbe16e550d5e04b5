"""Property-based (hypothesis) tests for the numpy batch kernels.

The reference validates its 13 SIMD intersection variants against each
other over generated id lists (gen_id_list grids); here random ragged
batches — empty rows, empty batches, dense rows, adversarial values —
are checked against Python set semantics, which the parameterized grid
in test_kernels.py cannot explore exhaustively. Pure numpy: no Spark
session, so the whole file runs in seconds."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from graphsetintersection_spark.kernels import (
    _popcount,
    batch_bsr_intersect_count,
    batch_intersect_count,
)
from graphsetintersection_spark.operators.triangle import (
    _build_bitset,
    _csr_gather,
)

# a row = sorted unique values (the kernels' input contract: adjacency
# lists arrive sorted+deduped); values span several base words so BSR
# packing is exercised across word boundaries
row_st = st.lists(
    st.integers(min_value=0, max_value=2000), max_size=60
).map(lambda xs: np.array(sorted(set(xs)), dtype=np.int64))
batch_st = st.lists(st.tuples(row_st, row_st), max_size=12)


def flatten(rows):
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    vals = (
        np.concatenate(rows) if rows and lens.sum() else
        np.empty(0, dtype=np.int64)
    )
    return vals, lens


@settings(max_examples=200, deadline=None)
@given(batch_st)
def test_batch_intersect_kernels_match_set_semantics(batch):
    rows_a = [a for a, _ in batch]
    rows_b = [b for _, b in batch]
    va, la = flatten(rows_a)
    vb, lb = flatten(rows_b)
    expect = np.array(
        [len(set(a) & set(b)) for a, b in batch], dtype=np.int64
    )
    got_uint = batch_intersect_count(va, la, vb, lb)
    got_bsr = batch_bsr_intersect_count(va.copy(), la, vb.copy(), lb)
    assert list(got_uint) == list(expect)
    assert list(got_bsr) == list(expect)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=50
    )
)
def test_popcount_matches_python(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert list(_popcount(arr)) == [bin(x).count("1") for x in xs]


@settings(max_examples=150, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=500),
        st.lists(st.integers(min_value=0, max_value=500), max_size=20),
        max_size=20,
    ),
    st.lists(st.integers(min_value=0, max_value=600), max_size=40),
)
def test_csr_gather_matches_dict_lookup(adj, keys):
    adj = {v: sorted(set(ns)) for v, ns in adj.items() if ns}
    vs = np.array(sorted(adj), dtype=np.int64)
    lens = np.array([len(adj[v]) for v in vs], dtype=np.int64)
    indptr = np.zeros(len(vs) + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr[1:])
    flat = (
        np.concatenate([np.array(adj[v], dtype=np.int64) for v in vs])
        if len(vs)
        else np.empty(0, dtype=np.int64)
    )
    kv = np.array(keys, dtype=np.int64)
    gv, gl = _csr_gather(vs, indptr, flat, kv)
    off = 0
    for k, n in zip(keys, gl):
        assert list(gv[off:off + n]) == adj.get(k, [])
        off += n
    assert off == len(gv)


@settings(max_examples=150, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=300),
        st.lists(st.integers(min_value=0, max_value=300), max_size=15),
        max_size=15,
    )
)
def test_bitset_rows_encode_exact_sets(adj):
    adj = {v: sorted(set(ns)) for v, ns in adj.items() if ns}
    vs = np.array(sorted(adj), dtype=np.int64)
    lens = np.array([len(adj[v]) for v in vs], dtype=np.int64)
    indptr = np.zeros(len(vs) + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr[1:])
    flat = (
        np.concatenate([np.array(adj[v], dtype=np.int64) for v in vs])
        if len(vs)
        else np.empty(0, dtype=np.int64)
    )
    M = _build_bitset(vs, indptr, flat)
    for v, ns in adj.items():
        bits = {
            w * 64 + b
            for w, word in enumerate(M[v])
            for b in range(64)
            if int(word) >> b & 1
        }
        assert bits == set(ns)
    # pairwise AND+popcount equals set intersection size
    items = list(adj)
    for u in items[:5]:
        for v in items[:5]:
            got = int(_popcount((M[u] & M[v])).sum())
            assert got == len(set(adj[u]) & set(adj[v]))
