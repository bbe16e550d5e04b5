"""Vectorized numpy set-operation kernels on sorted int64 arrays.

These are the engine core: the Spark re-expression of the reference's
set-intersection kernel family (scalar merge / galloping / SIMD QFilter /
BMiss / shuffling — ``src/set_operation.cpp``,
``src/intersection_algos.cpp``). All thirteen micro-architectural variants
share four semantic contracts; each contract keeps at most one form here,
the one an operator calls:

1. intersect (set_operation.cpp:112-144) — ``intersect`` for the
   per-pair sorted sets of the clique search's array kernel, and
   ``batch_intersect_count`` for whole Arrow batches (the near-duplicate
   verify; the oracle of the BSR kernel).
2. union/merge (set_operation.cpp:1189-1205) — no kernel: no operator
   merges sorted lists in numpy (BFS frontiers are Spark unions).
3. difference (set_operation.cpp:1234-1387) — ``difference`` for the
   clique search's pivot extension; the visited-bitmap forms are the BFS
   levels' anti-joins.
4. BSR packed form (intersection_algos.cpp:1328-1357,
   set_operation.cpp:554-591) — ``batch_bsr_intersect_count``, which
   encodes each batch and ANDs + popcounts it (the triangle count's BSR
   route); ``relabel.comp_ratio`` counts the packed words relationally.

Inputs are required to be SORTED ASCENDING and DEDUPLICATED — the same
invariant every reference kernel relies on
(``src/bitpack_triangle_count.cpp:34-37``).

The batch kernels process a whole Arrow record batch of (listA, listB)
pairs in a handful of numpy ops — no per-row Python — using a row-offset
key trick: row ``i``'s values are lifted to ``i * 2^33 + v`` so one global
``searchsorted`` resolves every row's memberships at once. This is the
Spark analog of the reference's SIMD inner loops: data-parallel compares
over contiguous buffers.
"""

from __future__ import annotations

import numpy as np

# Vertex ids must fit below 2^33 for the batch row-offset trick; web-scale
# corpora at 10^12 docs fit in 2^40 — at that scale raise ROW_SHIFT and use
# fewer rows per Arrow batch (ids < 2^ROW_SHIFT, rows < 2^(63-ROW_SHIFT)).
ROW_SHIFT = 33
PACK_SHIFT = 6  # BSR packs 64 low bits per base word (reference: 5 → 32 bits)
PACK_WIDTH = 1 << PACK_SHIFT


# ---------------------------------------------------------------------------
# pairwise kernels (contracts 1 and 3) — the clique search's array kernel
# ---------------------------------------------------------------------------

def intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sorted-set intersection (reference scalar merge, set_operation.cpp:112)."""
    return np.intersect1d(a, b, assume_unique=True)


def difference(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """A \\ B on sorted unique arrays (reference ``subtract``,
    set_operation.cpp:1342-1387)."""
    return np.setdiff1d(a, b, assume_unique=True)


# 16-bit popcount lookup table (64 KiB): one gather per uint16 lane.
_POPCOUNT_LUT = (
    np.unpackbits(
        np.arange(65536, dtype=np.uint16).view(np.uint8).reshape(-1, 2), axis=1
    )
    .sum(axis=1)
    .astype(np.uint8)
)


def _popcount(x: np.ndarray) -> np.ndarray:
    """Per-element set-bit count of a 1-D uint64 array. np.bitwise_count
    where available (numpy ≥ 2); else 4 LUT gathers per word — on dense
    state words this is ~50× the old shift loop, whose pass count scaled
    with the HIGHEST set bit (64 full-array passes on dense graphs)."""
    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(x).astype(np.int64)
    x = np.ascontiguousarray(x, dtype=np.uint64)
    return _POPCOUNT_LUT[x.view(np.uint16)].reshape(-1, 4).sum(
        axis=1, dtype=np.int64
    )


# ---------------------------------------------------------------------------
# batch kernels — whole-Arrow-batch, zero per-row Python
# ---------------------------------------------------------------------------

def _check_row_shift(vals_a: np.ndarray, vals_b: np.ndarray) -> None:
    """The row-offset trick packs (row << ROW_SHIFT) | value into one int64;
    a value outside [0, 2^ROW_SHIFT) silently corrupts counts. Guard here so
    un-relabeled id spaces (e.g. raw hash ids) fail loudly instead."""
    lim = np.int64(1) << ROW_SHIFT
    for vals in (vals_a, vals_b):
        if len(vals) and (vals.min() < 0 or vals.max() >= lim):
            raise ValueError(
                f"batch kernel requires ids in [0, 2^{ROW_SHIFT}); got "
                f"[{vals.min()}, {vals.max()}] — relabel to continuous ids "
                f"first (operators.relabel.continuous_ids)"
            )


def batch_intersect_count(
    vals_a: np.ndarray, lens_a: np.ndarray,
    vals_b: np.ndarray, lens_b: np.ndarray,
) -> np.ndarray:
    """Per-row |A_i ∩ B_i| for a whole batch in O(batch) numpy ops.

    Each row's values are lifted by ``row * 2^ROW_SHIFT``; because every
    row's list is sorted, the concatenated lifted B is globally sorted, so a
    single ``searchsorted`` answers every row's memberships at once. This is
    the batch analog of the reference's per-pair SIMD kernels — the "SIMD
    lane" is the whole Arrow batch.
    """
    n = len(lens_a)
    assert len(lens_b) == n
    if n == 0:
        return np.empty(0, dtype=np.int64)
    _check_row_shift(vals_a, vals_b)
    row_a = np.repeat(np.arange(n, dtype=np.int64), lens_a)
    row_b = np.repeat(np.arange(n, dtype=np.int64), lens_b)
    key_a = (row_a << ROW_SHIFT) | vals_a
    key_b = (row_b << ROW_SHIFT) | vals_b
    if len(key_b) == 0 or len(key_a) == 0:
        return np.zeros(n, dtype=np.int64)
    idx = np.searchsorted(key_b, key_a)
    idx[idx == len(key_b)] = len(key_b) - 1
    hit = key_b[idx] == key_a
    return np.bincount(row_a[hit], minlength=n).astype(np.int64)


def batch_bsr_intersect_count(
    vals_a: np.ndarray, lens_a: np.ndarray,
    vals_b: np.ndarray, lens_b: np.ndarray,
) -> np.ndarray:
    """Per-row |A_i ∩ B_i| via BSR (Base & State Representation) — the
    batch form of the reference's bit-packed intersection
    (bp_intersect_count, set_operation.cpp:554-591; encode
    intersection_algos.cpp:1328-1343).

    Each row's sorted values are packed into (base, state) words with
    base = v >> PACK_SHIFT lifted by the row offset, so one global
    ``np.unique`` + ``bitwise_or.reduceat`` encodes the whole batch and one
    ``np.intersect1d`` aligns every row's common bases at once; AND +
    popcount counts members. After degree relabel densifies ids, each base
    word covers up to 64 neighbors — the fewer words per list, the bigger
    the win over the element-wise kernel (exactly the reference's
    reorder→densify→bit-pack design)."""
    n = len(lens_a)
    assert len(lens_b) == n
    if n == 0:
        return np.empty(0, dtype=np.int64)
    _check_row_shift(vals_a, vals_b)
    base_shift = ROW_SHIFT - PACK_SHIFT

    def encode(vals, lens):
        rows = np.repeat(np.arange(n, dtype=np.int64), lens)
        keys = (rows << base_shift) | (vals >> PACK_SHIFT)
        bits = np.int64(1) << (vals & np.int64(PACK_WIDTH - 1))
        if len(keys) == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy()
        ukeys, start = np.unique(keys, return_index=True)
        states = np.bitwise_or.reduceat(bits, start)
        return ukeys, states

    keys_a, st_a = encode(vals_a, lens_a)
    keys_b, st_b = encode(vals_b, lens_b)
    common, ia, ib = np.intersect1d(
        keys_a, keys_b, assume_unique=True, return_indices=True
    )
    if not len(common):
        return np.zeros(n, dtype=np.int64)
    cnt = _popcount(st_a[ia] & st_b[ib])
    return np.bincount(
        common >> base_shift, weights=cnt, minlength=n
    ).astype(np.int64)
