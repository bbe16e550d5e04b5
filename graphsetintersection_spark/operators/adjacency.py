"""Sorted-adjacency construction — the engine's CSR analog.

The reference packs neighbor lists into flat sorted arrays (CSR,
``src/util.hpp:46-51``, built at ``src/org_triangle_count.cpp:31-49``) and
optionally into BSR bitmaps (``src/bitpack_triangle_count.cpp:43-67``). The
Spark equivalent is ``DataFrame[v: bigint, nbrs: array<bigint>]`` with the
array sorted ascending — the invariant every downstream kernel relies on.
Inside Arrow batches a list column IS a CSR block (flat values + offsets),
so pandas/Arrow kernels get the reference's columnar layout for free.

The driver gets the same layout in one Arrow collect: ``_collect_csr``
turns a (v, nbrs) frame into numpy (vs, indptr, flat) arrays. The triangle
route's broadcast CSR and every driver-side ordering (``driver_csr``: the
reference orderings that walk one sorted CSR sequentially) share it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.edges import canonicalize, symmetrize


def lower_adjacency(oriented: DataFrame) -> DataFrame:
    """Adjacency of SMALLER-id neighbors: for each v, sorted {u : u < v,
    {u,v} ∈ E}. Input must be the oriented edge table (src < dst).
    Reference: the BSR lists built from u>v edges in
    src/bitpack_triangle_count.cpp:29-31,45-63 — bounding intersection
    sizes so each triangle is counted exactly once."""
    return oriented.groupBy(F.col("dst").alias("v")).agg(
        F.sort_array(F.collect_set("src")).alias("nbrs")
    )


def _collect_csr(adj: DataFrame):
    """Driver-side CSR of the (v, nbrs) adjacency: (vs_sorted, indptr,
    flat_vals) numpy arrays, vertices sorted so batch lookups are one
    ``searchsorted``. Collection goes through Arrow (``toArrow``): the
    list column arrives as ONE contiguous values buffer + offsets, so the
    driver-side footprint is ~the int64 payload itself — a Row-based
    ``collect()`` materializes per-row Python lists of Python ints,
    ~10× the payload in transient objects, a driver-OOM hazard at the
    sizes the callers allow. Callers guard size: the triangle route by
    its BROADCAST_ADJ_MAX_ENTRIES, ``driver_csr`` by its vertex cap.
    ``toArrow`` needs pyspark ≥ 4.0."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = adj.select("v", "nbrs").toArrow()

    vs = (
        tbl.column("v")
        .combine_chunks()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64, copy=False)
    )
    lst = tbl.column("nbrs").combine_chunks()
    lens = (
        pc.list_value_length(lst)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64, copy=False)
    )
    flat = (
        lst.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64, copy=False)
    )
    if len(vs) == 0:
        return vs, np.zeros(1, dtype=np.int64), flat
    # sort rows by vertex id; reorder the ragged values with one gather
    order = np.argsort(vs, kind="stable")
    indptr_un = np.zeros(len(vs) + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr_un[1:])
    vs_s, lens_s = vs[order], lens[order]
    indptr = np.zeros(len(vs) + 1, dtype=np.int64)
    np.cumsum(lens_s, out=indptr[1:])
    total = int(indptr[-1])
    if total:
        shift = np.zeros(len(lens_s), dtype=np.int64)
        np.cumsum(lens_s[:-1], out=shift[1:])
        gather = np.repeat(indptr_un[order] - shift, lens_s) + np.arange(
            total, dtype=np.int64
        )
        flat = flat[gather]
    else:
        flat = np.empty(0, dtype=np.int64)
    return vs_s, indptr, flat


def _check_driver_cap(e: DataFrame, cap: int, opname: str) -> None:
    """Raise BEFORE collecting the grouped adjacency when the vertex count
    exceeds the driver cap — one cheap distinct-count aggregate, so the
    cap can actually prevent the driver OOM it exists for (ADVICE r3 #2;
    the post-collect check it replaces fired only after the damage)."""
    n = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .count()
    )
    if n > cap:
        raise ValueError(
            f"graph too large for driver-side {opname} ({n:,} vertices > "
            f"cap {cap:,}) — use a distributed ordering (degree/bfs/"
            f"slashburn) instead"
        )


def driver_csr(
    edges: DataFrame, max_vertices: int, opname: str, undirected: bool = False
):
    """The sorted CSR the reference's sequential orderings walk
    (src/util.hpp:46-51), on the driver: (ids, indptr, nbr) numpy arrays
    over the canonical edges (symmetrized when ``undirected``). ``ids``
    holds every vertex id ascending — sink-only vertices get empty rows —
    and vertex i's out-neighbors are ``nbr[indptr[i]:indptr[i+1]]``, as
    ascending POSITIONS into ``ids``. The vertex cap is checked before
    anything is collected; the adjacency arrives through ``_collect_csr``
    and the ids map to positions with one ``searchsorted``."""
    import numpy as np

    e = canonicalize(edges)
    if undirected:
        e = symmetrize(e)
    _check_driver_cap(e, max_vertices, opname)
    vs, indptr, flat = _collect_csr(
        e.groupBy(F.col("src").alias("v")).agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        )
    )
    ids = np.union1d(vs, flat)
    # sources keep their relative order inside ids, so flat stays row-major
    # and only the row pointers spread out over the sink-only rows
    lens = np.zeros(len(ids), dtype=np.int64)
    lens[np.searchsorted(ids, vs)] = np.diff(indptr)
    ptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(lens, out=ptr[1:])
    return ids, ptr, np.searchsorted(ids, flat)
