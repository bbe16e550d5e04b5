"""Global triangle counting — the reference's flagship query (``tc``).

Semantics (src/bitpack_triangle_count.cpp:70-103, src/org_triangle_count
.cpp:56-86): over the canonically oriented edge list (u < v, deduplicated,
self-loops dropped), sum |N⁻(u) ∩ N⁻(v)| where N⁻(x) = neighbors of x with
smaller id — each triangle a<b<c counted exactly once, at edge (b,c).

Two implementations whose equality is itself a test, with the 3-way
relational self-join (``tests/oracles.py``) as the third member of the
reference's Org / BP / Roaring parity trio (src/tc.cpp:14-16):

- ``triangle_count_arrays`` — adjacency + ``array_intersect`` built-in;
  JVM-side, no Python.
- ``triangle_count_kernel`` — adjacency + one vectorized Arrow batch
  kernel; the Spark re-expression of the paper's SIMD QFilter loop. It
  takes no options: one planner (``_kernel_count``) picks the route from
  what it observes — broadcast CSR (collected by
  ``adjacency._collect_csr``, which the driver orderings share) or the
  per-edge adjacency join by adjacency size, the dense bit matrix or BSR
  by id range and density, and on the join path a broadcast of hub
  adjacency (reference select_bignode, src/porder.cpp:353-392) when Zipf
  hubs would skew the shuffle.

The multithreaded reference variant (static edge-range partitioning +
per-thread partials, src/bitpack_triangle_count.cpp:143-206) is exactly
Spark's partition-parallel partial ``sum`` — free in both forms.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.kernels import batch_bsr_intersect_count
from graphsetintersection_spark.operators.adjacency import _collect_csr, lower_adjacency
from graphsetintersection_spark.operators.edges import orient
from graphsetintersection_spark.plans.skew import hub_split_ratio


def _edge_with_lower_adj(
    e: DataFrame, adj: DataFrame, hub_ratio: float | None = None
) -> DataFrame:
    """Joined frame (src, dst, nbrs_a, nbrs_b) of smaller-id adjacency for
    both endpoints of each oriented edge — the one place the per-edge
    adjacency join is assembled. Two shuffles; the oriented edge list
    ``e`` is both the iteration list and the adjacency source
    (``adj = lower_adjacency(e)``), mirroring the reference build
    (src/bitpack_triangle_count.cpp:18-68). A persisted ``adj`` builds
    once and both joins read the cache; a raw aggregate is rebuilt inside
    each join.

    ``hub_ratio`` splits the adjacency into a broadcast hub slice + a
    shuffled rest. Zipf web graphs concentrate degree in few hubs
    (reference select_bignode, src/porder.cpp:353-392; SlashBurn hub
    isolation :1009-1114). The hub slice is few ROWS (top vertices
    covering ``hub_ratio`` of total degree) but most of the JOIN MATCHES —
    the exact shape where a broadcast beats a shuffle and where a plain
    shuffle join skews. AQE skew-split remains the backstop for the rest."""
    t = None
    if hub_ratio is not None:
        from graphsetintersection_spark.operators.relabel import (
            hub_degree_threshold,
        )

        t = hub_degree_threshold(
            adj.select(F.size("nbrs").alias("deg")), hub_ratio
        )
    joined = e
    for key, out in (("src", "nbrs_a"), ("dst", "nbrs_b")):
        side = adj.select(F.col("v").alias("_k"), F.col("nbrs").alias(out))
        on = joined[key] == F.col("_k")
        if t is None:
            joined = joined.join(side, on).drop("_k")
        else:
            hub = F.broadcast(side.where(F.size(out) >= t))
            joined = joined.join(hub, on).drop("_k").unionByName(
                joined.join(side.where(F.size(out) < t), on).drop("_k")
            )
    return joined.select("src", "dst", "nbrs_a", "nbrs_b")


def triangle_count_arrays(edges: DataFrame) -> int:
    """Adjacency + JVM ``array_intersect`` — no Python at all."""
    e = orient(edges).select("src", "dst")
    row = _edge_with_lower_adj(e, lower_adjacency(e)).agg(
        F.sum(F.size(F.array_intersect("nbrs_a", "nbrs_b"))).alias("tri")
    ).collect()[0]
    return int(row["tri"] or 0)


def _make_count_batches(kernel_fn, acc_inter, acc_cmp):
    """mapInArrow kernel factory: per batch, one vectorized intersect-count
    over the CSR-shaped Arrow list columns (flat values + offsets — zero
    copy). ``kernel_fn`` is any batch kernel with the
    (vals_a, lens_a, vals_b, lens_b) contract.

    ``acc_inter`` / ``acc_cmp`` are Spark accumulators mirroring
    the reference's per-run profiling counters (``inter_cnt`` /
    ``cmp_cnt``, src/set_operation.cpp:903-905, printed by tc at
    src/tc.cpp:46): intersections performed (= adjacency pairs, one per
    oriented edge) and elements scanned (Σ|A|+|B| — the batch analog of
    the scalar kernels' element comparisons). Accumulators add per batch,
    so the per-partition partials aggregate exactly like the counts."""

    def count_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        for batch in it:
            a = batch.column(batch.schema.get_field_index("nbrs_a"))
            b = batch.column(batch.schema.get_field_index("nbrs_b"))
            if isinstance(a, pa.ChunkedArray):  # pragma: no cover
                a = a.combine_chunks()
                b = b.combine_chunks()
            off_a = a.offsets.to_numpy()
            off_b = b.offsets.to_numpy()
            vals_a = a.values.to_numpy().astype(np.int64, copy=False)
            vals_b = b.values.to_numpy().astype(np.int64, copy=False)
            va = vals_a[off_a[0]:off_a[-1]] if len(off_a) else vals_a
            vb = vals_b[off_b[0]:off_b[-1]] if len(off_b) else vals_b
            counts = kernel_fn(va, np.diff(off_a), vb, np.diff(off_b))
            acc_inter.add(int(batch.num_rows))
            acc_cmp.add(int(len(va) + len(vb)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(counts.sum(keepdims=True), type=pa.int64())], ["tri"]
            )

    return count_batches


def triangle_count_kernel_with_stats(edges: DataFrame) -> tuple[int, dict]:
    """``triangle_count_kernel`` + the reference's profiling counters as
    Spark accumulators: returns (triangles, {"inter_cnt": .., "cmp_cnt":
    ..}) — the engine analog of tc's per-run print (src/tc.cpp:46;
    counters maintained at src/set_operation.cpp:903-905). inter_cnt =
    adjacency-pair intersections executed (one per oriented edge);
    cmp_cnt = list elements scanned by the batch kernels (words ANDed,
    for the bitset kernel)."""
    sc = edges.sparkSession.sparkContext
    acc_i, acc_c = sc.accumulator(0), sc.accumulator(0)
    tri = _kernel_count(edges, acc_i, acc_c)
    return tri, {"inter_cnt": int(acc_i.value), "cmp_cnt": int(acc_c.value)}


# The broadcast-CSR route collects the smaller-id adjacency to the
# driver and ships it once per executor; above this many total adjacency
# entries (= oriented edges; 16M ≈ 128 MB of int64) the join route
# takes over. Mirrors pagerank's BROADCAST_STATE cutover.
BROADCAST_ADJ_MAX_ENTRIES = 16_000_000


def _csr_gather(vs, indptr, flat, keys):
    """Ragged gather: for each key, that vertex's CSR slice (missing
    vertices → empty). Returns (values, lens) in key order — the batch
    kernels' contract."""
    import numpy as np

    if len(vs) == 0:
        return np.empty(0, dtype=np.int64), np.zeros(len(keys), dtype=np.int64)
    pos = np.searchsorted(vs, keys)
    pos[pos == len(vs)] = len(vs) - 1
    hit = vs[pos] == keys
    starts = np.where(hit, indptr[pos], 0)
    lens = np.where(hit, indptr[pos + 1] - indptr[pos], 0)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), lens
    shift = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=shift[1:])
    out_idx = np.repeat(starts - shift, lens) + np.arange(total, dtype=np.int64)
    return flat[out_idx], lens


# Dense-regime bit-matrix kernel bounds: the n×⌈n/64⌉ uint64 adjacency
# matrix must stay broadcastable (n²/8 bytes ≤ this), and it must beat the
# element-wise kernels on work (W words ANDed per edge vs ~|A|+|B| sorted
# elements scanned) — see _pick_broadcast_kernel.
BITSET_MAX_BYTES = 256 * 1024 * 1024


def _build_bitset(vs, indptr, flat):
    """Dense n×W uint64 lower-adjacency bit matrix from the CSR arrays.
    Row v's set bits are exactly the smaller-id neighbors of v."""
    import numpy as np

    n = int(vs[-1]) + 1 if len(vs) else 0
    # columns must span the neighbor VALUE domain; for lower adjacency
    # values are < row ids by construction, but guard generically
    vmax = max(n, int(flat.max()) + 1 if len(flat) else 0)
    W = max((vmax + 63) // 64, 1)
    M = np.zeros((n, W), dtype=np.uint64)
    if len(flat):
        rows = np.repeat(vs, np.diff(indptr))
        bits = np.uint64(1) << (flat & np.int64(63)).astype(np.uint64)
        # bitwise_or.at, NOT |= with fancy indexing: duplicate (row, word)
        # pairs must all land
        np.bitwise_or.at(M, (rows, flat >> 6), bits)
    return M


def _make_bitset_count_batches(bc, acc_inter, acc_cmp):
    """mapInArrow kernel over the bare oriented edge frame with a
    broadcast bit-matrix: per edge, popcount(M[u] & M[v]) — the dense
    analog of the reference's bitset path (the BSR states with one global
    base space). cmp_cnt counts words ANDed (2·rows·W), the dense
    equivalent of elements scanned."""

    def count_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        from graphsetintersection_spark.kernels import _popcount

        M = bc.value
        W = M.shape[1]
        for batch in it:
            src = batch.column(batch.schema.get_field_index("src")).to_numpy(
                zero_copy_only=False
            )
            dst = batch.column(batch.schema.get_field_index("dst")).to_numpy(
                zero_copy_only=False
            )
            anded = M[src] & M[dst]
            total = int(_popcount(anded.reshape(-1)).sum())
            acc_inter.add(int(batch.num_rows))
            acc_cmp.add(2 * int(batch.num_rows) * W)
            yield pa.RecordBatch.from_arrays(
                [pa.array([total], type=pa.int64())], ["tri"]
            )

    return count_batches


def _pick_broadcast_kernel(vs, flat, entries: int) -> str:
    """The broadcast route's kernel, "bitset" or "bsr": the bit matrix wins
    when it fits the broadcast budget AND an edge's W-word AND is cheaper
    than scanning its two sorted lists (W ≤ 8·mean lower-degree — the
    element kernels cost ~10 ops per element vs 1 AND+popcount per word).
    Sparse, huge-id, or negative-id graphs resolve to "bsr" (negative ids
    checked on BOTH the row ids and the neighbor values: the global-min
    vertex never appears as a row of the lower adjacency, only as a
    value, so vs[0] ≥ 0 alone does not rule negatives out)."""
    if len(vs) == 0 or vs[0] < 0 or (len(flat) and int(flat.min()) < 0):
        return "bsr"
    n = int(vs[-1]) + 1
    W = (n + 63) // 64
    if n * W * 8 > BITSET_MAX_BYTES:
        return "bsr"
    if entries and W > 8 * (entries / len(vs)):
        return "bsr"
    return "bitset"


def _make_broadcast_count_batches(bc, acc_inter, acc_cmp):
    """mapInArrow kernel over the bare oriented EDGE frame (src, dst):
    per batch, gather both endpoints' adjacency from the broadcast CSR and
    run the BSR intersect-count. Nothing but two int64 columns
    ever moves through the plan — the reference's in-memory-CSR regime
    (src/bitpack_triangle_count.cpp:18-68 builds the index once; the count
    loop reads it in place), re-expressed as broadcast + Arrow batches."""

    def count_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vs, indptr, flat = bc.value
        for batch in it:
            src = batch.column(batch.schema.get_field_index("src")).to_numpy(
                zero_copy_only=False
            )
            dst = batch.column(batch.schema.get_field_index("dst")).to_numpy(
                zero_copy_only=False
            )
            va, la = _csr_gather(vs, indptr, flat, src)
            vb, lb = _csr_gather(vs, indptr, flat, dst)
            counts = batch_bsr_intersect_count(va, la, vb, lb)
            acc_inter.add(int(batch.num_rows))
            acc_cmp.add(int(len(va) + len(vb)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(counts.sum(keepdims=True), type=pa.int64())], ["tri"]
            )

    return count_batches


def _kernel_count(edges: DataFrame, acc_inter, acc_cmp) -> int:
    """The kernel triangle count's only planner. ONE probe aggregate over
    the persisted adjacency picks the route from what it observes, so the
    adjacency groupBy executes exactly once per count whichever route
    runs:

    - broadcast CSR while total adjacency entries ≤
      BROADCAST_ADJ_MAX_ENTRIES: collect CSR, broadcast, stream the bare
      (src, dst) edge list through a batch kernel — zero join, zero
      neighbor-list duplication; the reference's in-memory regime, the
      right one while the adjacency fits executor memory (measured 8.0s →
      1.4s vs the join route on the 26%-dense 2k-vertex/557k-edge sf0.1
      lgraph). ``_pick_broadcast_kernel`` then picks the dense bit matrix
      (compact, dense id space; measured 23× vs the element-wise kernel
      on that lgraph) or BSR (bit-packed base/state AND+popcount — the
      reference's BP path, src/bitpack_triangle_count.cpp:43-103;
      densified further by a degree relabel, see relabel.comp_ratio).
    - the per-edge adjacency join above the bound (the 100 TB shape):
      ``_edge_with_lower_adj`` over the persisted adjacency, so both joins
      read the cache — the lowest measured wall-clock at every size tried
      (59M edges, local[4]: ~235s pooled-median vs the recompute plan's
      290s; local[16]: parity) — with the broadcast-hub split when
      ``plans.skew.hub_split_ratio`` sees Zipf skew, and the BSR kernel.
      Neighbor lists ship once per incident edge, which is the price of
      not fitting in memory.
    """
    e = orient(edges).select("src", "dst")
    adj = lower_adjacency(e).persist()
    bc = None
    # try/finally: any failure between the persist and the terminal
    # release (probe, CSR collect, the count job itself) must not leak a
    # session-lifetime CacheManager entry or broadcast — the exact leak
    # class VERDICT r4 #2 flagged in dedup.py.
    try:
        probe = adj.agg(
            F.sum(F.size("nbrs")).alias("entries"),
            F.max(F.size("nbrs")).alias("mx"),
            F.avg(F.size("nbrs")).alias("av"),
        ).collect()[0]
        entries = int(probe["entries"] or 0)
        if entries > BROADCAST_ADJ_MAX_ENTRIES:
            hub_ratio = hub_split_ratio(entries, probe["mx"], probe["av"])
            fn = _make_count_batches(
                batch_bsr_intersect_count, acc_inter, acc_cmp
            )
            partials = _edge_with_lower_adj(e, adj, hub_ratio).mapInArrow(
                fn, "tri long"
            )
        else:
            sc = edges.sparkSession.sparkContext
            vs, indptr, flat = _collect_csr(adj)
            if _pick_broadcast_kernel(vs, flat, entries) == "bitset":
                bc = sc.broadcast(_build_bitset(vs, indptr, flat))
                fn = _make_bitset_count_batches(bc, acc_inter, acc_cmp)
            else:
                bc = sc.broadcast((vs, indptr, flat))
                fn = _make_broadcast_count_batches(bc, acc_inter, acc_cmp)
            # choose the cheaper materialization of the oriented edge
            # stream: an already-cached input re-orients straight off its
            # cache, but an expensive DERIVED input (e.g. the
            # lineitem-distinct gate graphs) would re-run its whole plan —
            # there, explode the persisted adjacency instead (edge (a, b),
            # a < b ⇔ a ∈ lower-nbrs(b); guide §2.4: don't compute
            # things twice)
            # NOTE (measured dead end): the cached branch is not free —
            # ``orient`` re-runs a distinct shuffle of the edges. Streaming
            # the persisted adjacency for cached inputs too took the
            # perfbench triangle step (traced, seed 1, local[4]) from 8 to 7
            # jobs and its shuffle from 1,015,151 to 450,454 B on
            # lgraph_iterative and from 1,839,443 to 945,344 B on webgraph,
            # but its warm wall rose on both (lgraph 0.49/0.56 s →
            # 0.55/0.59 s, webgraph 0.62/0.69 s → 0.70/0.72 s over two
            # interleaved reps). The fork stays until the adjacency
            # stream is made as fast; its parallelism is the first suspect,
            # not yet isolated.
            if edges.is_cached:
                e_stream = e
            else:
                e_stream = adj.select(
                    F.explode("nbrs").alias("src"), F.col("v").alias("dst")
                )
            partials = e_stream.mapInArrow(fn, "tri long")
        row = partials.agg(F.sum("tri").alias("tri")).collect()[0]
        return int(row["tri"] or 0)
    finally:
        adj.unpersist()
        if bc is not None:
            bc.unpersist()


def triangle_count_kernel(edges: DataFrame) -> int:
    """Adjacency + vectorized numpy batch kernel via mapInArrow.

    Each Arrow batch contributes one partial count (the reference's
    per-thread ``con_res[id]`` partials, src/bitpack_triangle_count
    .cpp:150-205); Spark's ``sum`` does the final reduce. There are no
    options: ``_kernel_count`` picks the route (broadcast CSR or the
    per-edge adjacency join, bit matrix or BSR, hub split or not) from
    the adjacency it has built. The count comes from
    ``triangle_count_kernel_with_stats``, whose counters are always on."""
    return triangle_count_kernel_with_stats(edges)[0]


def triangles_per_edge(edges: DataFrame) -> DataFrame:
    """Per-oriented-edge common-smaller-neighbor count — the engine's
    surfaced form of intersect_count (set_operation.cpp:129-144) over
    adjacency pairs. Returns (src, dst, common) with common > 0 only."""
    e = orient(edges).select("src", "dst")
    return _edge_with_lower_adj(e, lower_adjacency(e)).select(
        "src",
        "dst",
        F.size(F.array_intersect("nbrs_a", "nbrs_b")).alias("common"),
    ).where(F.col("common") > 0)
