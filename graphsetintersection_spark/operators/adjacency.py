"""Sorted-adjacency construction — the engine's CSR analog.

The reference packs neighbor lists into flat sorted arrays (CSR,
``src/util.hpp:46-51``, built at ``src/org_triangle_count.cpp:31-49``) and
optionally into BSR bitmaps (``src/bitpack_triangle_count.cpp:43-67``). The
Spark equivalent is ``DataFrame[v: bigint, nbrs: array<bigint>]`` with the
array sorted ascending — the invariant every downstream kernel relies on.
Inside Arrow batches a list column IS a CSR block (flat values + offsets),
so pandas/Arrow kernels get the reference's columnar layout for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lower_adjacency(oriented: DataFrame) -> DataFrame:
    """Adjacency of SMALLER-id neighbors: for each v, sorted {u : u < v,
    {u,v} ∈ E}. Input must be the oriented edge table (src < dst).
    Reference: the BSR lists built from u>v edges in
    src/bitpack_triangle_count.cpp:29-31,45-63 — bounding intersection
    sizes so each triangle is counted exactly once."""
    return oriented.groupBy(F.col("dst").alias("v")).agg(
        F.sort_array(F.collect_set("src")).alias("nbrs")
    )
