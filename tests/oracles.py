"""Driver-side and relational oracles of library operators.

- ``degeneracy_order`` — the bucket-queue min-degree peel
  (src/org_maximal_clique.cpp:316-370) over a collected numpy CSR; the
  exact-degeneracy oracle of ``cliques.degeneracy_order_distributed``.
- ``triangle_count_join`` — the 3-way relational self-join; the triangle
  oracle at sizes where ``conftest.brute_triangles`` (O(V³)) is too slow.
"""

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.edges import (
    canonicalize,
    orient,
    symmetrize,
)


def degeneracy_order(edges: DataFrame) -> tuple[DataFrame, int]:
    """(order DataFrame[v, rank], degeneracy) — min-degree-first peeling,
    one vertex at a time, smallest id first among equal degrees."""
    und = symmetrize(canonicalize(edges))
    adj_rows = (
        und.groupBy(F.col("src").alias("v"))
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .collect()
    )
    ids = np.array([r["v"] for r in adj_rows], dtype=np.int64)
    idx_of = {int(v): i for i, v in enumerate(ids)}
    nbrs = [np.array([idx_of[int(u)] for u in r["nbrs"]], dtype=np.int64)
            for r in adj_rows]
    n = len(ids)
    deg = np.array([len(x) for x in nbrs], dtype=np.int64)
    removed = np.zeros(n, dtype=bool)
    order = np.empty(n, dtype=np.int64)
    degeneracy = 0
    # bucket queue over degrees
    buckets: dict[int, set[int]] = {}
    for i in range(n):
        buckets.setdefault(int(deg[i]), set()).add(i)
    cur = 0
    for pos in range(n):
        while cur not in buckets or not buckets[cur]:
            cur += 1
        i = min(buckets[cur])  # deterministic tie-break
        buckets[cur].discard(i)
        degeneracy = max(degeneracy, cur)
        removed[i] = True
        order[pos] = i
        for j in nbrs[i]:
            if not removed[j]:
                d = int(deg[j])
                buckets[d].discard(int(j))
                deg[j] = d - 1
                buckets.setdefault(d - 1, set()).add(int(j))
        cur = max(cur - 1, 0)
    spark = edges.sparkSession
    rank_rows = [(int(ids[i]), int(r)) for r, i in enumerate(order)]
    return (
        spark.createDataFrame(rank_rows, "v long, rank long"),
        int(degeneracy),
    )


def triangle_count_join(edges: DataFrame) -> int:
    """Count (a,b),(b,c),(a,c) with a<b<c over the oriented edge list."""
    e = orient(edges).select("src", "dst")
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"]).count()
