"""Vertex reordering / relabeling — the reference's ``reorder`` module.

The reference ships seven ordering algorithms (``src/porder.cpp``, 1213 LoC;
dispatch ``src/reorder.cpp:48-77``) whose shared contract is: produce a
permutation ``org2newid`` and rewrite the edge list through it
(``src/porder.cpp:226-229``). The default GRO greedy (greedy_mheap,
``src/porder.cpp:142-235``) is inherently sequential; its scalable cousin —
which the reference also ships as ``deg_desc_order``
(``src/porder.cpp:471-495``) and which GRO's own tie-breaking falls back to
(``hybrid_bfsdeg``, ``src/porder.cpp:93-140``) — is degree-descending
relabel, which is what this engine implements as a distributed job:
hubs get the densest (smallest) ids, so BSR-style packed intersections
touch fewer words.

Also here:
- ``comp_ratio``  — the densification metric the reorderings are judged by
  (``src/porder.cpp:295-351``, printed by tc at
  ``src/bitpack_triangle_count.cpp:66-67``): average distinct
  ``nbr >> PACK_SHIFT`` blocks per edge; lower = denser packing.
- ``select_bignode`` — smallest hub set covering a target fraction of total
  degree (``src/porder.cpp:353-392``); feeds hub-adjacency broadcast and
  salting decisions.
- ``continuous_ids`` — arbitrary → continuous 0-based ids
  (``python/trans_graph.py:3-22``, required by README.md:44).

The sequential orderings (``dfs_order``, ``bfsr_order``, GRO's
``greedy_mheap_order``, ``hybrid_bfsdeg_order_exact``) walk one sorted CSR
on the driver, as the reference does (``src/util.hpp:46-51``):
``adjacency.driver_csr`` checks the vertex cap, collects the adjacency
through Arrow and maps ids to positions, and ``_order_frame`` returns the
permutation as one Arrow table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphsetintersection_spark.kernels import PACK_SHIFT, PACK_WIDTH
from graphsetintersection_spark.operators.adjacency import driver_csr
from graphsetintersection_spark.operators.edges import canonicalize, degrees, symmetrize
from graphsetintersection_spark.operators.iterative import ships_state
from graphsetintersection_spark.plans.assign import global_order_stats
from graphsetintersection_spark.plans.checkpoint import run_rounds


def degree_order(
    edges: DataFrame, descending: bool = True, deg: DataFrame | None = None
) -> DataFrame:
    """Permutation (org_id, new_id): new ids assigned by total degree
    (desc by default), ties broken by original id for determinism.
    Reference deg_desc_order / deg_order (src/porder.cpp:445-495).

    new_id is 0-based and continuous — the invariant the reference demands
    of all graphs (README.md:44).

    Distributed: two-phase range-shuffle id assignment
    (plans.assign.global_order_stats), no single-reducer global window.
    ``deg`` (a (v, deg) frame) lets callers that already computed — and
    ideally persisted — the degree table share it instead of recomputing.
    """
    if deg is None:
        deg = degrees(edges)
    order_cols = (
        [F.col("deg").desc(), F.col("v").asc()]
        if descending
        else [F.col("deg").asc(), F.col("v").asc()]
    )
    out = global_order_stats(deg, order_cols, rank_col="new_id")
    return out.select(F.col("v").alias("org_id"), "new_id")


def continuous_ids(edges: DataFrame, id_col_name: str = "org_id") -> DataFrame:
    """Arbitrary vertex ids → continuous 0-based (python/trans_graph.py:3-22).
    Deterministic: ordered by original id. Two-phase distributed assign."""
    verts = (
        edges.select(F.col("src").alias(id_col_name))
        .union(edges.select(F.col("dst").alias(id_col_name)))
        .distinct()
    )
    out = global_order_stats(
        verts, [F.col(id_col_name).asc()], rank_col="new_id"
    )
    return out.select(id_col_name, "new_id")


def apply_order(edges: DataFrame, order: DataFrame) -> DataFrame:
    """Rewrite the edge list through a permutation — two hash joins
    (reference: the relabel loop at src/porder.cpp:226-229). The permutation
    is 2 longs per vertex; for web graphs it is usually broadcastable up to
    ~10^8 vertices, else Catalyst falls back to SMJ automatically."""
    o_src = order.select(
        F.col("org_id").alias("src"), F.col("new_id").alias("_new_src")
    )
    o_dst = order.select(
        F.col("org_id").alias("dst"), F.col("new_id").alias("_new_dst")
    )
    return (
        edges.join(o_src, "src")
        .join(o_dst, "dst")
        .select(
            F.col("_new_src").alias("src"),
            F.col("_new_dst").alias("dst"),
        )
    )


def comp_ratio(edges: DataFrame, pack_shift: int = PACK_SHIFT) -> float:
    """BSR densification metric, the reference's exact form
    (src/porder.cpp:295-341): the AVERAGE of the out-edge and in-edge
    packing ratios, each = (packed base-words across adjacency lists) /
    e_num. Lower is better; 1.0 means every neighbor needs its own word,
    1/64 is perfect packing. Since (out/e + in/e)/2 =
    (packed_out + packed_in) / (2·e_num), both directions are computed in
    ONE union + aggregate job."""
    both = edges.select(
        F.col("src").alias("v"),
        F.shiftright(F.col("dst"), pack_shift).alias("blk"),
        F.lit(0).alias("dir"),
    ).union(
        edges.select(
            F.col("dst"),
            F.shiftright(F.col("src"), pack_shift),
            F.lit(1),
        )
    )
    row = (
        both.groupBy("v", "dir")
        .agg(
            F.countDistinct("blk").alias("n_blocks"),
            F.count("*").alias("n_edges"),
        )
        .agg(F.sum("n_blocks").alias("b"), F.sum("n_edges").alias("e"))
        .collect()[0]
    )
    return float(row["b"]) / float(row["e"]) if row["e"] else 0.0


def select_bignode(
    edges: DataFrame, deg_ratio: float = 0.3, deg: DataFrame | None = None
) -> DataFrame:
    """Smallest set of highest-degree vertices covering ``deg_ratio`` of
    total degree (reference src/porder.cpp:353-392). Returns
    (v, deg, cum_deg). Used to pick the hub set for adjacency broadcast
    and salted aggregation. The cumulative degree is computed with the
    two-phase distributed prefix sum, not a global window. ``deg`` shares
    a caller-computed degree table (same contract as degree_order)."""
    if deg is None:
        deg = degrees(edges)
    # one aggregate serves both the threshold and the sizing decision
    tot_row = deg.agg(F.sum("deg"), F.count(F.lit(1))).collect()[0]
    total, n_verts = tot_row[0] or 0, tot_row[1]
    ranked = global_order_stats(
        deg,
        [F.col("deg").desc(), F.col("v").asc()],
        cumsum_of="deg",
        cumsum_col="cum_deg",
        approx_rows=n_verts,
    )
    # keep rows until cumulative degree first reaches the threshold
    thresh = float(total) * deg_ratio
    return ranked.where(F.col("cum_deg") - F.col("deg") < thresh)


def hub_degree_threshold(deg: DataFrame, deg_ratio: float) -> int | None:
    """Smallest degree value t such that vertices with deg >= t cover at
    least ``deg_ratio`` of total degree — the scalar-threshold form of
    select_bignode (src/porder.cpp:353-392) used where only a hub/non-hub
    SPLIT is needed (broadcast/salting decisions), not the exact minimal
    set. One small aggregate over the distinct-degree histogram
    (O(distinct degrees) rows to the driver — O(sqrt E) for power-law
    graphs), no global window.

    ``deg`` is any frame with a ``deg`` column. Returns None for an empty
    frame."""
    return _degree_threshold(_degree_histogram(deg), deg_ratio)


def _degree_histogram(deg: DataFrame) -> list[tuple[int, int]]:
    """(degree, Σ degree) per distinct value of ``deg``'s ``deg`` column,
    collected: the one aggregate ``hub_degree_threshold`` and the
    salting probe read."""
    hist = deg.groupBy("deg").agg(F.sum("deg").cast("long").alias("s")).collect()
    return [(int(r["deg"]), int(r["s"])) for r in hist]


def _degree_threshold(hist: list[tuple[int, int]], deg_ratio: float) -> int | None:
    """``hub_degree_threshold`` over a collected ``_degree_histogram``."""
    if not hist:
        return None
    want = float(sum(s for _, s in hist)) * deg_ratio
    acc = 0
    for d, s in sorted(hist, reverse=True):
        acc += s
        if acc >= want:
            return d
    return min(d for d, _ in hist)


def _bfs_levels(
    edges: DataFrame,
    root: int,
    max_levels: int,
    n: int,
) -> DataFrame:
    """Level-synchronous BFS from ``root`` over out-edges, one
    ``run_rounds`` round per level (round r expands level r). Returns the
    (v, level) leaf; the caller unpersists it once a downstream result is
    materialized.

    One level body on both layouts of ``ships_state(n)`` for the ``n``
    vertices (operators/iterative.py): the frontier joins the edges, the
    candidates' distinct anti-joins the visited set. The layout picks
    only the hints and the edge cache, as in the CC/LPA/PageRank rounds:

    - BROADCAST (while the vertex set fits the state cutover): the edge
      frame is cached ONCE and each level broadcast-joins the frontier
      into it and broadcast-anti-joins the visited set — the 100-TB edge
      object is never exchanged per round; only the candidate frontier
      (bounded by one level's reach) shuffles for its distinct.
    - SHUFFLE (above the cutover): no hint and no cache — each level
      exchanges the frontier AND the edge frame; correct at any state
      size."""
    spark = edges.sparkSession
    broadcast_state = ships_state(n)
    hint = F.broadcast if broadcast_state else (lambda df: df)
    ej = edges.select("src", "dst")
    # an already-cached input needs no second cache copy — the per-level
    # joins read the caller's cache through the cheap projection
    ej_cached_here = broadcast_state and not edges.is_cached
    if ej_cached_here:
        ej = ej.persist()
    # NOTE (r6): replacing the per-level levels re-checkpoint with a lazy
    # union of frontier leaves was MEASURED SLOWER here (13-21s vs 7s on
    # the 20k-vertex bench graph, degrading with plan depth) — the
    # per-level broadcast anti-join re-plans the whole union every level.
    # The materialized-visited-set shape below stands, with ONE
    # materialization per level: the new frontier is unioned into the
    # visited set and checkpointed in the SAME job (previously the
    # frontier and the union were two separate checkpoints), the frontier
    # view is a lazy filter over that leaf, and termination reads the
    # union's row count from an observed metric of the checkpoint job
    # itself (exact integer count — order-insensitive, no extra action)
    # instead of a separate isEmpty job. 5 jobs/level → 3 (r6); 4 as counted now.
    n_prev, obs = 1, None  # visited rows (the root row); the round's count

    def step(levels: DataFrame, rnd: int) -> DataFrame:
        nonlocal obs
        frontier = levels.where(F.col("level") == rnd).select(
            F.col("v").alias("src")
        )
        nxt = (
            ej.join(hint(frontier), "src")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(hint(levels.select("v")), "v", "left_anti")
        )
        obs = Observation()
        return levels.unionByName(nxt.withColumn("level", F.lit(rnd + 1))).observe(
            obs, F.count(F.lit(1)).alias("n")
        )

    def stop(levels: DataFrame, new: DataFrame):
        # read after the driver's eager localCheckpoint filled the
        # observation: no extra job. A level that adds no vertex leaves a
        # leaf with the previous one's content, and the search is done.
        nonlocal n_prev
        n_new = int(obs.get["n"])
        done, n_prev = n_new == n_prev, n_new
        return done, {}

    try:
        levels, _, _, _ = run_rounds(
            spark.createDataFrame([(root, 0)], "v long, level int"),
            step,
            max_levels,
            stop,
        )
    finally:
        if ej_cached_here:
            ej.unpersist()
    return levels


def _level_order(
    edges: DataFrame,
    root_exprs: list,
    order: list,
    max_levels: int,
) -> DataFrame:
    """Shared body of the BFS orderings: BFS levels from the first vertex
    under ``root_exprs``, then the two-phase rank over ``order`` (columns
    v, deg, level; vertices the search did not reach get level
    max_levels + 1). Returns the materialized (v, level, deg, new_id)
    frame, new_id the 0-based rank, or an empty (v, new_id) frame for an
    empty graph. The BFS working caches are released on every exit path."""
    deg = degrees(edges).persist()
    try:
        root_row = deg.orderBy(*root_exprs).first()
        if root_row is None:
            return edges.sparkSession.createDataFrame([], "v long, new_id long")
        n = deg.count()
        levels = _bfs_levels(edges, int(root_row["v"]), max_levels, n=n)
        # deg left-joined to the levels: exactly n rows, so the ranking
        # needs no sizing count of its own
        ranked = deg.join(levels, "v", "left").select(
            "v",
            F.coalesce("level", F.lit(max_levels + 1)).alias("level"),
            "deg",
        )
        out = global_order_stats(
            ranked, order, rank_col="new_id", approx_rows=n
        )
        # global_order_stats returned an EAGERLY MATERIALIZED frame (its
        # contract) — the BFS levels leaf is no longer referenced by any
        # recomputable lineage and can be dropped safely
        levels.unpersist()
        return out
    finally:
        deg.unpersist()


def bfs_order(edges: DataFrame, max_levels: int = 64) -> DataFrame:
    """BFS ordering (org_id, new_id) — the reference's second locality
    criterion (src/porder.cpp:545-584): ids in BFS order from the
    highest-out-degree root, so neighborhoods become contiguous id runs.

    Distributed re-expression: level-synchronous frontier expansion over
    out-edges assigns each reached vertex its BFS LEVEL; the final
    permutation is the two-phase rank over (level asc, deg desc, v asc).
    Within a level the reference's order is its sequential queue order —
    here the deterministic (deg desc, v) tie-break, same locality class.
    Vertices unreachable from the root (the reference restarts BFS per
    component, :548-563) are appended after all reached levels as one
    final wave, ordered by the same (deg desc, v asc) tie-break."""
    out = _level_order(
        edges,
        [F.col("deg").desc(), F.col("v").asc()],
        [F.col("level").asc(), F.col("deg").desc(), F.col("v").asc()],
        max_levels,
    )
    return out.select(F.col("v").alias("org_id"), "new_id")


def rcm_order(edges: DataFrame, max_levels: int = 64) -> DataFrame:
    """Reverse Cuthill–McKee ordering (org_id, new_id) — reference
    rcm_order (src/porder.cpp:586-631): BFS from the MINIMUM-total-degree
    vertex, neighbors visited in ascending degree order, and the final ids
    assigned in REVERSE (the reference fills new_id from v_num-1 down).

    Distributed re-expression: the same level-synchronous BFS as
    bfs_order, in the reverse of the order (level asc, deg ASC, v asc) —
    the reference's ascending-degree queue-order class — so the ids are
    ranked directly over (level desc, deg desc, v desc): v makes the
    order total, so that rank IS (V-1) − the forward rank, with no vertex
    count. The reference restarts per component in ascending-degree order
    (:600-603); unreached vertices here form one final wave under the
    same (deg asc, v) order — same locality class, deterministic."""
    out = _level_order(
        edges,
        [F.col("deg").asc(), F.col("v").asc()],
        [F.col("level").desc(), F.col("deg").desc(), F.col("v").desc()],
        max_levels,
    )
    return out.select(F.col("v").alias("org_id"), "new_id")


def hybrid_bfsdeg_order(edges: DataFrame, max_levels: int = 64) -> DataFrame:
    """Hybrid BFS+degree ordering (org_id, new_id) — reference
    hybrid_bfsdeg (src/porder.cpp:93-140): every vertex first gets a BFS
    discovery index, then the final permutation sorts by
    (total degree DESC, bfs index ASC) — hubs lead (densifying packed
    intersections like deg_desc_order) while equal-degree vertices keep
    BFS locality.

    Distributed re-expression — a documented DEVIATION, not an exact
    mirror (like the other re-expressed orderings): the BFS tiebreak here
    is the rank over (level asc, v asc) from the smallest-id root, one
    two-phase rank with no second shuffle. The reference instead ranks by
    its queue DISCOVERY index, which within a level follows parent/
    adjacency order, not ascending id (e.g. edges 0→2, 0→3, 2→5, 3→4
    discover 5 before 4), and it restarts a fresh BFS per component in id
    order (:99-113) while this implementation puts every vertex
    unreachable from the first root (or beyond ``max_levels``) in one
    final level = max_levels + 1 bucket ordered by id. Both choices
    preserve the ordering's intent — hubs first, equal-degree vertices
    grouped by BFS locality — but equal-degree vertices may permute
    differently than src/porder.cpp within a level and across later
    components. The correctness gate's SQL oracle encodes THIS
    re-expression (level/id tiebreak), so it pins this implementation's
    semantics, not reference-exact parity."""
    out = _level_order(
        edges,
        [F.col("v").asc()],
        [F.col("deg").desc(), F.col("level").asc(), F.col("v").asc()],
        max_levels,
    )
    return out.select(F.col("v").alias("org_id"), "new_id")


def _order_frame(spark, ids, new_id) -> DataFrame:
    """The (org_id, new_id) frame of a driver-side permutation, built from
    one Arrow table of the two numpy columns — no per-row Python tuples."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"org_id": pa.array(ids, pa.int64()),
                  "new_id": pa.array(new_id, pa.int64())}),
        "org_id long, new_id long",
    )


def hybrid_bfsdeg_order_exact(
    edges: DataFrame, max_driver_vertices: int = 2_000_000
) -> DataFrame:
    """Reference-EXACT hybrid_bfsdeg (src/porder.cpp:93-140), driver-side.

    Unlike the distributed ``hybrid_bfsdeg_order`` re-expression (whose
    level/id tie-break is a documented deviation), this variant mirrors
    the reference literally: a multi-root queue BFS over the directed
    out-adjacency — roots taken in ascending id order, each popped
    vertex's unvisited out-neighbors discovered in ascending-id (sorted
    CSR) order, discovery index assigned at PUSH time (porder.cpp:99-113)
    — then the final permutation sorts by (out_deg + in_deg DESC,
    bfs discovery index ASC) (porder.cpp:118-124). Queue discovery order
    within a level follows parent order, not vertex id (e.g. edges
    0→2, 0→3, 2→5, 3→4 discover 5 before 4), and every component gets
    its own fresh BFS — the two behaviors the distributed tie-break
    cannot reproduce.

    A queue's discovery sequence is inherently sequential state, so —
    like ``dfs_order`` — this runs driver-side over numpy CSR under a
    vertex cap (checked BEFORE the collect). It is the library's only
    form of the reference's queue-BFS semantics; ``hybrid_bfsdeg_order``
    is the distributed level-synchronous ordering for graphs past the
    cap, with the tie-break deviation above.
    """
    from collections import deque

    import numpy as np

    ids, ptr, nbr = driver_csr(edges, max_driver_vertices, "hybrid_bfsdeg exact")
    n = len(ids)
    deg = np.diff(ptr) + np.bincount(nbr, minlength=n)  # out + in, directed
    bfs_idx = np.full(n, -1, dtype=np.int64)
    cur = 0
    q: deque = deque()
    for root in range(n):
        if bfs_idx[root] != -1:
            continue
        bfs_idx[root] = cur
        cur += 1
        q.append(root)
        while q:
            u = q.popleft()
            for w in nbr[ptr[u]:ptr[u + 1]]:
                if bfs_idx[w] == -1:
                    bfs_idx[w] = cur
                    cur += 1
                    q.append(int(w))
    # (deg desc, bfs_idx asc) — bfs_idx is unique, so the order is total
    perm = np.lexsort((bfs_idx, -deg))
    new_id = np.empty(n, dtype=np.int64)
    new_id[perm] = np.arange(n, dtype=np.int64)
    return _order_frame(edges.sparkSession, ids, new_id)


def leaf_node_count(edges: DataFrame) -> int:
    """Count degree-1 vertices (src/porder.cpp:82-91)."""
    return degrees(edges).where(F.col("deg") == 1).count()


def dfs_order(
    edges: DataFrame, max_driver_vertices: int = 2_000_000
) -> DataFrame:
    """DFS preorder (org_id, new_id) — reference dfs_order
    (src/porder.cpp:497-533): iterative depth-first preorder over the
    directed out-adjacency (neighbors in ascending id order — the
    reference's sorted CSR), restarting from the smallest unvisited id.

    DFS is inherently sequential (a single stack defines the order), so —
    like ``greedy_mheap_order`` — it runs driver-side over numpy CSR with
    a vertex cap. It is the library's only form of the reference's DFS
    preorder; past the cap, ``bfs_order`` is the distributed locality
    ordering (a different order, not a twin)."""
    import numpy as np

    ids, ptr, nbr = driver_csr(edges, max_driver_vertices, "dfs order")
    n = len(ids)
    new_id = np.full(n, -1, dtype=np.int64)
    nxt = ptr[:-1].copy()  # per-vertex resume position in nbr
    cur = 0
    for root in range(n):
        if new_id[root] != -1:
            continue
        new_id[root] = cur
        cur += 1
        stack = [root]
        while stack:
            u = stack[-1]
            advanced = False
            while nxt[u] < ptr[u + 1]:
                v = int(nbr[nxt[u]])
                nxt[u] += 1
                if new_id[v] == -1:
                    new_id[v] = cur
                    cur += 1
                    stack.append(v)
                    advanced = True
                    break
            if not advanced:
                stack.pop()
    return _order_frame(edges.sparkSession, ids, new_id)


def bfsr_order(
    edges: DataFrame,
    min_part: int = 32,
    max_driver_vertices: int = 2_000_000,
) -> DataFrame:
    """Recursive-BFS-bisection ordering (org_id, new_id) — reference
    bfsr_order / bfsr_bisection (src/porder.cpp:1116-1213): recursively
    split the vertex set in half by BFS reach — seed at the BFS-farthest
    vertex of the part, grow a BFS region to ~half the part, recurse on
    both halves; final ids are the concatenated recursion layout, so
    well-connected regions get contiguous id ranges at every scale of the
    recursion (a locality layout of the graph-bisection family).

    Driver-side over numpy CSR like the other sequential orderings
    (single recursion defines the order); parts below ``min_part`` are
    kept as-is (reference: tot_num < 32). Within-half ordering is the
    deterministic BFS discovery order rather than the reference's
    in-place swap residue — same bisection scheme, reproducible output."""
    import numpy as np

    ids, ptr, nbr = driver_csr(
        edges, max_driver_vertices, "bfsr order", undirected=True
    )
    n = len(ids)
    in_part = np.full(n, -1, dtype=np.int64)
    part_label = [0]

    def bfs_within(seed_order: list, limit: int, label: int) -> list:
        """BFS over the current part (vertices with in_part == label),
        seeded from ``seed_order`` in order, growing up to ``limit``
        vertices; returns discovery order. Visited vertices get -label."""
        out: list = []
        for s in seed_order:
            if len(out) >= limit:
                break
            if in_part[s] != label:
                continue
            in_part[s] = -label
            queue = [s]
            out.append(s)
            qi = 0
            while qi < len(queue) and len(out) < limit:
                u = queue[qi]
                qi += 1
                for v in nbr[ptr[u]:ptr[u + 1]]:
                    if in_part[v] == label:
                        in_part[v] = -label
                        queue.append(int(v))
                        out.append(int(v))
                        if len(out) >= limit:
                            break
        return out

    def bisect(part: list) -> list:
        if len(part) < min_part:
            return part
        part_label[0] += 1
        label = part_label[0]
        for v in part:
            in_part[v] = label
        # pass 1: full BFS from part[0]; the LAST discovered vertex is the
        # far seed (reference:1123-1141)
        reach = bfs_within(part, len(part), label)
        far = reach[-1]
        for v in part:
            in_part[v] = label
        # pass 2: grow the left half from the far seed (then remaining
        # part order as further seeds, reference:1148-1165)
        seeds = [far] + [v for v in part if v != far]
        left = bfs_within(seeds, len(part) // 2, label)
        left_set = set(left)
        right = [v for v in part if v not in left_set]
        return bisect(left) + bisect(right)

    new_id = np.empty(n, dtype=np.int64)
    new_id[bisect(list(range(n)))] = np.arange(n, dtype=np.int64)
    return _order_frame(edges.sparkSession, ids, new_id)


def _bisect_member_pairs(members, indptr, nbr):
    """(q, mpos) pair arrays: each member's LOCAL position (its index
    in ``members``) repeated per its neighbor q — the CSR slices of
    all members gathered in one fancy-index pass. Local positions
    keep every downstream array sized by the PART, not the graph
    (ADVICE r4 #2: per-part np.zeros(n)/minlength=n made deep
    recursion O(max_iters · n²/min_part) — infeasible at the 2M
    driver cap; with part-local arrays a whole recursion LEVEL is
    O(E + n), so the total is O(max_iters · (E + n) · log n))."""
    import numpy as np

    cnt = indptr[members + 1] - indptr[members]
    total = int(cnt.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    mpos = np.repeat(np.arange(len(members), dtype=np.int64), cnt)
    slice_start = np.cumsum(cnt) - cnt  # first global pos of each slice
    offset = np.arange(total) - np.repeat(slice_start, cnt)
    q = nbr[np.repeat(indptr[members], cnt) + offset]
    return q, mpos


def _loggap_cost(n1, q1, n2, q2):
    import numpy as np

    return q1 * np.log2(n1 / (q1 + 1.0)) + q2 * np.log2(n2 / (q2 + 1.0))


def _bisect_static_gain(left, right, csr4):
    """Gain vectors ALIGNED WITH left/right order (gl[i] is the gain
    of vertex left[i]); neighbor counts are compressed onto the
    touched-q domain via np.unique — no full-size-n scatter. ``csr4``
    = (out_ptr, out_nbr, in_ptr, in_nbr); member arrays index the CSR
    rows, neighbor VALUES may live in any integer domain (global ids
    or local positions — only equality matters)."""
    import numpy as np

    out_ptr, out_nbr, in_ptr, in_nbr = csr4
    ln, rn = len(left), len(right)
    gl, gr = np.zeros(ln), np.zeros(rn)
    for indptr, nbr in ((out_ptr, out_nbr), (in_ptr, in_nbr)):
        ql, pl = _bisect_member_pairs(left, indptr, nbr)
        qr, pr = _bisect_member_pairs(right, indptr, nbr)
        uq, qinv = np.unique(
            np.concatenate([ql, qr]), return_inverse=True
        )
        il, ir = qinv[: len(ql)], qinv[len(ql):]
        cl = np.bincount(il, minlength=len(uq))
        cr = np.bincount(ir, minlength=len(uq))
        if len(ql):
            dl, dr = cl[il], cr[il]
            mc = _loggap_cost(ln, dl, rn, dr) - _loggap_cost(
                ln, dl - 1, rn, dr + 1
            )
            gl += np.bincount(pl, weights=mc, minlength=ln)
        if len(qr):
            dl, dr = cl[ir], cr[ir]
            mc = _loggap_cost(ln, dl, rn, dr) - _loggap_cost(
                ln, dl + 1, rn, dr - 1
            )
            gr += np.bincount(pr, weights=mc, minlength=rn)
    return gl, gr


def _bisect_refine(left, right, csr4, max_iters, recompute_gains):
    """One bisection's ≤``max_iters`` gain-sorted prefix-swap rounds
    (reference :917-925) over a half split — the kernel every
    ``graph_bisection_order`` per-part task runs over its part-local CSR.
    Returns the refined (left, right) arrays."""
    import numpy as np

    gl, gr = _bisect_static_gain(left, right, csr4)
    for _ in range(max_iters):
        ol = np.argsort(-gl, kind="stable")
        left, gl = left[ol], gl[ol]
        orr = np.argsort(-gr, kind="stable")
        right, gr = right[orr], gr[orr]
        m = min(len(left), len(right))
        pos = gl[:m] + gr[:m] > 0
        k = int(m if pos.all() else np.argmin(pos))
        if k == 0:
            break
        left[:k], right[:k] = right[:k].copy(), left[:k].copy()
        if recompute_gains:
            gl, gr = _bisect_static_gain(left, right, csr4)
        else:
            # static gains are per-VERTEX — values travel with the
            # swapped vertices, exactly as the old gain[v] indexing did
            gl[:k], gr[:k] = gr[:k].copy(), gl[:k].copy()
    return left, right


def graph_bisection_order(
    edges: DataFrame,
    min_part: int = 32,
    max_iters: int = 20,
    recompute_gains: bool = True,
    max_task_vertices: int = 2_000_000,
    max_levels: int = 48,
) -> DataFrame:
    """Minimum-log-gap-arrangement ordering (org_id, new_id) — reference
    mloggapa_order / graph_bisection2 (src/porder.cpp:634-686, 794-930),
    the KDD'16 recursive-graph-bisection objective, and the library's
    only form of it: recursively split the current layout into halves
    and refine each split with ≤``max_iters`` rounds of gain-sorted
    prefix swaps, where a member vertex's gain sums, over each neighbor q
    it touches (separately for out- and in-edges, :809-858), the log-gap
    cost delta of moving it across:

        cost(n1,q1,n2,q2) = q1·log2(n1/(q1+1)) + q2·log2(n2/(q2+1))
        gain  += cost(ln, dl, rn, dr) − cost(ln, dl∓1, rn, dr±1)

    with dl/dr = how many of q's incident members sit left/right. Swap
    rounds (:917-925): sort both halves by gain desc, swap the leading
    pairs while gain_l+gain_r > 0, stop when a round swaps nothing.
    Parts below ``min_part`` keep their layout (:799: tot_num < 32).

    ``recompute_gains``: the reference builds the per-half incidence
    lists ONCE per bisection and never rebuilds them between swap rounds
    (:809 sits above the :865 iteration loop), so its gain vector is
    STATIC within a bisection and the refinement converges only by the
    round cap; ``recompute_gains=False`` reproduces those dynamics
    exactly. The default ``True`` recomputes dl/dr from the CURRENT
    membership after each swap round — the KDD'16 refinement the
    reference's code is aiming at — which genuinely converges. Both
    dynamics equal a literal dict-based mirror of the reference
    (parity pytest). Documented deviations: stable descending gain sort
    (the reference's std::sort tie order is unspecified) and
    per-neighbor gain scatter via weighted bincount.

    Level-synchronous re-expression: the recursion tree's level L holds
    2^L INDEPENDENT parts, so one ``groupBy(part).applyInPandas`` runs
    every part's refinement concurrently — each task runs
    ``_bisect_refine`` over a part-local CSR, and the level-synchronous
    (part, rank) order is the recursion's DFS concatenation order, so
    the output equals the sequential recursion whenever every part fits
    a task. State is one frame
    (v, part, rank, out_nbrs, in_nbrs): the adjacency rides with the
    assignment, so a level is exactly ONE hash-partition shuffle of
    O(V + E) rows and zero joins; depth is ⌈log2(n/min_part)⌉ levels.

    Parts larger than ``max_task_vertices`` (the top levels of a graph
    that no single task should hold) split by a pure COLUMN-EXPRESSION
    median cut of the current layout — no group ever materializes — and
    gain refinement engages once parts fit. Documented approximation:
    the reference refines every level, but its refinement of a
    billion-vertex "part" is exactly what cannot exist on any single
    machine; median-cutting the current layout preserves whatever
    locality the initial order carries (the KDD'16 paper itself seeds
    with a degree/BFS layout for the same reason, and callers can feed
    ``apply_order``-relabeled edges in).

    Initial layout = ascending vertex id (the reference's identity
    layout over continuous ids — feed relabeled ids to choose a
    different seed layout)."""
    import math

    spark = edges.sparkSession
    e = canonicalize(edges)
    out_adj = e.groupBy(F.col("src").alias("v")).agg(
        F.collect_list("dst").alias("out_nbrs")
    )
    in_adj = e.groupBy(F.col("dst").alias("v")).agg(
        F.collect_list("src").alias("in_nbrs")
    )
    verts = e.select(F.col("src").alias("v")).union(
        e.select(F.col("dst").alias("v"))
    ).distinct()
    base = (
        verts.join(out_adj, "v", "left")
        .join(in_adj, "v", "left")
        .select(
            "v",
            F.coalesce("out_nbrs", F.array().cast("array<long>")).alias(
                "out_nbrs"
            ),
            F.coalesce("in_nbrs", F.array().cast("array<long>")).alias(
                "in_nbrs"
            ),
        )
    )
    ranked0 = global_order_stats(base, [F.col("v").asc()], rank_col="rank")
    state = ranked0.select(
        "v", F.lit(0).cast("long").alias("part"), "rank",
        "out_nbrs", "in_nbrs",
    )
    n = state.count()
    if n == 0:
        ranked0.unpersist()
        return spark.createDataFrame([], "org_id long, new_id long")

    schema = (
        "v long, part long, rank long, "
        "out_nbrs array<long>, in_nbrs array<long>"
    )

    def refine(pdf):
        import numpy as np

        m = len(pdf)
        part = int(pdf["part"].iloc[0])
        pdf = pdf.sort_values("rank").reset_index(drop=True)

        def local_csr(lists):
            lens = np.fromiter(
                (len(x) for x in lists), dtype=np.int64, count=m
            )
            ptr = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(lens, out=ptr[1:])
            vals = (
                np.concatenate([np.asarray(x, dtype=np.int64) for x in lists])
                if ptr[-1]
                else np.empty(0, dtype=np.int64)
            )
            return ptr, vals

        optr, onbr = local_csr(pdf["out_nbrs"])
        iptr, inbr = local_csr(pdf["in_nbrs"])
        mid = m // 2
        pos = np.arange(m, dtype=np.int64)
        left, right = _bisect_refine(
            pos[:mid].copy(), pos[mid:].copy(),
            (optr, onbr, iptr, inbr), max_iters, recompute_gains,
        )
        order = np.concatenate([left, right])
        out = pdf.iloc[order].reset_index(drop=True)
        out["part"] = np.concatenate([
            np.full(len(left), part * 2, dtype=np.int64),
            np.full(len(right), part * 2 + 1, dtype=np.int64),
        ])
        out["rank"] = np.concatenate([
            np.arange(len(left), dtype=np.int64),
            np.arange(len(right), dtype=np.int64),
        ])
        return out

    # the initial materialized rank frame is itself a live cache — track
    # it in prev so the first level's checkpoint releases it too
    prev = ranked0
    levels = min(max_levels, max(1, math.ceil(math.log2(max(n, 2))))) + 1
    for _ in range(levels):
        sizes = state.groupBy("part").agg(
            F.count(F.lit(1)).alias("_psz")
        )
        mx = sizes.agg(F.max("_psz").alias("mx")).collect()[0]["mx"]
        if mx is None or mx < min_part:
            break
        sized = state.join(F.broadcast(sizes), "part")
        small = sized.where(F.col("_psz") < min_part).select(
            "v", (F.col("part") * 2).alias("part"), "rank",
            "out_nbrs", "in_nbrs",
        )
        fit = (
            sized.where(
                (F.col("_psz") >= min_part)
                & (F.col("_psz") <= max_task_vertices)
            )
            .select("v", "part", "rank", "out_nbrs", "in_nbrs")
            .groupBy("part")
            .applyInPandas(refine, schema)
        )
        # oversize parts: pure-expression median cut of the current
        # layout — no task materializes the part
        over = sized.where(F.col("_psz") > max_task_vertices)
        mid = (F.col("_psz") / 2).cast("long")
        over = over.select(
            "v",
            F.when(F.col("rank") < mid, F.col("part") * 2)
            .otherwise(F.col("part") * 2 + 1)
            .alias("part"),
            F.when(F.col("rank") < mid, F.col("rank"))
            .otherwise(F.col("rank") - mid)
            .alias("rank"),
            "out_nbrs",
            "in_nbrs",
        )
        nxt = small.unionByName(fit).unionByName(over).localCheckpoint(
            eager=True
        )
        if prev is not None:
            prev.unpersist()
        prev = nxt
        state = nxt
    out = global_order_stats(
        state.select("v", "part", "rank"),
        [F.col("part").asc(), F.col("rank").asc()],
        rank_col="new_id",
        approx_rows=n,
    ).select(F.col("v").alias("org_id"), "new_id")
    if prev is not None:
        prev.unpersist()
    return out


def greedy_mheap_order(
    edges: DataFrame,
    window: int = PACK_WIDTH,
    max_driver_vertices: int = 1_000_000,
) -> DataFrame:
    """GRO greedy ordering (org_id, new_id) — the reference's default
    reorder (greedy_mheap, src/porder.cpp:142-235): ids are assigned in
    windows of ``window`` (= the BSR pack width); each window STARTS at
    the highest-degree unplaced vertex, then repeatedly appends the
    unplaced vertex sharing the most in/out neighbors with the vertices
    already placed in the CURRENT window (each shared neighbor counted
    once per window — the reference's ``out_nbr_labels`` /
    ``in_nbr_labels`` marking), so co-cited vertices land in the same
    64-id pack word.

    The greedy is inherently sequential (the reference runs it
    single-threaded over CSR); like ``dfs_order`` it is executed
    driver-side over numpy CSR and capped at ``max_driver_vertices``. It
    is the library's only form of GRO; past the cap, callers use
    ``degree_order`` (a different ordering — the initializer the
    reference itself applies first).
    Tie-break is the deterministic (score desc, degree desc, id asc)
    triple rather than the reference's history-dependent linked-list-heap
    residual order — same objective, reproducible output.

    Cost: Θ(Σ_v deg(v)²) score updates (the reference pays the same);
    intended for graphs without mega-hubs (cf. its commented-out
    ``huge_vertex`` skip)."""
    import heapq

    import numpy as np

    ids, ptr, nbr = driver_csr(
        edges, max_driver_vertices, "greedy (GRO) order", undirected=True
    )
    n = len(ids)
    deg = np.diff(ptr)

    # window-start order: (deg desc, id asc) — reference vertex_temp sort;
    # positions ascend with ids, so a stable sort keeps the id tie-break
    start_order = np.argsort(-deg, kind="stable").tolist()
    start_ptr = 0
    placed = np.zeros(n, dtype=bool)
    score = np.zeros(n, dtype=np.int64)
    epoch = np.full(n, -1, dtype=np.int64)       # lazy per-window reset
    nbr_mark = np.full(n, -1, dtype=np.int64)    # v processed this window?
    heap: list = []                               # lazy-invalidation heap
    new_id = np.empty(n, dtype=np.int64)
    cur_epoch = -1

    def bump(w: int) -> None:
        if epoch[w] != cur_epoch:
            epoch[w] = cur_epoch
            score[w] = 0
        score[w] += 1
        heapq.heappush(heap, (-int(score[w]), -int(deg[w]), w))

    for pos in range(n):
        if pos % window == 0:
            cur_epoch += 1
            heap.clear()
            while placed[start_order[start_ptr]]:
                start_ptr += 1
            u = start_order[start_ptr]
        else:
            u = -1
            while heap:
                s, _, cand = heapq.heappop(heap)
                if placed[cand] or epoch[cand] != cur_epoch or -s != score[cand]:
                    continue  # stale entry
                u = cand
                break
            if u < 0:  # no scored candidate left — fall back to start order
                while placed[start_order[start_ptr]]:
                    start_ptr += 1
                u = start_order[start_ptr]
        placed[u] = True
        new_id[u] = pos
        # score every 2-hop co-neighbor of u through each unprocessed
        # neighbor v (one pass per v per window)
        for v in nbr[ptr[u]:ptr[u + 1]]:
            if nbr_mark[v] == cur_epoch:
                continue
            nbr_mark[v] = cur_epoch
            for w in nbr[ptr[v]:ptr[v + 1]]:
                if not placed[w]:
                    bump(int(w))

    return _order_frame(edges.sparkSession, ids, new_id)


def slashburn_order(
    edges: DataFrame,
    k_div: int = 1024,
    k_cap: int = 1024,
    max_rounds: int = 8,
) -> DataFrame:
    """SlashBurn ordering (org_id, new_id) — reference slashburn_order
    (src/porder.cpp:1009-1114): repeatedly "slash" the k highest-degree
    hubs to the FRONT of the id space, assign every non-giant connected
    component of the remainder to the BACK, and "burn" on into the giant
    component; leftovers fill the middle front-side at the end. Hubs and
    satellite components get extreme ids, the recursive core stays
    contiguous.

    Distributed re-expression, per round (all frames, no driver graph):
    k = min(remaining/k_div, k_cap) hubs by (current degree desc, v asc)
    → front ids; connected components of the hub-free remainder via star
    contraction; the largest component (ties: smaller component id)
    survives; all other vertices — including vertices isolated by the
    slash — take back ids ordered by (component size desc, component id
    asc, v asc). Documented deviations from the sequential reference: the
    k hubs are selected by round-start degrees (the reference re-ranks
    after each single hub removal), and ALL non-giant components are
    assigned (the reference only discovers components adjacent to the
    slashed hubs); both keep the same ordering family. Final leftovers:
    v-ascending front ids (reference :1096-1098)."""
    import numpy as np

    from graphsetintersection_spark.operators.components import (
        connected_components_starcontraction,
    )
    from graphsetintersection_spark.operators.edges import vertices as _verts

    spark = edges.sparkSession
    und = symmetrize(canonicalize(edges)).persist()
    # try/finally: a round that raises (a component search, an aggregate,
    # a checkpoint) must not leave the symmetrized edge cache behind
    try:
        rem_verts = _verts(und).localCheckpoint(eager=True)
        n = rem_verts.count()
        cur = und
        assigned: list[DataFrame] = []
        front_idx = 0
        back_idx = n - 1
        remaining = n

        for _ in range(max_rounds):
            k = max(1, min(remaining // k_div, k_cap))
            if remaining < max(k, 2):
                break
            deg_cur = cur.groupBy(F.col("src").alias("v")).agg(
                F.count("*").alias("deg")
            )
            hub_rows = (
                rem_verts.join(deg_cur, "v", "left")
                .select("v", F.coalesce("deg", F.lit(0)).alias("deg"))
                .orderBy(F.col("deg").desc(), F.col("v").asc())
                .limit(k)
                .collect()
            )
            hub_df = _order_frame(
                spark,
                np.array([r["v"] for r in hub_rows], dtype=np.int64),
                front_idx + np.arange(len(hub_rows), dtype=np.int64),
            )
            front_idx += len(hub_rows)
            assigned.append(hub_df)
            hub_v = hub_df.select(F.col("org_id").alias("v"))

            rem2 = rem_verts.join(hub_v, "v", "left_anti").localCheckpoint(eager=True)
            cur2 = (
                cur.join(hub_v.withColumnRenamed("v", "src"), "src", "left_anti")
                .join(hub_v.withColumnRenamed("v", "dst"), "dst", "left_anti")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            comp = connected_components_starcontraction(cur2).components
            # vertices isolated by the slash are singleton components
            comp_all = rem2.join(comp, "v", "left").select(
                "v", F.coalesce("component", F.col("v")).alias("component")
            )
            sizes = comp_all.groupBy("component").agg(F.count("*").alias("csize"))
            giant = (
                sizes.orderBy(F.col("csize").desc(), F.col("component").asc())
                .limit(1)
                .collect()
            )
            if not giant:
                # mirror the normal round-end cleanup: the superseded
                # rem_verts snapshot and this round's cur2 checkpoint are
                # dead on this exit path too (ADVICE r3 #3); cur goes below
                rem_verts.unpersist()
                rem_verts = rem2
                cur2.unpersist()
                remaining = 0
                break
            gcomp = int(giant[0]["component"])
            non_giant = comp_all.where(F.col("component") != gcomp).join(
                sizes, "component"
            )
            ranked = global_order_stats(
                non_giant,
                [F.col("csize").desc(), F.col("component").asc(), F.col("v").asc()],
                rank_col="_r",
            )
            ng_count = ranked.count()
            assigned.append(
                ranked.select(
                    F.col("v").alias("org_id"),
                    (F.lit(back_idx) - F.col("_r")).cast("long").alias("new_id"),
                )
            )
            back_idx -= ng_count

            giant_v = comp_all.where(F.col("component") == gcomp).select("v")
            old_rem, old_cur = rem_verts, cur
            rem_verts = giant_v.localCheckpoint(eager=True)
            cur = (
                cur2.join(rem_verts.withColumnRenamed("v", "src"), "src", "left_semi")
                .join(rem_verts.withColumnRenamed("v", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
            old_rem.unpersist()
            if old_cur is not und:
                old_cur.unpersist()
            cur2.unpersist()
            rem2.unpersist()
            remaining = rem_verts.count()
            if remaining == 0:
                break

        # leftovers: v-ascending front ids (reference :1096-1098)
        if remaining:
            left = global_order_stats(
                rem_verts, [F.col("v").asc()], rank_col="_r", approx_rows=remaining
            )
            assigned.append(
                left.select(
                    F.col("v").alias("org_id"),
                    (F.lit(front_idx) + F.col("_r")).cast("long").alias("new_id"),
                )
            )

        if not assigned:
            return spark.createDataFrame([], "org_id long, new_id long")
        out = assigned[0]
        for frame in assigned[1:]:
            out = out.unionByName(frame)
        out = out.localCheckpoint(eager=True)
        rem_verts.unpersist()
        if cur is not und:
            cur.unpersist()
        return out
    finally:
        und.unpersist()
