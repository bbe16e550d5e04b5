"""The layout planner of the iterative engines, and the shared
preparation of the ship-vertex-state loops (label propagation, min-label
connected components).

``ships_state(n)`` is the one place the Spark layout of every iterative
engine is decided: PageRank/PPR (``pagerank_df_prepare``), HITS, the BFS
levels (``relabel._bfs_levels``) and ``prepare_undirected`` all ask it,
and it reads ``BROADCAST_STATE_MAX_VERTICES`` when called. Nothing else
picks a layout, and no engine takes an option for it.

- While the vertex-state vector fits in executor memory (n ≤ the ~10M
  cutover) it is BROADCAST into each round's join and the symmetrized
  edge frame is cached hash-partitioned by ``dst`` — then the per-round
  neighbor aggregation (keyed on dst) needs NO exchange at all: zero
  per-round shuffle of the edge frame, labels ship to the data.
- Beyond the cutover the edge frame is cached hash-partitioned by
  ``src`` AND sorted within partitions, so the per-round sort-merge join
  exchanges and sorts only the (small) label side; Zipf-hub skew on the
  aggregation key is handled by the shared salted two-stage aggregation,
  which ``plans.skew.decide_hub_salting``'s probe engages on this layout
  only when it observes skew at scale.
- Either way the edge frame carries one synthetic (v, v) row per vertex,
  so a round is ``state_join(prep, state)`` plus one aggregation that
  emits every vertex: no finalize join. Rounds take the ``PreparedUnd``
  itself, so the layout travels with the frame it was built for.

The reference runs single-node in-memory arrays (label/state updates in
``src/``'s per-vertex loops); this module is the distributed analog of
keeping the graph stationary and shipping only the per-vertex state.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.edges import (
    drop_nulls_and_loops,
    symmetrize_partitioned,
    vertices,
)
from graphsetintersection_spark.plans.skew import (
    HubSaltPlan,
    decide_hub_salting,
    mark_hubs,
)

BROADCAST_STATE_MAX_VERTICES = 10_000_000


def ships_state(n: int) -> bool:
    """True when ``n`` vertices' state is broadcast into each round onto a
    stationary edge cache, False for the shuffle layout. Reads
    ``BROADCAST_STATE_MAX_VERTICES`` at call time."""
    return n <= BROADCAST_STATE_MAX_VERTICES


@dataclass
class PreparedUnd:
    """Stationary state for iterative undirected vertex-state loops.
    ``und_j`` carries one synthetic (v, v) row per vertex (src == dst
    marks them: real self-loops are dropped)."""

    verts: DataFrame
    n: int
    n_und: int
    und_j: DataFrame  # symmetrized, partitioned, hub-marked when salted
    broadcast_labels: bool
    salt_plan: HubSaltPlan | None
    _caches: tuple

    def unpersist(self) -> None:
        for c in self._caches:
            c.unpersist()


def prepare_undirected(edges: DataFrame) -> PreparedUnd:
    """One-time index build: symmetrize + partition for the layout
    ``ships_state`` picks, cache, probe skew (shuffle layout only).
    Callers own the returned caches via ``unpersist()``.

    A synthetic (v, v) row per vertex lets each round's per-dst
    aggregation see the vertex's own state — the rounds emit one row per
    vertex straight from the aggregate, with no labels⨝result finalize
    join."""
    # the partition key depends on the layout, which depends on n — so
    # the vertex set (same either way) is counted first, off the filtered
    # view, and the big frame is built ONCE with the right key.
    # vertices() ends in its own distinct, so the edge-level distinct of
    # canonicalize() is subsumed — running both paid an extra Exchange
    # per prepare for the same vertex set (guide §2.4).
    # (r6 note: transiently persisting the cast/filtered frame here to
    # save the repeated input-plan scans was MEASURED SLOWER end-to-end —
    # the cache materialization barrier cost more than the parallel
    # re-scans it saved — so the uncached shape stands.)
    verts = vertices(drop_nulls_and_loops(edges)).persist()
    und = None
    # a failing count or skew probe must not leave the caches behind;
    # on success the caller owns them
    try:
        n = verts.count()
        broadcast_labels = ships_state(n)
        key = "dst" if broadcast_labels else "src"
        und = symmetrize_partitioned(edges, verts, key)
        if not broadcast_labels:
            und = und.sortWithinPartitions("src")
        und = und.persist()
        n_und = und.count()

        # salting is a shuffle-layout concern: the broadcast layout's
        # aggregations are exchange-free on the dst partitioning, where a
        # hub inflates one partition's row count but never one reducer's
        # combine
        plan = None
        if n and not broadcast_labels:
            plan = decide_hub_salting(und, "dst", total_rows=n_und)
    except BaseException:
        verts.unpersist()
        if und is not None:
            und.unpersist()
        raise
    und_j = mark_hubs(und, "dst", plan) if plan is not None else und
    return PreparedUnd(
        verts=verts,
        n=n,
        n_und=n_und,
        und_j=und_j,
        broadcast_labels=broadcast_labels,
        salt_plan=plan,
        _caches=(und, verts),
    )


def state_join(prep: PreparedUnd, labels: DataFrame) -> DataFrame:
    """The per-round edge ⨝ state join: state renamed to src, broadcast
    when the layout says so (then the cached dst-partitioned edge frame
    is never exchanged and the downstream dst-keyed aggregation runs
    exchange-free on top of it)."""
    labels_src = labels.withColumnRenamed("v", "src")
    if prep.broadcast_labels:
        labels_src = F.broadcast(labels_src)
    return prep.und_j.join(labels_src, "src")
