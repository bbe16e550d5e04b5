"""The layout planner and the one round shape of the iterative engines:
PageRank/PPR, HITS, min-label connected components and label
propagation.

``ships_state(n)`` is the one place the Spark layout of every iterative
engine is decided: ``pagerank_df_prepare``, ``hits``, the BFS levels
(``relabel._bfs_levels``) and ``prepare_undirected`` all ask it, and it
reads ``BROADCAST_STATE_MAX_VERTICES`` when called. Nothing else picks a
layout, and no engine takes an option for it.

Every engine runs one round shape on both layouts. ``stationary_edges``
builds one cached edge frame per aggregation key, deduplicated and
carrying one synthetic (v, v) row per vertex (src == dst marks them:
real self-loops are dropped first). A round is ``state_join`` of the
vertex state onto that cache plus one ``plans.skew.two_stage_agg`` call
that emits every vertex and reads the state the vertex carries off its
self row: no finalize join. The layout decides only three things:

- the cache's partition key. While the state fits in executor memory
  (n ≤ the ~10M cutover) the cache is partitioned by the aggregation
  key and the state is BROADCAST into the join, so the aggregation runs
  on the cache's own partitioning: zero per-round shuffle of the edge
  frame, the state ships to the data. Beyond it the cache is
  partitioned AND sorted by the join key, so the per-round sort-merge
  join exchanges and sorts only the state side;
- the ``F.broadcast`` hint on the state (``state_join``);
- whether the skew probe runs: on the shuffle layout
  ``plans.skew.decide_hub_salting`` probes the counted cache, and a
  plan it returns salts the round's aggregation over Zipf-hub keys.

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
class PreparedGraph:
    """One stationary edge cache of an iterative engine and the vertex
    state its rounds start from.

    ``edges`` is the persisted edge frame, one (v, v) row per vertex
    included, hub-marked when ``plan`` salts the rounds. Rounds aggregate
    on ``agg`` and join on ``join``, the other endpoint column. ``verts`` holds ``v`` plus any per-vertex state the
    engine derived, ``n`` rows; ``n_dang`` is PageRank's count of
    vertices with no out-edge (round 0's dangling mass is n_dang/n),
    None elsewhere. ``unpersist()`` releases ``edges`` and ``verts``."""

    verts: DataFrame
    n: int
    broadcast: bool
    agg: str
    join: str
    edges: DataFrame
    plan: HubSaltPlan | None
    n_dang: int | None = None

    def unpersist(self) -> None:
        # blocking: the caches are multi-GB at bench scale — an async drop
        # races the next run's memory demand
        self.edges.unpersist(blocking=True)
        self.verts.unpersist(blocking=True)


def stationary_edges(
    edges: DataFrame, verts: DataFrame, n: int, aggs: tuple[str, ...] = ("dst",)
) -> list[PreparedGraph]:
    """The one cache builder: for each aggregation key in ``aggs``, the
    cleaned ``edges`` (src, dst) plus one (v, v) row per vertex of
    ``verts`` (``n`` rows), partitioned for the layout ``ships_state(n)``
    picks, deduplicated on that partitioning (the partition key is a
    dedup key, so the dedup adds no exchange) and persisted.

    On the shuffle layout each cache is counted and probed for hub skew
    on its aggregation key (the probe reads the count, and runs no job
    below ``SALT_MIN_ROWS``). On the broadcast layout nothing is counted:
    the first round, or the caller's own first aggregate, materializes
    the cache. A cache the probe salts is cached again with its hub
    marks. The returned graphs share ``verts``; each owns its cache. A
    failing count or probe releases the caches already made."""
    broadcast = ships_state(n)
    diag = verts.select(F.col("v").alias("src"), F.col("v").alias("dst"))
    made: list[PreparedGraph] = []
    caches: list[DataFrame] = []
    try:
        for agg in aggs:
            join = "src" if agg == "dst" else "dst"
            cache = edges.select("src", "dst").union(diag)
            if broadcast:
                cache = cache.repartition(agg).dropDuplicates()
            else:
                cache = (
                    cache.repartition(join).dropDuplicates()
                    .sortWithinPartitions(join)
                )
            caches.append(cache.persist())
            plan = None
            if not broadcast and n:
                plan = decide_hub_salting(cache, agg, total_rows=cache.count())
            if plan is not None:
                # the hub marks are cached with the rows, so no round
                # re-derives the hub keys from the cache
                marked = mark_hubs(cache, agg, plan).persist()
                caches.append(marked)
                marked.count()
                cache.unpersist()
                cache = marked
            made.append(PreparedGraph(verts, n, broadcast, agg, join, cache, plan))
    except BaseException:
        for cache in caches:
            cache.unpersist()
        raise
    return made


def prepare_undirected(edges: DataFrame) -> PreparedGraph:
    """One-time index build of the undirected vertex-state loops (CC,
    LPA): the symmetrized edges through ``stationary_edges``, aggregated
    on dst. Callers own the returned caches via ``unpersist()``.

    The vertex set is counted first, off the filtered view, since the
    layout depends on it. ``vertices()`` ends in its own distinct, and
    the cache's dedup subsumes ``canonicalize()``'s. (r6 note:
    transiently persisting the cast/filtered frame here to save the
    repeated input-plan scans was MEASURED SLOWER end-to-end — the cache
    materialization barrier cost more than the parallel re-scans it
    saved — so the uncached shape stands.)"""
    e = drop_nulls_and_loops(edges)
    verts = vertices(e).persist()
    # a failing count or skew probe must not leave the caches behind;
    # on success the caller owns them
    try:
        n = verts.count()
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        [prep] = stationary_edges(e.union(rev), verts, n)
    except BaseException:
        verts.unpersist()
        raise
    return prep


def state_join(prep: PreparedGraph, state: DataFrame) -> DataFrame:
    """The per-round edge ⨝ state join: ``state`` (v, ...) renamed to the
    cache's join key, broadcast when the layout says so (then the cached
    edge frame is never exchanged and the aggregation on ``prep.agg``
    runs exchange-free on top of it)."""
    state = state.withColumnRenamed("v", prep.join)
    if prep.broadcast:
        state = F.broadcast(state)
    return prep.edges.join(state, prep.join)
