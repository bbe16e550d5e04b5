"""HITS (hubs & authorities) — Kleinberg's link-analysis twin of PageRank.

Semantics (synchronous, L2-normalized — the classic formulation): per
iteration auth(v) = Σ_{u→v} hub(u) then L2-normalize over all vertices;
hub(u) = Σ_{u→v} auth(v) then L2-normalize. The reference engine has no
HITS (its query surface is TC / orderings / matching), but a link-graph
analytics engine is expected to carry it next to PageRank — same corpus,
same iterative-DataFrame machinery, and the web-spam / topical-ranking
use cases the north rule's Common-Crawl corpus exists for.

Execution strategy mirrors operators/pagerank.py:

- the input is cleaned once (``drop_nulls_and_loops``) and
  ``operators.iterative.stationary_edges`` caches the edge table TWICE,
  once per aggregation key (auth sums on dst, hub on src), deduplicated
  on its partitioning and carrying one synthetic (v, v) row per vertex
  (src == dst marks them) — a stationary cache per key is what keeps
  the edge side put while only scores move;
- every half-step has one form: ``state_join`` of the normalized score
  view onto the key's cache, then one ``plans.skew.two_stage_agg`` call
  that sums the other side's score over src ≠ dst rows and reads the
  carried columns off the self rows, so it emits every vertex. The
  layout is ``operators.iterative.ships_state``'s, asked with the vertex
  count, and picks only the join hint and the caches' partitioning:
  below the ~10M-vertex cutover the scores are BROADCAST onto caches
  partitioned by their aggregation key (zero per-iteration shuffle);
  above it they are exchanged into a sort-merge join against caches
  partitioned and sorted by the join key, and the aggregation is salted
  two-stage when ``decide_hub_salting``'s probe sees that key's degree
  distribution Zipf-skewed at scale;
- the loop is ``plans.checkpoint.run_rounds``, one round per half-step
  (auth on even rounds, hub on odd ones). The state is the raw total
  score vector (v, s[, carried]), normalized by the lazy ``_l2_view``.
  The last hub round carries the auth scores (with ``tol``, every hub
  round, as any may be the last), so the result is one projection of the
  last leaf; with ``tol`` the auth round carries the hub it read, so the
  stop test reads one leaf with no join. Each round is a
  localCheckpoint leaf, released once the next exists;
- the norm is a literal: each half-step observes Σ s² on the raw vector
  it returns (DataFrame.observe), the leaf's localCheckpoint fills it,
  and the next half-step, the stop test and the final view read it (the
  start vector is all 1s, Σ = n). A broadcast half-step is 2 Spark jobs
  (the score broadcast and the leaf's localCheckpoint) and the final view
  is 1, its localCheckpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.edges import (
    drop_nulls_and_loops,
    vertices,
)
from graphsetintersection_spark.operators.iterative import (
    state_join,
    stationary_edges,
)
from graphsetintersection_spark.plans.checkpoint import check_round_args, run_rounds
from graphsetintersection_spark.plans.skew import two_stage_agg


@dataclass
class HITSResult:
    scores: DataFrame  # (v: long, hub: double, auth: double)
    iterations: int
    converged: bool
    deltas: list = field(default_factory=list)


def _l2_view(raw: DataFrame, ss) -> DataFrame:
    """L2-normalized VIEW over a total score vector (v, s, carried...),
    one row per vertex, null s = no incident edges, given its Σ s²
    ``ss`` (observed on the round that produced it): a lazy projection
    over the leaf, so no half-step materializes its normalized form and
    the norm costs no job. Zeros/nulls add nothing to the norm. The
    carried columns pass through."""
    return raw.select(
        "v",
        (F.coalesce(F.col("s"), F.lit(0.0)) / F.sqrt(F.lit(ss))).alias("s"),
        *[c for c in raw.columns if c not in ("v", "s")],
    )


def hits(
    edges: DataFrame,
    max_iter: int = 10,
    tol: float | None = None,
) -> HITSResult:
    """Run HITS for ``max_iter`` iterations (or until the hub vector's max
    absolute change drops below ``tol``). Returns per-vertex (hub, auth)
    scores, both L2-normalized. Null endpoints, self-loops and duplicate
    edges do not count.

    The layout follows the vertex count (``ships_state``, the PageRank
    cutover). On the shuffle layout each aggregation key is probed for
    skew (``decide_hub_salting``) and salted two-stage when the probe
    finds Zipf hubs at scale."""
    check_round_args("hits", "max_iter", max_iter, tol, minimum=1)
    # transient cache of the filtered input: it feeds the vertex count
    # and both stationary cache builds — uncached that is three full
    # scans of the raw edge table (the 100 TB input) instead of one. An
    # input the caller already cached/checkpointed needs no second copy
    # (same check as pagerank_df_prepare). On the broadcast layout the
    # first two half-steps build the caches, so it is held until then.
    e = drop_nulls_and_loops(edges)
    if not edges.is_cached:
        e = e.persist()
    verts = vertices(e).persist()
    preps = []
    # try/finally: an exception anywhere must not leave the two edge
    # caches (multi-GB at corpus scale) or the vertex cache registered
    # for the session lifetime; blocking drops, because a back-to-back
    # rerun (bench repeats, retries) would otherwise build its caches
    # while these blocks are still being released.
    try:
        n = verts.count()
        if n == 0:
            empty = edges.sparkSession.createDataFrame(
                [], "v long, hub double, auth double"
            )
            return HITSResult(empty, 0, True)
        # one stationary cache per aggregation key: auth sums over
        # in-edges (dst), hub over out-edges (src)
        preps = stationary_edges(e, verts, n, ("dst", "src"))
        by_dst, by_src = preps

        def half_step(g, scores):
            """Σ over incident edges of the other side's score, grouped on
            ``g.agg``: the normalized view (v, s, carried...) in, the next
            raw total vector (v, s, carried...) out. The synthetic (v, v)
            self rows make the aggregation total: the src ≠ dst guard
            drops their score and the carried columns are read off
            them."""
            is_self = F.col("src") == F.col("dst")
            return two_stage_agg(
                state_join(g, scores),
                [F.col(g.agg).alias("v")],
                {
                    "s": (F.sum(F.when(~is_self, F.col("s"))), F.sum),
                    **{
                        c: (F.max(F.when(is_self, F.col(c))), F.max)
                        for c in scores.columns[2:]
                    },
                },
                g.join,
                g.plan,
            )

        # Σ s² of the latest leaf: observed on the round that built it and
        # filled by the driver's localCheckpoint of it; the start is all 1s
        obs = None

        def squares() -> float:
            return obs.get["ss"] if obs is not None else float(n)

        def step(state: DataFrame, rnd: int) -> DataFrame:
            """Even rounds: auth from the hub view (kept as ``hub_prev``
            for the stop test). Odd rounds: hub from the auth view, which
            the last one keeps as ``auth`` for the result."""
            nonlocal obs
            if rnd == 2:
                e.unpersist()  # half-steps 0 and 1 built both caches off it
            view = _l2_view(state, squares())
            if rnd % 2 == 0:
                keep = [F.col("s").alias("hub_prev")] if tol is not None else []
                raw = half_step(by_dst, view.select("v", "s", *keep))
            else:
                # the result reads auth off the last hub leaf; with tol any
                # hub round may be the last
                last = tol is not None or rnd == 2 * max_iter - 1
                auth = [F.col("s").alias("auth")] if last else []
                keep = ["hub_prev"] if tol is not None else []
                raw = half_step(by_src, view.select("v", "s", *auth, *keep))
            obs = Observation()
            return raw.observe(obs, F.sum(F.col("s") * F.col("s")).alias("ss"))

        def stop(prev: DataFrame, new: DataFrame):
            """max |Δhub|, off the new leaf alone; auth rounds run no job."""
            if "auth" not in new.columns:
                return False, {}
            delta = float(
                _l2_view(new, squares())
                .agg(F.max(F.abs(F.col("s") - F.col("hub_prev"))))
                .collect()[0][0]
            )
            return delta < tol, {"delta": delta}

        # NOTE (r6): deferring the per-half-step localCheckpoint to a
        # periodic barrier (lazy transient caches in between, checkpoint
        # every 4 iterations) was implemented and MEASURED MUCH SLOWER
        # (10 warm iterations 5.0 s → 19-25 s at sf0.1): the barrier has
        # to plan a 4-iteration-deep nest of broadcast joins + scalar
        # subqueries, and planning cost dominates the saved checkpoint
        # jobs — the same deep-lazy-plan failure mode as the BFS lazy
        # visited-union experiment (relabel.py). Checkpoint-per-half-step
        # stands. The depth-2 variant (auth half-step as a transient
        # persist, materialized inside the hub checkpoint that references
        # it twice) was ALSO measured slower (interleaved A/B at sf0.1:
        # warm 5.7 → 6.1 s, jobs 104 → 112): the broadcast build over an
        # unmaterialized cache with a nested norm-aggregate broadcast
        # spawns MORE AQE stage jobs than the checkpoint it replaces.
        state, rounds, converged, history = run_rounds(
            verts.select("v", F.lit(1.0).alias("s")),
            step,
            2 * max_iter,
            stop if tol is not None else None,
        )
        # the last round is a hub round: its leaf carries the auth scores
        scores = (
            _l2_view(state, squares())
            .select("v", F.col("s").alias("hub"), "auth")
            .localCheckpoint(eager=True)
        )
        state.unpersist()
        deltas = [m["delta"] for m in history if "delta" in m]
        return HITSResult(scores, rounds // 2, converged, deltas)
    finally:
        verts.unpersist(blocking=True)
        e.unpersist()
        for g in preps:
            g.edges.unpersist(blocking=True)
