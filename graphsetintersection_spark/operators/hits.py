"""HITS (hubs & authorities) — Kleinberg's link-analysis twin of PageRank.

Semantics (synchronous, L2-normalized — the classic formulation): per
iteration auth(v) = Σ_{u→v} hub(u) then L2-normalize over all vertices;
hub(u) = Σ_{u→v} auth(v) then L2-normalize. The reference engine has no
HITS (its query surface is TC / orderings / matching), but a link-graph
analytics engine is expected to carry it next to PageRank — same corpus,
same iterative-DataFrame machinery, and the web-spam / topical-ranking
use cases the north rule's Common-Crawl corpus exists for.

Execution strategy mirrors operators/pagerank.py:

- the input is cleaned once (``drop_nulls_and_loops``) and the edge table
  is cached TWICE, hash-partitioned by ``dst`` and by ``src`` and
  deduplicated on that partitioning (no further exchange) — HITS
  aggregates alternately on both keys, and a stationary
  correctly-partitioned cache per key is what keeps the rounds
  exchange-free (the iterative-graph discipline of
  operators/iterative.py);
- the layout is ``operators.iterative.ships_state``'s, asked with the
  vertex count; no option picks it. Below the ~10M-vertex cutover the
  score vectors are BROADCAST each half-step and the matching edge
  cache makes the aggregation exchange-free: zero per-iteration
  shuffle. Both caches carry one synthetic (v, v) row per vertex
  (src == dst marks them), so each half-step aggregation emits every
  vertex and its L2 norm is a lazy view over the one materialized raw
  vector;
- above it, the scores shuffle into a sort-merge join against the
  pre-sorted opposite cache and the aggregation is the one exchange per
  half-step, with the shared salted two-stage aggregation
  (plans/skew.two_stage_agg) engaged per aggregation key when
  ``decide_hub_salting``'s probe sees that key's degree distribution
  Zipf-skewed at scale; the sparse result is left-joined onto the
  previous round's normalized view, which is total;
- the loop is ``plans.checkpoint.run_rounds``, one round per half-step
  (auth on even rounds, hub on odd ones). The state is the raw total
  score vector (v, s[, carried]), normalized by the lazy ``_l2_view``.
  The hub round carries the auth scores, so the result is one projection
  of the last leaf; with ``tol`` the auth round carries the hub it read,
  so the stop test reads one leaf with no join. Each round is a
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
from graphsetintersection_spark.operators.iterative import ships_state
from graphsetintersection_spark.plans.checkpoint import check_round_args, run_rounds


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
    spark = edges.sparkSession
    # transient cache for the SETUP phase only: the filtered edge frame
    # feeds the vertex count, up to two skew probes, and both stationary
    # cache builds — uncached that is four full scans of the raw edge
    # table (the 100 TB input) instead of one. An input the caller
    # already cached/checkpointed needs no second copy (same check as
    # pagerank_df_prepare). Released once the two per-key caches hold
    # their own copies, which also deduplicate.
    e = drop_nulls_and_loops(edges)
    if not edges.is_cached:
        e = e.persist()
    verts = vertices(e).persist()
    try:
        n = verts.count()
    except BaseException:
        # the rounds' try/finally below is not entered yet
        verts.unpersist()
        e.unpersist()
        raise
    if n == 0:
        empty = spark.createDataFrame([], "v long, hub double, auth double")
        verts.unpersist()
        e.unpersist()
        return HITSResult(empty, 0, True)
    broadcast_scores = ships_state(n)

    from graphsetintersection_spark.plans.skew import (
        decide_hub_salting,
        mark_hubs,
        two_stage_agg,
    )

    # e_dst/e_src alias the setup cache until reassigned below, so the
    # finally at the bottom releases whatever exists at ANY failure point
    # (repeat unpersists are idempotent no-ops)
    e_dst = e
    e_src = e

    def half_step(edge_cache, scores, join_key, agg_key, plan):
        """Σ over incident edges of the other side's score, grouped on
        ``agg_key``: the normalized view (v, s, carried...) in, the next
        raw total vector (v, s, carried...) out. On the broadcast path the
        synthetic (v, v) self rows make the aggregation total: the src ≠
        dst guard drops their score and the carried columns are read off
        them. The shuffle path exchanges only (v, s) and left-joins the
        sparse aggregate onto the view, which is total."""
        cols = scores.columns if broadcast_scores else ["v", "s"]
        sc = scores.select(*cols).withColumnRenamed("v", join_key)
        if broadcast_scores:
            is_self = F.col("src") == F.col("dst")
            return (
                edge_cache.join(F.broadcast(sc), join_key)
                .groupBy(F.col(agg_key).alias("v"))
                .agg(
                    F.sum(F.when(~is_self, F.col("s"))).alias("s"),
                    *[F.max(F.when(is_self, F.col(c))).alias(c) for c in cols[2:]],
                )
            )
        joined = edge_cache.join(sc, join_key)
        if plan is not None:
            agg = two_stage_agg(
                joined.withColumnRenamed(agg_key, "v"),
                ["v"],
                F.sum("s"),
                F.sum,
                salt_from=join_key,
                salts=plan.salts,
                out_col="s",
            )
        else:
            agg = joined.groupBy(F.col(agg_key).alias("v")).agg(
                F.sum("s").alias("s")
            )
        return scores.drop("s").join(agg, "v", "left")

    # Σ s² of the latest leaf: observed on the round that built it and
    # filled by the driver's localCheckpoint of it; the start is all 1s
    obs = None

    def squares() -> float:
        return obs.get["ss"] if obs is not None else float(n)

    def step(state: DataFrame, rnd: int, cache) -> DataFrame:
        """Even rounds: auth from the hub view (kept as ``hub_prev`` for
        the stop test). Odd rounds: hub from the auth view, kept as
        ``auth`` for the result."""
        nonlocal obs
        view = _l2_view(state, squares())
        if rnd % 2 == 0:
            keep = [F.col("s").alias("hub_prev")] if tol is not None else []
            scores = view.select("v", "s", *keep)
            raw = half_step(e_dst, scores, "src", "dst", plan_dst)
        else:
            keep = ["hub_prev"] if tol is not None else []
            scores = view.select("v", "s", F.col("s").alias("auth"), *keep)
            raw = half_step(e_src, scores, "dst", "src", plan_src)
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

    # try/finally: an exception anywhere in the rounds must not leave the
    # two edge caches (multi-GB at corpus scale) or the vertex cache
    # registered for the session lifetime; blocking drops, because a
    # back-to-back rerun (bench repeats, retries) would otherwise build
    # its caches while these blocks are still being released
    # (PreparedDFGraph.unpersist documents the same hazard).
    try:
        # per-aggregation-key salting plans (shuffle path only —
        # broadcast rounds aggregate on the cache's own partitioning, no
        # skewed exchange exists to protect)
        plan_dst = plan_src = None
        if not broadcast_scores:
            plan_dst = decide_hub_salting(e, "dst")
            plan_src = decide_hub_salting(e, "src")

        # two stationary caches — one per aggregation key. Broadcast
        # rounds aggregate ON the partitioning key (exchange-free);
        # shuffle rounds sort-merge-join on the OPPOSITE key, so that
        # path also pre-sorts.
        if plan_dst is not None:
            e_dst = mark_hubs(e_dst, "dst", plan_dst)
        if plan_src is not None:
            e_src = mark_hubs(e_src, "src", plan_src)
        # each cache deduplicates on its own partitioning: the partition
        # key is a dedup key, so the dedup adds no exchange
        if broadcast_scores:
            # synthetic self rows → total (one-row-per-vertex) half-step
            # aggregations: no verts ⟕ raw finalize join and no separate
            # normalized-vector materialization per half-step (guide §2.4)
            diag = verts.select(F.col("v").alias("src"), F.col("v").alias("dst"))
            e_dst = e_dst.unionByName(diag).repartition("dst").dropDuplicates()
            e_src = e_src.unionByName(diag).repartition("src").dropDuplicates()
        else:
            e_dst = (
                e_dst.repartition("src").dropDuplicates()
                .sortWithinPartitions("src")
            )
            e_src = (
                e_src.repartition("dst").dropDuplicates()
                .sortWithinPartitions("dst")
            )
        e_dst, e_src = e_dst.persist(), e_src.persist()
        # materialize the two stationary caches CONCURRENTLY: the builds
        # are independent jobs over the same setup cache, and submitting
        # them from one thread would serialize two shuffle latencies
        # (Spark job submission is thread-safe; the cluster schedules
        # both at once)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(e_dst.count), pool.submit(e_src.count)]:
                f.result()
        e.unpersist()  # the per-key caches are self-contained from here

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
        e_dst.unpersist(blocking=True)
        e_src.unpersist(blocking=True)
