"""PageRank as an iterative DataFrame job.

Semantics (textbook power iteration with damping + dangling-mass
redistribution, per the north rule; the reference repo supplies the graph
data model and the set-kernel substrate, not PageRank itself):

    r_{t+1}(v) = (1-α)/N + α · ( Σ_{u→v} r_t(u)/outdeg(u) + D_t/N )
    D_t        = Σ_{outdeg(u)=0} r_t(u)          (dangling mass)
    r_0(v)     = 1/N  over all N distinct vertices

Execution shape. ``pagerank_df_prepare`` builds the graph index once and
every round reuses it: the edge table stays put and only per-vertex state
moves, the reference's index-then-iterate split (src/tc.cpp:28-29).
    prepare = distinct vertex ids, counted (small exchange, partial
              aggregation); ``operators.iterative.stationary_edges``:
              edges ∪ one (v, v) self row per vertex, partitioned for the
              layout ``ships_state(n)`` picks and deduplicated on that
              partitioning (the ONE exchange of the edge table), cached;
              out_deg and _dang = per-src count of src != dst rows over
              that cache, cached as the vertex state
    round   = ``state_join`` of (v, rank, out_deg, _dang[, p]) onto the
              cache on src → ONE ``two_stage_agg`` on dst: Σ rank/out_deg
              over src != dst rows, and the vertex's own state read off
              its self row, so the aggregate emits every vertex and needs
              no finalize join. The dangling mass D is a literal: each
              round observes Σ_{_dang} rank on the vector it returns
              (DataFrame.observe), the driver's materialization of that
              vector fills it, and the next round reads it; round 0 reads
              D off the prepare (the dangling count) or off the PPR
              restart vector's checkpoint, and only a restored leaf runs
              one aggregate for it
The layout picks only the join hint and the cache's partitioning. Below
the 10M-vertex cutover the state is broadcast onto a dst-partitioned
cache, so the aggregation runs without an exchange and a round is 2
Spark jobs (the rank broadcast and the leaf's materialization). Above it
the cache is partitioned and sorted by src: the state is exchanged into
the sort-merge join and the aggregation is the round's one edge-side
exchange, salted two-stage when ``plans.skew.decide_hub_salting``'s probe
sees Zipf-hub dst keys at scale. The prepare reads the input through
``drop_nulls_and_loops``, so src == dst marks exactly the synthetic self
rows.

The iteration is ``plans.checkpoint.run_rounds``: this module supplies
the round body and the stop test, and the driver materializes each new
rank vector as a leaf (localCheckpoint, or a durable snapshot committed
every iteration) so the plan stays O(1), releases the superseded vector,
and resumes any run from its last committed iteration.

Convergence: l∞(r_{t+1} - r_t) < tol, evaluated as one aggregate on the
join of consecutive rank vectors. Scores are float64; the north rule's
allclose(1e-6) is exactly the tolerance class this reproduces under
varying partitioning (float sums reassociate).
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
    PreparedGraph,
    state_join,
    stationary_edges,
)
from graphsetintersection_spark.plans.checkpoint import (
    CheckpointManager,
    check_round_args,
    run_rounds,
)
from graphsetintersection_spark.plans.skew import two_stage_agg


@dataclass
class PageRankResult:
    ranks: DataFrame  # (v: long, rank: double)
    iterations: int
    converged: bool
    deltas: list = field(default_factory=list)


def _check_args(alpha, max_iter, tol) -> None:
    """Reject a misconfigured run before it starts any Spark job (NaN
    fails every test)."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"pagerank: alpha must be in [0, 1], got {alpha!r}")
    check_round_args("pagerank", "max_iter", max_iter, tol)


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    checkpointer: CheckpointManager | None = None,
) -> PageRankResult:
    """Run PageRank to convergence (or ``max_iter``). ``tol=None`` runs a
    fixed iteration count (used for oracle parity). Resumes automatically
    from ``checkpointer``'s last committed iteration if present.

    The layout follows the vertex count (``ships_state``): broadcast
    ranks onto a stationary dst-partitioned edge cache below the cutover,
    ranks exchanged onto a src-partitioned one above it; the round is the
    same. Only the shuffle layout salts, two-stage over high-in-degree
    dst keys (the north rule's "salted hubs"), and only when
    ``decide_hub_salting``'s probe sees skew at scale; in broadcast mode
    the contribution aggregation is already exchange-free (edges
    stationary by dst), so salting would add cost for nothing."""
    _check_args(alpha, max_iter, tol)
    prep = pagerank_df_prepare(edges)
    try:
        return pagerank_df_iterate(
            prep,
            alpha=alpha,
            max_iter=max_iter,
            tol=tol,
            checkpointer=checkpointer,
        )
    finally:
        prep.unpersist()


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    weight_col: str | None = None,
    checkpointer: CheckpointManager | None = None,
) -> PageRankResult:
    """Personalized PageRank: random walks restart at the SEED set instead
    of uniformly — the standard link-graph primitive for topical ranking,
    seed-based spam scoring, and related-page retrieval (r' = (1−α)·p +
    α·(Aᵀr/outdeg + D·p), p supported on the seeds).

    ``seeds``: a DataFrame with a ``v`` column (optionally ``weight_col``
    for a non-uniform restart). Duplicate seed rows sum their weight;
    seeds absent from the graph are dropped and the surviving weights
    renormalized to Σp = 1 (raises if none survive). Same engine as
    ``pagerank``: one prepared, cached edge frame and degree-annotated
    vertex state; one round shape on both layouts (exchange-free below
    the 10M-vertex cutover, salted when the shuffle layout's probe sees
    hubs); per-iteration lineage truncation; checkpoint/resume."""
    _check_args(alpha, max_iter, tol)
    prep = pagerank_df_prepare(edges)
    try:
        w = (
            F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        ).alias("w")
        s = (
            seeds.select(F.col("v").cast("long").alias("v"), w)
            .groupBy("v")
            .agg(F.sum("w").alias("w"))
            .join(prep.verts, "v")  # only seeds that exist in the graph
        )
        row = s.agg(
            F.sum("w").alias("t"), F.min("w").alias("mn")
        ).collect()[0]
        tot = float(row["t"] or 0.0)
        # inverted comparisons so NaN weights fail too (NaN makes every
        # direct comparison False — a NaN total would otherwise slip past
        # `tot <= 0` and return a silently all-NaN rank vector)
        if row["mn"] is not None and not (float(row["mn"]) >= 0.0):
            raise ValueError(
                "personalized_pagerank: seed weights must be non-negative "
                "(and not NaN)"
            )
        if not (tot > 0.0):
            raise ValueError(
                "personalized_pagerank: no seed vertices present in the "
                "graph (or zero total seed weight)"
            )
        tp = s.select("v", (F.col("w") / F.lit(tot)).alias("p"))
        return pagerank_df_iterate(
            prep,
            alpha=alpha,
            max_iter=max_iter,
            tol=tol,
            checkpointer=checkpointer,
            teleport=tp,
        )
    finally:
        prep.unpersist()


def pagerank_df_prepare(edges: DataFrame) -> PreparedGraph:
    """One-time index build for the DataFrame path, separated from the
    loop so repeated runs (and the scaling bench) pay it once per graph —
    the analog of the reference's printed index-build phase
    (src/tc.cpp:28-29). The input is cast to long with null endpoints and
    self-loops dropped (``drop_nulls_and_loops``); the distinct vertex ids
    are counted first, and ``ships_state(n)`` picks the layout.

    The edge table crosses the network ONCE: ``stationary_edges`` builds
    the deduplicated dst-aggregated cache with one (v, v) row per vertex.
    Out-degree and the dangling flag are one per-src count of src != dst
    rows over that cache (every vertex has its self row, so dangling ones
    get out_deg 0 without a join against the ids), cached as the vertex
    state ``verts = (v, out_deg, _dang)``; one aggregate counts the
    dangling vertices, and on the broadcast layout it also materializes
    the edge cache."""
    made: list[DataFrame] = []  # every persist of this call

    def cache(df: DataFrame) -> DataFrame:
        made.append(df.persist())
        return df

    e = drop_nulls_and_loops(edges)
    # both the vertex aggregate and the edge build read the input; an
    # input the caller has not cached would re-run its whole lineage for
    # each (the input scan is the cost at scale), so it is persisted for
    # the prepare's duration. A cached input is read from its cache.
    prep = None
    try:
        if not edges.is_cached:
            e = cache(e)
        ids = cache(vertices(e))
        n = ids.count()
        [g] = stationary_edges(e, ids, n)
        made.append(g.edges)
        g.verts = cache(
            g.edges.groupBy(F.col("src").alias("v"))
            .agg(F.count(F.when(F.col("src") != F.col("dst"), 1)).alias("out_deg"))
            .withColumn("_dang", F.col("out_deg") == 0)
        )
        g.n_dang = 0
        if n:
            g.n_dang = g.verts.agg(F.count(F.when(F.col("_dang"), 1))).collect()[0][0]
        prep = g
        return prep
    finally:
        # the setup caches must not outlive this call on ANY exit path,
        # nor the prepared ones when it raised
        keep = (prep.edges, prep.verts) if prep is not None else ()
        for c in made:
            if not any(c is k for k in keep):
                c.unpersist()


def pagerank_df_iterate(
    prep: PreparedGraph,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    checkpointer: CheckpointManager | None = None,
    teleport: DataFrame | None = None,
) -> PageRankResult:
    """The DataFrame power-iteration loop over a prepared graph.

    ``teleport`` (v, p) generalizes the restart distribution: with None
    (the default) every vertex teleports uniformly (classic PageRank);
    with a normalized vector (Σp = 1) the jump — and the dangling-mass
    redistribution — lands on p instead, i.e. personalized PageRank:
    r' = (1−α)·p + α·(Aᵀr/outdeg + D·p). Rank mass stays conserved
    (Σr' = (1−α) + α·(Σcontrib + D) = 1)."""
    _check_args(alpha, max_iter, tol)
    verts, n = prep.verts, prep.n
    if n == 0:
        empty = prep.edges.sparkSession.createDataFrame([], "v long, rank double")
        return PageRankResult(empty, 0, True)

    vp = verts
    if teleport is not None:
        # vertex-aligned restart vector, materialized ONCE (it is joined
        # every iteration; localCheckpoint keeps the per-round plan a
        # leaf and its blocks are reference-tracked for release). Its
        # checkpoint job also observes Σ_{dang} p, the PPR start's
        # dangling mass.
        seeded = Observation()
        vp = (
            verts.join(teleport, "v", "left")
            .select("v", F.coalesce(F.col("p"), F.lit(0.0)).alias("p"), "_dang")
            .observe(seeded, _dangling_mass(F.col("p")))
            .select("v", "p")
            .localCheckpoint(eager=True)
        )
        ranks = vp.select("v", F.col("p").alias("rank"), "p")
    else:
        ranks = verts.select("v", F.lit(1.0 / n).alias("rank"), *verts.columns[1:])

    obs = None  # the last round's observed dangling mass

    def step(ranks: DataFrame, it: int) -> DataFrame:
        nonlocal obs
        # D of the vector this round reads: observed when the driver
        # materialized it, known without a job at round 0, and aggregated
        # once from a restored leaf (None)
        if obs is not None:
            dm = obs.get["_dm"]
        elif it == 0:
            dm = seeded.get["_dm"] if teleport is not None else prep.n_dang / n
        else:
            dm = None
        obs = Observation()
        return _round(prep, ranks, vp, alpha, teleport, dm).observe(
            obs, _dangling_mass(F.col("rank"))
        )

    def stop(ranks: DataFrame, new_ranks: DataFrame):
        delta = float(
            new_ranks.withColumnRenamed("rank", "new_rank")
            .join(ranks, "v")
            .agg(F.max(F.abs(F.col("new_rank") - F.col("rank"))))
            .collect()[0][0]
        )
        return delta < tol, {"delta": delta}

    ranks, it, converged, history = run_rounds(
        ranks,
        step,
        max_iter,
        stop if tol is not None else None,
        checkpointer,
        record={"delta": None, "n_vertices": n},
    )
    # the rounds carry the vertex state on the rank vector; the public
    # result is (v, rank)
    deltas = [m["delta"] for m in history] if tol is not None else []
    return PageRankResult(ranks.select("v", "rank"), it, converged, deltas)


def _dangling_mass(value):
    """Σ ``value`` over the dangling (``_dang``) rows, 0.0 when there are
    none: the aggregate a round observes and a restored leaf runs."""
    return F.coalesce(
        F.sum(F.when(F.col("_dang"), value)), F.lit(0.0)
    ).alias("_dm")


def _round(prep, ranks, vp, alpha, teleport, dm) -> DataFrame:
    """One power-iteration round: ``state_join`` of the rank vector onto
    the stationary edge cache → one dst aggregation → project. The self
    rows make the aggregation total (one row per vertex), and each self
    row joins its own vertex's state row, so the group reads the
    vertex's carried state (out_deg, _dang, PPR's p) off it: no
    verts ⟕ contribs finalize join. The dangling mass ``dm`` = D =
    Σ_{outdeg=0} rank — the oracle's own form — of the vector read is a
    literal (None: aggregate it once here), so the contributions are
    referenced exactly once: no per-iteration transient cache and no
    scalar job."""
    verts, n = prep.verts, prep.n
    # attach the state the vector lacks: the PPR start has none, and a
    # restored snapshot may hold only (v, rank) or predate out_deg on the
    # vector; once attached, every later round's vector carries it
    if not set(verts.columns) <= set(ranks.columns):
        own = [c for c in ranks.columns if c not in verts.columns]
        ranks = ranks.select("v", *own).join(verts, "v")
    if teleport is not None and "p" not in ranks.columns:
        ranks = ranks.join(vp, "v")
    if dm is None:
        dm = ranks.agg(_dangling_mass(F.col("rank"))).collect()[0][0]
    is_self = F.col("src") == F.col("dst")
    carried = [c for c in ranks.columns if c not in ("v", "rank")]
    contrib = F.sum(F.when(~is_self, F.col("rank") / F.col("out_deg")))
    contribs = two_stage_agg(
        state_join(prep, ranks),
        [F.col("dst").alias("v")],
        {
            "contrib": (contrib, F.sum),
            **{c: (F.max(F.when(is_self, F.col(c))), F.max) for c in carried},
        },
        "src",
        prep.plan,
    )
    if teleport is not None:
        restart = F.lit(1.0 - alpha) * F.col("p") + F.lit(alpha) * (
            F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dm) * F.col("p")
        )
    else:
        restart = F.lit((1.0 - alpha) / n) + F.lit(alpha) * (
            F.coalesce(F.col("contrib"), F.lit(0.0))
            + F.lit(dm) / F.lit(float(n))
        )
    return contribs.select("v", restart.alias("rank"), *carried)
