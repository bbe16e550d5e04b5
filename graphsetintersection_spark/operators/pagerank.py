"""PageRank as an iterative DataFrame job.

Semantics (textbook power iteration with damping + dangling-mass
redistribution, per the north rule; the reference repo supplies the graph
data model and the set-kernel substrate, not PageRank itself):

    r_{t+1}(v) = (1-α)/N + α · ( Σ_{u→v} r_t(u)/outdeg(u) + D_t/N )
    D_t        = Σ_{outdeg(u)=0} r_t(u)          (dangling mass)
    r_0(v)     = 1/N  over all N distinct vertices

Execution shape. ``pagerank_df_prepare`` builds the graph index once and
every round reuses it: the edge table stays put and only per-vertex state
moves, the reference's index-then-iterate split (src/tc.cpp:28-29). The
layout is ``operators.iterative.ships_state``'s, asked with the vertex
count; no option picks it. Below the 10M-vertex cutover (the broadcast
path):
    prepare = distinct vertex ids (small exchange, partial aggregation);
              edges ∪ one (v, v) self row per vertex → repartition(dst) →
              dropDuplicates, cached (the ONE exchange of the edge table:
              dst is a dedup key, so the dedup adds none); out_deg and
              _dang = per-src count of src != dst rows over that cache
              (small exchange), cached as the vertex state
    round   = edges ⋈ broadcast(v, rank, out_deg, _dang[, p]) on src →
              groupBy(dst) with no exchange (the cache is dst-partitioned):
              Σ rank/out_deg over src != dst rows, and the vertex's own
              state read off its self row, so the aggregate emits every
              vertex and needs no finalize join. The dangling mass D is a
              literal: each round observes Σ_{_dang} rank on the vector it
              returns (DataFrame.observe), the driver's materialization of
              that vector fills it, and the next round reads it. A round
              is 2 Spark jobs (the rank broadcast and the leaf's
              materialization); round 0 reads D off the prepare (the
              dangling count) or off the PPR restart vector's checkpoint,
              and only a restored leaf runs one aggregate for it
Above the cutover (the shuffle path) edges carry out_deg, cached by src
and src-sorted; each round exchanges the rank vector for the join and the
contributions for the dst aggregation (salted two-stage when
``plans.skew.decide_hub_salting``'s probe sees Zipf-hub dst keys at
scale), then verts ⟕ contribs plus the closed-form dangling/teleport
terms. The prepare reads the input through ``drop_nulls_and_loops``, so
on the broadcast path src == dst marks exactly the synthetic self rows.

The iteration is ``plans.checkpoint.run_rounds``: this module supplies
the round body and the stop test, and the driver materializes each new
rank vector as a leaf (localCheckpoint, or a durable snapshot committed
every iteration) so the plan stays O(1), releases the superseded vector
and the shuffle round's contribution cache, and resumes any run from its
last committed iteration.

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
from graphsetintersection_spark.operators.iterative import ships_state
from graphsetintersection_spark.plans.checkpoint import (
    CheckpointManager,
    check_round_args,
    run_rounds,
)


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
    the shuffle path above it. Only the shuffle path salts, two-stage
    over high-in-degree dst keys (the north rule's "salted hubs"), and
    only when ``decide_hub_salting``'s probe sees skew at scale; in
    broadcast mode the contribution aggregation is already exchange-free
    (edges stationary by dst), so salting would add cost for nothing."""
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
    ``pagerank``: one prepared, cached, degree-annotated edge frame; the
    broadcast-state exchange-free rounds below the 10M-vertex cutover and
    the salted shuffle path above it; per-iteration lineage truncation;
    checkpoint/resume."""
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


@dataclass
class PreparedDFGraph:
    """Stationary state for the DataFrame power iteration.

    ``verts`` is the vertex state: ``v`` and the no-out-edges flag
    ``_dang``, plus ``out_deg`` on the broadcast path (where the edge rows
    do not carry it). ``n_dang`` counts the dangling vertices on the
    broadcast path (round 0's dangling mass is n_dang/n) and is None on
    the shuffle path, whose rounds take D from Σcontrib. ``e_deg`` is the
    cached edge table in the layout the join strategy needs; on the
    broadcast path it holds one synthetic (v, v) row per vertex, marked by
    src == dst (the prepare drops real self-loops). ``unpersist()``
    releases every cache the prepare made (``_caches``)."""

    verts: DataFrame
    n: int
    n_dang: int | None
    e_deg: DataFrame
    broadcast_ranks: bool
    salt_s: int | None
    _caches: tuple

    def unpersist(self) -> None:
        # blocking: the caches are multi-GB at bench scale — an async drop
        # races the next run's memory demand
        for c in self._caches:
            c.unpersist(blocking=True)


def pagerank_df_prepare(edges: DataFrame) -> PreparedDFGraph:
    """One-time index build for the DataFrame path, separated from the
    loop so repeated runs (and the scaling bench) pay it once per graph —
    the analog of the reference's printed index-build phase
    (src/tc.cpp:28-29). The input is cast to long with null endpoints and
    self-loops dropped (``drop_nulls_and_loops``) and deduplicated below.
    The distinct vertex ids are counted first, and ``ships_state(n)``
    picks the layout.

    On the broadcast path the edge table crosses the network ONCE: the
    distinct vertex ids (a small, partially aggregated exchange) give n
    and one (v, v) self row per vertex; the filtered edges plus those rows
    are repartitioned by dst and deduplicated on that partitioning (dst is
    a dedup key, so no further exchange) and cached; out-degree and the
    dangling flag are one per-src count over that cache, cached as the
    vertex state. One aggregate materializes both caches and counts the
    dangling vertices.

    The shuffle path joins the out-degree onto the distinct edge rows
    instead: one union + aggregate gives the vertex set and out-degrees,
    the join result is cached by src, sorted."""
    made: list[DataFrame] = []  # every persist of this call

    def cache(df: DataFrame) -> DataFrame:
        made.append(df.persist())
        return df

    e = drop_nulls_and_loops(edges)
    # both the vertex aggregate and the edge build read the input; an
    # input the caller has not cached would re-run its whole lineage for
    # each (the input scan is the cost at scale), so it is persisted for
    # the prepare's duration. A cached input is read from its cache.
    scan_once = (lambda df: df) if edges.is_cached else cache
    prep = None
    try:
        e = scan_once(e)
        ids = cache(vertices(e))
        n = ids.count()
        if ships_state(n):
            prep = _prepare_dst_layout(e, ids, n, cache)
        else:
            prep = _prepare_edge_out_deg(scan_once(e.distinct()), cache)
        return prep
    finally:
        # the setup caches must not outlive this call on ANY exit path,
        # nor the prepared ones when it raised
        keep = prep._caches if prep is not None else ()
        for c in made:
            if not any(c is k for k in keep):
                c.unpersist()


def _prepare_dst_layout(e, ids, n, cache) -> PreparedDFGraph:
    e_deg = cache(
        e.union(ids.select(F.col("v").alias("src"), F.col("v").alias("dst")))
        .repartition("dst")
        .dropDuplicates(["src", "dst"])
    )
    # every vertex has its self row, so the per-src count covers the
    # dangling ones too (out_deg 0) without a join against the ids
    verts = cache(
        e_deg.groupBy(F.col("src").alias("v"))
        .agg(F.count(F.when(F.col("src") != F.col("dst"), 1)).alias("out_deg"))
        .withColumn("_dang", F.col("out_deg") == 0)
    )
    n_dang = 0
    if n:  # builds e_deg on the way
        n_dang = verts.agg(F.count(F.when(F.col("_dang"), 1))).collect()[0][0]
    return PreparedDFGraph(verts, n, n_dang, e_deg, True, None, (e_deg, verts))


def _prepare_edge_out_deg(e, cache) -> PreparedDFGraph:
    # ONE union + aggregate yields the complete vertex set AND each
    # vertex's out-degree (dst-only vertices fall out with out_deg 0) —
    # replacing the previous vertices-distinct + out-degree aggregate +
    # left join (two Exchanges and a join for the same information,
    # guide §2.4). V-row transient cache: feeds both the dangling-flagged
    # vertex set and the e_deg join.
    vdeg = cache(
        e.select(F.col("src").alias("v"), F.lit(1).alias("_o"))
        .unionAll(e.select(F.col("dst").alias("v"), F.lit(0)))
        .groupBy("v")
        .agg(F.sum("_o").cast("long").alias("out_deg"))
    )
    # vertex set annotated with the dangling flag (no out-edges): the
    # iteration's dangling-mass term D = Σ_{dang} rank is then one
    # filter-aggregate over the rank leaf — no per-iteration join against
    # a dangling-vertex table and no Σcontrib second pass (guide §2.4)
    out_deg = vdeg.where(F.col("out_deg") > 0)
    verts = cache(vdeg.select("v", (F.col("out_deg") == 0).alias("_dang")))
    n = verts.count()

    # salted-hub decision: mark dst vertices whose in-degree dominates;
    # their contribution rows are pre-aggregated under S salts so no
    # single reducer sums a whole hub alone. Shared probe/marking with CC
    # and LPA: plans.skew.
    from graphsetintersection_spark.plans.skew import decide_hub_salting, mark_hubs

    plan = decide_hub_salting(e, "dst") if n else None
    salt_s = plan.salts if plan is not None else None

    e_deg = e.join(out_deg.withColumnRenamed("v", "src"), "src")
    if plan is not None:
        e_deg = mark_hubs(e_deg, "dst", plan)
    # cached hash(src)-partitioned AND src-sorted so the per-iteration
    # sort-merge join sorts only the (small) rank side — the cached edge
    # side satisfies the SMJ ordering for free
    e_deg = cache(e_deg.repartition("src").sortWithinPartitions("src"))
    if n:
        e_deg.count()  # materialize once
    return PreparedDFGraph(verts, n, None, e_deg, False, salt_s, (verts, e_deg))


def pagerank_df_iterate(
    prep: PreparedDFGraph,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-8,
    checkpointer: CheckpointManager | None = None,
    teleport: DataFrame | None = None,
) -> PageRankResult:
    """The DataFrame power-iteration loop over a PreparedDFGraph.

    ``teleport`` (v, p) generalizes the restart distribution: with None
    (the default) every vertex teleports uniformly (classic PageRank);
    with a normalized vector (Σp = 1) the jump — and the dangling-mass
    redistribution — lands on p instead, i.e. personalized PageRank:
    r' = (1−α)·p + α·(Aᵀr/outdeg + D·p). Rank mass stays conserved
    (Σr' = (1−α) + α·(Σcontrib + D) = 1), so the same D = 1 − Σcontrib
    dangling trick applies verbatim."""
    _check_args(alpha, max_iter, tol)
    verts, n, broadcast_ranks = prep.verts, prep.n, prep.broadcast_ranks
    if n == 0:
        empty = prep.e_deg.sparkSession.createDataFrame([], "v long, rank double")
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

    # the broadcast round carries the vertex state (out_deg where the edge
    # rows lack it, the dangling flag, PPR's p) ON the rank vector, one
    # row per vertex, so no round joins it
    if teleport is not None:
        carried = ["p"] if broadcast_ranks else []
        ranks = vp.select("v", F.col("p").alias("rank"), *carried)
    else:
        carried = verts.columns[1:] if broadcast_ranks else []
        ranks = verts.select("v", F.lit(1.0 / n).alias("rank"), *carried)

    obs = None  # the last broadcast round's observed dangling mass

    def step(ranks: DataFrame, it: int, cache) -> DataFrame:
        nonlocal obs
        if not broadcast_ranks:
            return _shuffle_round(prep, ranks, vp, alpha, teleport, cache)
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
        return _broadcast_round(prep, ranks, vp, alpha, teleport, dm).observe(
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
    # the broadcast rounds carry the vertex state on the rank vector; the
    # public result is (v, rank)
    deltas = [m["delta"] for m in history] if tol is not None else []
    return PageRankResult(ranks.select("v", "rank"), it, converged, deltas)


def _dangling_mass(value):
    """Σ ``value`` over the dangling (``_dang``) rows, 0.0 when there are
    none: the aggregate a round observes and a restored leaf runs."""
    return F.coalesce(
        F.sum(F.when(F.col("_dang"), value)), F.lit(0.0)
    ).alias("_dm")


def _broadcast_round(prep, ranks, vp, alpha, teleport, dm) -> DataFrame:
    """BROADCAST ROUND: join-broadcast → one exchange-free dst aggregation
    → project. The self rows make the aggregation total (one row per
    vertex), and each self row joins its own vertex's broadcast row, so
    the group reads the vertex's carried state off it: no verts ⟕ contribs
    finalize join. The dangling mass ``dm`` = D = Σ_{outdeg=0} rank — the
    oracle's own form — of the vector read is a literal (None: aggregate
    it once here), so contribs is referenced exactly once: no
    per-iteration transient cache and no scalar job."""
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
    ranks_src = F.broadcast(ranks.withColumnRenamed("v", "src"))
    contribs = (
        prep.e_deg.join(ranks_src, "src")
        .groupBy(F.col("dst").alias("v"))
        .agg(
            F.sum(F.when(~is_self, F.col("rank") / F.col("out_deg"))).alias(
                "contrib"
            ),
            *[F.max(F.when(is_self, F.col(c))).alias(c) for c in carried],
        )
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


def _shuffle_round(prep, ranks, vp, alpha, teleport, cache) -> DataFrame:
    """SHUFFLE ROUND: the contribution vector is cached transiently (one
    execution feeds both the Σcontrib scalar and the new rank view) and
    the dangling mass is D = 1 − Σcontribs (rank mass is conserved, Σr = 1
    — algebraically identical to summing dangling vertices' ranks, and one
    fewer pass over the rank vector)."""
    n, salt_s = prep.n, prep.salt_s
    joined = prep.e_deg.join(ranks.withColumnRenamed("v", "src"), "src")
    term = F.col("rank") / F.col("out_deg")
    if salt_s:
        # two-stage salted aggregation (plans.skew.two_stage_agg): hub dst
        # rows split across salt_s sub-keys (deterministic salt from src)
        # so the first shuffle spreads each hub over S reducers; the
        # second stage sums at most S rows per hub.
        from graphsetintersection_spark.plans.skew import two_stage_agg

        contribs = two_stage_agg(
            joined.withColumnRenamed("dst", "v"),
            ["v"],
            F.sum(term),
            F.sum,
            salt_from="src",
            salts=salt_s,
            out_col="contrib",
        )
    else:
        contribs = joined.groupBy(F.col("dst").alias("v")).agg(
            F.sum(term).alias("contrib")
        )
    contribs = cache(contribs)
    # D = 1 − Σcontribs folded into the plan as a 1-row broadcast over the
    # SAME transient cache — no extra driver action; the round's single
    # materialization executes contribs exactly once
    tot_df = contribs.agg(F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("_tot"))
    if teleport is not None:
        restart = F.lit(1.0 - alpha) * F.col("p") + F.lit(alpha) * (
            F.coalesce(F.col("contrib"), F.lit(0.0))
            + (F.lit(1.0) - F.col("_tot")) * F.col("p")
        )
    else:
        # kept byte-for-byte as the uniform formula (not folded into the
        # teleport expression with p = 1/n): the gate hashes rank_ppm
        # against a DuckDB oracle, and a different float association
        # could flip a .5-boundary rounding
        restart = F.lit((1.0 - alpha) / n) + F.lit(alpha) * (
            F.coalesce(F.col("contrib"), F.lit(0.0))
            + (F.lit(1.0) - F.col("_tot")) / F.lit(float(n))
        )
    return (
        vp.join(contribs, "v", "left")
        .crossJoin(F.broadcast(tot_df))
        .select("v", restart.alias("rank"))
    )
