"""Synchronous label propagation (community detection) — deterministic.

Semantics (synchronous LPA per the north rule; fully deterministic so the
result is exactly reproducible and exactly comparable):

    label_0(v)   = v
    label_{t+1}(v) = the label with the HIGHEST COUNT among v's neighbors'
                     labels at time t, ties broken by SMALLEST label;
                     vertices with no neighbors keep their label.

Each round: one join (labels onto the symmetrized edges, which carry one
(v, v) row per vertex so the round emits every vertex without a finalize
join) + one count aggregate + one max-struct aggregate — every aggregate
map-side combinable (the argmax is ``max(struct(cnt, -label))``, NOT a
row_number window: a hub's window partition would sort all its distinct
neighbor labels on one reducer, while the partial-max combines
everywhere). The layout is ``operators.iterative``'s (``ships_state``);
on the shuffle layout, Zipf-hub dst keys pre-combine under salts when
``plans.skew.decide_hub_salting``'s probe sees skew at scale (two-stage
aggregation — the north rule's "salted high-degree hubs"). No option
picks either. Deterministic tie-break makes the
fixpoint (or the state after a fixed number of rounds) exactly equal
across engines, which is what the DuckDB oracle checks.

The rounds run on ``plans.checkpoint.run_rounds``, the driver PageRank
and connected components share: it materializes or commits each round,
resumes from the last committed one and releases superseded leaves.
Early-stop convergence (``fixed_rounds=False``) is the one-aggregate
content signature of the materialized label frame
(plans.skew.signature_stop) — no per-round changed-count join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.plans.checkpoint import (
    CheckpointManager,
    check_round_args,
    run_rounds,
)
from graphsetintersection_spark.plans.skew import signature_stop, two_stage_agg


@dataclass
class LabelPropResult:
    labels: DataFrame  # (v: long, label: long)
    rounds: int
    converged: bool


def lpa_round(prep, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round over the symmetrized edge set of ``prep``
    (operators.iterative.prepare_undirected). On the broadcast path (und
    cached dst-partitioned) the whole round's heavy side is
    exchange-free: broadcast join, then the (v=dst, label) count and the
    per-v argmax both reuse the dst partitioning.

    The prepared frame's synthetic (v, v) rows vote with COUNT ZERO —
    ``count(src != dst)`` — so a vertex's own label enters every argmax as
    the (0, own) floor: real neighbor votes (cnt ≥ 1) always beat it, and
    a vertex with no neighbors keeps its label. The round emits one row
    per vertex straight off the aggregate."""
    from graphsetintersection_spark.operators.iterative import state_join

    counts = two_stage_agg(
        state_join(prep, labels),
        [F.col("dst").alias("v"), "label"],
        {"cnt": (F.count(F.when(F.col("src") != F.col("dst"), F.lit(1))), F.sum)},
        "src",
        prep.plan,
    )
    # argmax with (cnt desc, label asc) tie-break as ONE combinable
    # aggregate: max over struct(cnt, -label) — labels are non-negative
    # vertex ids, so -label inverts the order safely in int64
    return counts.groupBy("v").agg(
        F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
    ).select("v", (-F.col("m.neg")).alias("label"))


def label_propagation(
    edges: DataFrame,
    max_rounds: int = 10,
    fixed_rounds: bool = True,
    checkpointer: CheckpointManager | None = None,
) -> LabelPropResult:
    """``fixed_rounds=True`` runs exactly ``max_rounds`` rounds (oracle
    parity mode — LPA need not converge); False stops early at fixpoint.
    The layout and the hub salting come from ``prepare_undirected``:
    broadcast state below the ``ships_state`` cutover, and above it the
    shuffle layout, salted when its probe sees Zipf-hub skew on a graph
    large enough for it to matter."""
    from graphsetintersection_spark.operators.iterative import (
        prepare_undirected,
    )

    check_round_args("label_propagation", "max_rounds", max_rounds)
    prep = prepare_undirected(edges)
    try:
        labels, rounds, converged, _ = run_rounds(
            prep.verts.select("v", F.col("v").alias("label")),
            lambda labels, rnd: lpa_round(prep, labels),
            max_rounds,
            None if fixed_rounds else signature_stop(
                ("v", "label"), lambda old, new: {"changed": old != new}
            ),
            checkpointer,
            record={"changed": None},
        )
    finally:
        prep.unpersist()
    return LabelPropResult(labels, rounds, converged)
