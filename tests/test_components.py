"""Connected components: union-find oracle + cross-implementation parity
(minlabel vs star-contraction — the reference's Org/BP/Roaring pattern)."""

import pytest

from tests.conftest import (
    cache_snapshot,
    forced_route,
    random_graph,
    undirected_simple,
)

from graphsetintersection_spark.operators.components import (
    connected_components_minlabel,
    connected_components_starcontraction,
)
from graphsetintersection_spark.plans.checkpoint import CheckpointManager


def union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        if u == v:
            parent.setdefault(u, u)
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # component id = min vertex in component
    comp_min = {}
    for x in list(parent):
        comp_min.setdefault(find(x), set()).add(x)
    out = {}
    for root, members in comp_min.items():
        m = min(members | {root})
        for v in members:
            out[v] = m
    return out


def _collect(df):
    return {r["v"]: r["component"] for r in df.collect()}


def test_components_exact_tiny(spark, tiny_graph):
    pairs, df = tiny_graph
    oracle = union_find_components([(u, v) for u, v in pairs if u != v])
    got = _collect(connected_components_minlabel(df).components)
    assert got == oracle
    got2 = _collect(connected_components_starcontraction(df).components)
    assert got2 == oracle


def test_components_long_chain_and_islands(spark):
    # chain 0-..-19 (diameter stress), triangle island, singleton edge pair
    chain = [(i, i + 1) for i in range(19)]
    pairs = chain + [(100, 101), (101, 102), (100, 102), (200, 201)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = union_find_components(pairs)
    res1 = connected_components_minlabel(df, max_rounds=50)
    assert res1.converged
    assert _collect(res1.components) == oracle
    res2 = connected_components_starcontraction(df, max_rounds=30)
    assert res2.converged
    assert _collect(res2.components) == oracle
    # star contraction should finish in far fewer rounds than the chain length
    assert res2.rounds < 12


def test_components_parity_random(spark):
    pairs = random_graph(300, 260, seed=11)  # sparse → many components
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = union_find_components([(u, v) for u, v in pairs if u != v])
    assert _collect(connected_components_minlabel(df).components) == oracle
    assert _collect(connected_components_starcontraction(df).components) == oracle


def _lpa_fixed(df, **kw):
    from graphsetintersection_spark.operators.labelprop import label_propagation

    res = label_propagation(df, fixed_rounds=True, **kw)
    return res.labels.withColumnRenamed("label", "component"), res


def _components(fn):
    def run(df, **kw):
        res = fn(df, **kw)
        return res.components, res

    return run


RESUMABLE = {
    "minlabel": _components(connected_components_minlabel),
    "starcontraction": _components(connected_components_starcontraction),
    "lpa": _lpa_fixed,
}


@pytest.mark.parametrize("engine", sorted(RESUMABLE))
def test_components_resume(spark, tmp_path, engine):
    """A run stopped after 3 rounds resumes to exactly the uninterrupted
    result. A later call capped below the rounds already committed
    returns the committed state and reports the rounds it has been
    through, not the cap."""
    run = RESUMABLE[engine]
    pairs = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    full_df, full = run(df)
    expected = _collect(full_df)
    assert full.rounds > 3
    if engine != "lpa":
        assert full.converged and expected == union_find_components(pairs)

    ck = CheckpointManager(str(tmp_path), f"{engine}-run", engine)
    run(df, max_rounds=3, checkpointer=ck)
    assert ck.latest_iteration() == 2
    for cap in ({}, {"max_rounds": 2}):  # resume to the end, then past the cap
        got_df, res = run(df, checkpointer=ck, **cap)
        assert _collect(got_df) == expected
        assert (res.rounds, res.converged) == (full.rounds, full.converged)
        entries = ck.committed()
        assert [e["iteration"] for e in entries] == list(range(full.rounds))


def test_minlabel_salted_parity_on_hub_graph(spark):
    """Forced two-stage salted aggregation (plans.skew, on the shuffle
    layout) must give the exact same components as the plain aggregate
    on a Zipf-hub fixture."""
    from graphsetintersection_spark.operators.components import (
        connected_components_minlabel,
    )

    hub = [(0, i) for i in range(1, 200)]
    chain = [(i, i + 1) for i in range(200, 240)]
    df = spark.createDataFrame(hub + chain, "src long, dst long")
    plain = connected_components_minlabel(df)
    with forced_route(shuffle=True, salts=8) as route:
        salted = connected_components_minlabel(df)
    assert route.shuffled and route.salted(8)
    assert plain.converged and salted.converged
    a = sorted((r["v"], r["component"]) for r in plain.components.collect())
    b = sorted((r["v"], r["component"]) for r in salted.components.collect())
    assert a == b


def test_minlabel_round_plan_is_join_plus_aggregate(spark):
    """Scale-plan regression guard: on the broadcast path over the
    self-rows prepared frame, one CC round must be exactly broadcast-join
    + min aggregate — no sort-merge join, no shuffle exchange in the
    round's own plan (the cached frame's dst partitioning feeds the
    aggregation directly). Same shape check for the LPA round."""
    from pyspark.sql import functions as F

    from graphsetintersection_spark.operators.components import (
        cc_minlabel_round,
    )
    from graphsetintersection_spark.operators.iterative import (
        prepare_undirected,
    )
    from graphsetintersection_spark.operators.labelprop import lpa_round

    pairs = [(u, v) for u, v in random_graph(60, 300, seed=13) if u != v]
    df = spark.createDataFrame(pairs, "src long, dst long")
    prep = prepare_undirected(df)
    assert prep.broadcast

    comp = prep.verts.select("v", F.col("v").alias("component"))
    r = cc_minlabel_round(prep, comp)
    r.collect()  # finalize the adaptive plan
    plan = r._jdf.queryExecution().executedPlan().toString()
    # strip the cached relation's embedded build plan: everything after
    # the InMemoryRelation line belongs to the one-time prep, not the round
    round_plan = plan.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in round_plan
    # Spark prints shuffle nodes as "Exchange hashpartitioning(...)" /
    # "Exchange rangepartitioning(...)" / "Exchange SinglePartition" —
    # never "ShuffleExchange" (ADVICE r4 #4: that spelling was vacuous).
    # After stripping broadcasts, ANY remaining "Exchange " is a shuffle.
    assert "Exchange " not in round_plan.replace("BroadcastExchange", "")
    assert "BroadcastHashJoin" in round_plan

    labels = prep.verts.select("v", F.col("v").alias("label"))
    r2 = lpa_round(prep, labels)
    r2.collect()
    plan2 = r2._jdf.queryExecution().executedPlan().toString()
    round_plan2 = plan2.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in round_plan2
    assert "Exchange " not in round_plan2.replace("BroadcastExchange", "")
    prep.unpersist()


class _FailingCommit(CheckpointManager):
    """Commits iteration 0; on iteration 1 writes the snapshot (so the
    round has run), then raises."""

    def commit(self, df, iteration, metrics=None):
        back = super().commit(df, iteration, metrics)
        if iteration == 1:
            raise RuntimeError("commit failed")
        return back


def test_failed_round_releases_caches(spark, tmp_path):
    """A round that raises (here its durable commit) leaves no cache of
    min-label CC, LPA or shuffle-path PageRank behind: not the prepared
    edge and vertex caches, not the staged round, not the round's
    contribution cache."""
    from graphsetintersection_spark.operators.labelprop import (
        label_propagation,
    )
    from graphsetintersection_spark.operators.pagerank import pagerank

    pairs = [(u, v) for u, v in random_graph(60, 150, seed=17) if u != v]
    df = spark.createDataFrame(pairs, "src long, dst long")
    before = cache_snapshot(spark)
    with pytest.raises(RuntimeError, match="commit failed"):
        connected_components_minlabel(
            df, checkpointer=_FailingCommit(str(tmp_path), "cc", "cc")
        )
    with pytest.raises(RuntimeError, match="commit failed"):
        label_propagation(
            df, fixed_rounds=False,
            checkpointer=_FailingCommit(str(tmp_path), "lpa", "lpa"),
        )
    with forced_route(shuffle=True) as route, pytest.raises(
        RuntimeError, match="commit failed"
    ):
        pagerank(
            df, tol=None,
            checkpointer=_FailingCommit(str(tmp_path), "pr", "pagerank"),
        )
    assert route.shuffled
    leaked = cache_snapshot(spark) - before
    assert not leaked, f"leaked caches: {leaked}"


def test_components_auto_both_branches(spark):
    """connected_components_auto: probe-converges branch on a low-diameter
    graph; composed fallback (partial min-label → contract → star
    contraction → compose) on a long chain whose diameter exceeds the
    probe. Both must equal the union-find oracle exactly."""
    from pyspark.sql import functions as F

    from graphsetintersection_spark.operators.components import (
        connected_components_auto,
    )

    # low diameter: random graph + an island pair — probe converges
    # (no self-loop-only vertices: canonicalize drops self-loops, so such
    # a vertex is not part of the graph under engine semantics)
    pairs = [(u, v) for u, v in random_graph(80, 400, seed=21) if u != v]
    pairs += [(200, 201), (203, 204)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = union_find_components(pairs)
    res = connected_components_auto(df, probe_rounds=12)
    assert _collect(res.components) == oracle
    assert res.converged

    # high diameter: a 120-vertex chain + a separate triangle — the probe
    # cannot converge in 3 rounds, so the star-contraction fallback runs
    chain = [(i, i + 1) for i in range(120)]
    chain += [(500, 501), (501, 502), (500, 502)]
    cdf = spark.createDataFrame(chain, "src long, dst long")
    coracle = union_find_components(chain)
    cres = connected_components_auto(cdf, probe_rounds=3, max_rounds=30)
    assert _collect(cres.components) == coracle
    assert cres.converged
    assert cres.rounds > 3  # the fallback actually ran extra rounds

    # the composed path must also match plain star contraction
    plain = connected_components_starcontraction(cdf, max_rounds=30)
    assert _collect(cres.components) == _collect(plain.components)
