"""PageRank vs dense numpy power-iteration oracle (allclose 1e-6 — the
north rule's parity criterion), plus checkpoint/resume equivalence."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import forced_route, jobs_run, random_graph, undirected_simple

from graphsetintersection_spark.operators.pagerank import pagerank
from graphsetintersection_spark.plans.checkpoint import CheckpointManager


def numpy_pagerank(pairs, alpha=0.85, iters=40):
    """Dense oracle with identical semantics: damping + dangling mass."""
    edges = {(u, v) for u, v in pairs if u != v}
    verts = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out_deg = np.zeros(n)
    for u, v in edges:
        out_deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        share = np.where(out_deg > 0, r / np.maximum(out_deg, 1), 0.0)
        for u, v in edges:
            contrib[idx[v]] += share[idx[u]]
        dangling = r[out_deg == 0].sum()
        r = (1 - alpha) / n + alpha * (contrib + dangling / n)
    return {v: r[idx[v]] for v in verts}


def _assert_allclose(result_df, oracle, atol=1e-6):
    got = {row["v"]: row["rank"] for row in result_df.collect()}
    assert set(got) == set(oracle)
    for v in oracle:
        assert got[v] == pytest.approx(oracle[v], abs=atol), f"vertex {v}"


def test_pagerank_allclose_tiny(spark, tiny_graph):
    pairs, df = tiny_graph
    # the graph as given, and with ids shifted off the dense 0..V-1 range
    shifted = [(u * 7 + 100, v * 7 + 100) for u, v in pairs]
    for case, frame in (
        (pairs, df),
        (shifted, df.selectExpr("src * 7 + 100 as src", "dst * 7 + 100 as dst")),
    ):
        oracle = numpy_pagerank(case, iters=40)
        res = pagerank(frame, max_iter=40, tol=None)
        assert res.iterations == 40
        _assert_allclose(res.ranks, oracle)
        total = sum(r["rank"] for r in res.ranks.collect())
        assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_with_dangling_and_disconnected(spark):
    # 0→1→2 (2 dangling), isolated pair 5→6, 6 dangling
    pairs = [(0, 1), (1, 2), (5, 6)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    oracle = numpy_pagerank(pairs, iters=30)
    res = pagerank(df, max_iter=30, tol=None)
    _assert_allclose(res.ranks, oracle)
    # run to convergence instead: the dangling mass is redistributed, so
    # the converged vector still sums to 1
    conv = pagerank(df, max_iter=100, tol=1e-14)
    assert conv.converged
    _assert_allclose(conv.ranks, oracle, atol=1e-9)
    got = [r["rank"] for r in conv.ranks.collect()]
    assert abs(sum(got) - 1.0) < 1e-9


def test_pagerank_convergence_stop(spark, tiny_graph):
    _, df = tiny_graph
    res = pagerank(df, max_iter=100, tol=1e-10)
    assert res.converged
    assert res.iterations < 100
    assert res.deltas[-1] < 1e-10


_BAD_ARGS = [
    ("pagerank", {"alpha": 1.5}),
    ("pagerank", {"alpha": -0.1}),
    ("pagerank", {"alpha": float("nan")}),
    ("pagerank", {"max_iter": -3}),
    ("pagerank", {"max_iter": 2.5}),
    ("pagerank", {"tol": -1.0}),
    ("pagerank", {"tol": float("nan")}),
    ("personalized_pagerank", {"alpha": float("nan")}),
    ("personalized_pagerank", {"tol": -1.0}),
    ("pagerank_df_iterate", {"alpha": 1.5}),
    ("pagerank_df_iterate", {"max_iter": -3}),
    ("pagerank_df_iterate", {"tol": float("nan")}),
]


@pytest.mark.parametrize(
    "fn,kwargs",
    _BAD_ARGS,
    ids=[f + "-" + ",".join(f"{k}={v}" for k, v in kw.items()) for f, kw in _BAD_ARGS],
)
def test_misconfigured_run_fails_before_any_job(spark, fn, kwargs):
    from graphsetintersection_spark.operators import pagerank as pr

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    if fn == "pagerank":
        call = lambda: pr.pagerank(df, **kwargs)
    elif fn == "personalized_pagerank":
        seeds = spark.createDataFrame([(0,)], "v long")
        call = lambda: pr.personalized_pagerank(df, seeds, **kwargs)
    else:
        prep = pr.pagerank_df_prepare(df)
        call = lambda: pr.pagerank_df_iterate(prep, **kwargs)

    def fails():
        with pytest.raises(ValueError):
            call()

    try:
        assert jobs_run(spark, fails)[1] == 0
    finally:
        if fn == "pagerank_df_iterate":
            prep.unpersist()


def test_pagerank_resume_matches_uninterrupted(spark, tiny_graph, tmp_path):
    pairs, df = tiny_graph
    full = pagerank(df, max_iter=12, tol=None)
    full_ranks = {r["v"]: r["rank"] for r in full.ranks.collect()}

    # interrupted run: 5 iterations committed, then a fresh call resumes
    ck = CheckpointManager(str(tmp_path), "pr-run", "pagerank")
    pagerank(df, max_iter=5, tol=None, checkpointer=ck)
    assert ck.latest_iteration() == 4
    resumed = pagerank(df, max_iter=12, tol=None, checkpointer=ck)
    res_ranks = {r["v"]: r["rank"] for r in resumed.ranks.collect()}

    assert set(res_ranks) == set(full_ranks)
    for v in full_ranks:
        assert res_ranks[v] == pytest.approx(full_ranks[v], abs=1e-12)
    # manifest carries per-partition lineage + metrics for every iteration
    entries = ck.committed()
    assert [e["iteration"] for e in entries] == list(range(12))
    assert all(e["partitions"] for e in entries)
    assert all("n_vertices" in e["metrics"] for e in entries)

    # a later call capped below the committed iterations returns the
    # committed ranks and reports the iterations they have had
    past = pagerank(df, max_iter=2, tol=None, checkpointer=ck)
    assert past.iterations == 12 and not past.converged
    got = {r["v"]: r["rank"] for r in past.ranks.collect()}
    assert max(abs(got[v] - full_ranks[v]) for v in full_ranks) <= 1e-12
    assert [e["iteration"] for e in ck.committed()] == list(range(12))


def numpy_ppr(pairs, seeds, alpha=0.85, iters=40, weights=None):
    """Dense personalized-PageRank oracle: restart and dangling mass land
    on the seed distribution p instead of uniformly."""
    edges = {(u, v) for u, v in pairs if u != v}
    verts = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    p = np.zeros(n)
    for j, s in enumerate(seeds):
        if s in idx:
            p[idx[s]] += (weights[j] if weights else 1.0)
    p /= p.sum()
    out_deg = np.zeros(n)
    for u, v in edges:
        out_deg[idx[u]] += 1
    r = p.copy()
    for _ in range(iters):
        contrib = np.zeros(n)
        share = np.where(out_deg > 0, r / np.maximum(out_deg, 1), 0.0)
        for u, v in edges:
            contrib[idx[v]] += share[idx[u]]
        dangling = r[out_deg == 0].sum()
        r = (1 - alpha) * p + alpha * (contrib + dangling * p)
    return {v: r[idx[v]] for v in verts}


def test_ppr_allclose_and_mass_conserved(spark, tiny_graph):
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    seeds_list = sorted({x for e in pairs for x in e})[:3]
    seeds = spark.createDataFrame([(s,) for s in seeds_list], "v long")
    res = personalized_pagerank(df, seeds, max_iter=40, tol=None)
    _assert_allclose(res.ranks, numpy_ppr(pairs, seeds_list))
    total = res.ranks.groupBy().sum("rank").collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_ppr_uniform_seeds_equals_pagerank(spark, tiny_graph):
    """Seeding EVERY vertex uniformly reduces personalized PageRank to
    classic PageRank — the two paths must agree to allclose 1e-9."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    verts = sorted({x for e in pairs for x in e})
    seeds = spark.createDataFrame([(v,) for v in verts], "v long")
    ppr = personalized_pagerank(df, seeds, max_iter=15, tol=None)
    pr = pagerank(df, max_iter=15, tol=None)
    got = {r["v"]: r["rank"] for r in ppr.ranks.collect()}
    exp = {r["v"]: r["rank"] for r in pr.ranks.collect()}
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-9)


def test_ppr_mass_localized_to_seed_component(spark):
    """On a disconnected graph, rank mass can only reach vertices the
    random walk can reach: seeding one component leaves the other at
    exactly zero."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "v long")
    res = personalized_pagerank(df, seeds, max_iter=30, tol=None)
    ranks = {r["v"]: r["rank"] for r in res.ranks.collect()}
    assert all(ranks[v] > 0 for v in (0, 1, 2))
    assert all(ranks[v] == 0.0 for v in (10, 11, 12))
    _assert_allclose(res.ranks, numpy_ppr(pairs, [0], iters=30))


def test_ppr_weighted_seeds_and_renormalization(spark, tiny_graph):
    """Weighted restart + seeds absent from the graph: missing seeds are
    dropped and the surviving weights renormalized; duplicate seed rows
    sum. Error cases raise instead of emitting a degenerate vector."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    verts = sorted({x for e in pairs for x in e})
    a, b = verts[0], verts[1]
    seeds = spark.createDataFrame(
        # (v, w): b carries 3x a's weight via a duplicate row; 10**9 is
        # absent from the graph and must be dropped+renormalized away
        [(a, 1.0), (b, 1.0), (b, 2.0), (10**9, 5.0)],
        "v long, w double",
    )
    res = personalized_pagerank(df, seeds, max_iter=40, tol=None,
                                weight_col="w")
    _assert_allclose(
        res.ranks, numpy_ppr(pairs, [a, b], weights=[1.0, 3.0])
    )
    with pytest.raises(ValueError, match="no seed vertices"):
        personalized_pagerank(
            df, spark.createDataFrame([(10**9,)], "v long"), max_iter=2
        )
    with pytest.raises(ValueError, match="non-negative"):
        personalized_pagerank(
            df,
            spark.createDataFrame([(a, -1.0)], "v long, w double"),
            max_iter=2,
            weight_col="w",
        )
    # NaN weight: every direct comparison is False, so only an inverted
    # guard catches it — must raise, not return an all-NaN rank vector
    with pytest.raises(ValueError, match="non-negative"):
        personalized_pagerank(
            df,
            spark.createDataFrame([(a, float("nan"))], "v long, w double"),
            max_iter=2,
            weight_col="w",
        )


def test_ppr_shuffle_salted_path_parity(spark, tiny_graph):
    """The teleport vector must behave identically on the shuffle+salt
    round shape (the at-scale path) as on the broadcast default."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    seeds_list = sorted({x for e in pairs for x in e})[:3]
    seeds = spark.createDataFrame([(s,) for s in seeds_list], "v long")
    with forced_route(shuffle=True, salts=4) as route:
        res = personalized_pagerank(df, seeds, max_iter=20, tol=None)
    assert route.shuffled and route.salted(4)
    _assert_allclose(res.ranks, numpy_ppr(pairs, seeds_list, iters=20))


# ---------------------------------------------------------------------------
# the prepare's shape, parity with the previous prepare, torn manifests
# ---------------------------------------------------------------------------

REF_DIR = os.path.join(os.path.dirname(__file__), "data", "pagerank_reference")


def _load_reference():
    """Ranks recorded with the engine at git 35dc669, whose broadcast
    prepare joined the out-degree onto every edge row (8 iterations,
    alpha 0.85, the session of ``conftest``)."""
    with open(os.path.join(REF_DIR, "ranks.json")) as f:
        return {k: {int(v): r for v, r in d.items()} for k, d in json.load(f).items()}


def _assert_matches(result_df, expected, atol=1e-15):
    got = {row["v"]: row["rank"] for row in result_df.collect()}
    assert set(got) == set(expected)
    assert max(abs(got[v] - expected[v]) for v in expected) <= atol


@pytest.mark.parametrize("case", ["pagerank", "shuffle", "shuffle_salted", "ppr"])
def test_pagerank_matches_previous_prepare(spark, tiny_graph, case):
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    pairs, df = tiny_graph
    expected = _load_reference()[case]
    if case == "ppr":
        seeds = sorted({x for e in pairs for x in e})[:3]
        res = personalized_pagerank(
            df, spark.createDataFrame([(s,) for s in seeds], "v long"),
            max_iter=8, tol=None,
        )
    else:
        # the salted case was recorded at 4 salts
        force = {"shuffle": {"shuffle": True},
                 "shuffle_salted": {"shuffle": True, "salts": 4},
                 }.get(case, {})
        with forced_route(**force) as route:
            res = pagerank(df, max_iter=8, tol=None)
        assert route.shuffled == (case != "pagerank")
        assert route.salted(4) == (case == "shuffle_salted")
    _assert_matches(res.ranks, expected)


def test_pagerank_resumes_snapshot_of_previous_prepare(spark, tiny_graph, tmp_path):
    """A run checkpointed by the previous prepare (its snapshots carry
    (v, rank, _dang), no out_deg) resumes to the uninterrupted ranks."""
    _, df = tiny_graph
    shutil.copytree(os.path.join(REF_DIR, "snapshot"), str(tmp_path),
                    dirs_exist_ok=True)
    ck = CheckpointManager(str(tmp_path), "pr-run", "pagerank")
    assert ck.latest_iteration() == 2
    res = pagerank(df, max_iter=8, tol=None, checkpointer=ck)
    _assert_matches(res.ranks, _load_reference()["pagerank"])
    assert [e["iteration"] for e in ck.committed()] == list(range(8))


def test_pagerank_resume_after_torn_manifest(spark, tiny_graph, tmp_path):
    """A crash during the manifest append leaves an unterminated final
    line: resume ignores it, re-runs that iteration, and the ranks equal
    an uninterrupted run's."""
    _, df = tiny_graph
    full = {r["v"]: r["rank"] for r in pagerank(df, max_iter=8, tol=None).ranks.collect()}
    ck = CheckpointManager(str(tmp_path), "pr-torn", "pagerank")
    pagerank(df, max_iter=5, tol=None, checkpointer=ck)
    with open(ck.manifest_path, "rb") as f:
        data = f.read()
    last = data.rstrip(b"\n").rfind(b"\n") + 1
    with open(ck.manifest_path, "wb") as f:  # cut the last line in half
        f.write(data[: last + (len(data) - last) // 2])
    assert ck.latest_iteration() == 3

    resumed = pagerank(df, max_iter=8, tol=None, checkpointer=ck)
    got = {r["v"]: r["rank"] for r in resumed.ranks.collect()}
    assert set(got) == set(full)
    assert max(abs(got[v] - full[v]) for v in full) <= 1e-12
    entries = ck.committed()
    assert [e["iteration"] for e in entries] == list(range(8))
    # per-partition row counts come from the snapshot files' footers
    assert all(sum(p["rows"] for p in e["partitions"]) == len(full) for e in entries)


def test_manifest_corruption_before_the_last_line_raises(tmp_path):
    ck = CheckpointManager(str(tmp_path), "bad", "pagerank")
    line = json.dumps({"iteration": 0, "metrics": {}})
    with open(ck.manifest_path, "w") as f:
        f.write(line + "\n" + line[:7] + "\n" + line + "\n")
    with pytest.raises(json.JSONDecodeError):
        ck.committed()
    with open(ck.manifest_path, "w") as f:  # unterminated: not committed
        f.write(line + "\n" + line)
    assert [e["iteration"] for e in ck.committed()] == [0]


def _run_with_stages(sc, fn):
    """(fn(), the completed stages of the jobs fn ran) from the status
    store (populated with the UI disabled). The stages are the ids the
    scheduler handed out meanwhile, so jobs fn submits from worker
    threads count too (a job group would not follow them there)."""
    sched = sc._jsc.sc().dagScheduler()
    first = int(sched.nextStageId())
    out = fn()
    last = int(sched.nextStageId())
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, empty, None)
    return out, [
        s for s in (stages.apply(i) for i in range(stages.size()))
        if first <= s.stageId() < last and s.status().toString() == "COMPLETE"
    ]


def _join_built_edges(spark, raw, ids):
    """(edges, scans): ``raw`` relabelled through ``ids`` by a broadcast
    join (which writes no shuffle of its own), uncached; ``scans`` counts
    the input rows read."""
    scans = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        scans.add(1)
        return x

    idmap = F.broadcast(spark.createDataFrame(list(ids.items()), "k long, id long"))
    edges = (
        spark.createDataFrame(raw, "a long, b long")
        .select(tick.asNondeterministic()("a").alias("a"), "b")
        .join(idmap.toDF("a", "src"), "a", "left")
        .join(idmap.toDF("b", "dst"), "b", "left")
        .select("src", "dst")
    )
    return edges, scans


def _assert_edge_exchanges(stages, caches, rows, n):
    """The ``caches`` largest shuffle writers among ``stages`` each write at
    most one record per input row plus one self row per vertex; every
    other stage at most one record per vertex and task."""
    stages = sorted(stages, key=lambda s: -s.shuffleWriteRecords())
    assert len(stages) > caches
    for s in stages[:caches]:
        assert s.shuffleWriteRecords() <= rows + n
    for s in stages[caches:]:
        assert s.shuffleWriteRecords() <= n * s.numTasks()


def test_prepare_shuffles_the_edge_table_once(spark):
    """On an uncached input built by a join, with duplicate edges,
    self-loops and null ids, for PageRank's prepare and for HITS (one
    cache per aggregation key): the results equal the numpy oracle, the
    input is scanned once, and each edge cache's exchange writes at most
    one shuffle record per input row, plus one self row per vertex; every
    other stage is a per-vertex aggregate, at most one record per vertex
    and task."""
    from graphsetintersection_spark.operators.hits import hits
    from graphsetintersection_spark.operators.pagerank import (
        pagerank_df_iterate,
        pagerank_df_prepare,
    )
    from tests.test_hits import _assert_scores_allclose, numpy_hits

    sc = spark.sparkContext
    raw = random_graph(100, 8000, seed=11)
    raw += [(7, 7), (9, 9), (None, 3), (4, None), (None, None)]
    ids = {k: 10 * k + 7 for k in range(100)}
    pairs = [(ids[a], ids[b]) for a, b in raw if a is not None and b is not None]
    n = len({x for u, v in pairs if u != v for x in (u, v)})
    assert len(set(pairs) - {(u, u) for u, _ in pairs}) > 10 * n

    edges, scans = _join_built_edges(spark, raw, ids)
    prep, stages = _run_with_stages(sc, lambda: pagerank_df_prepare(edges))
    try:
        assert scans.value == len(raw) and prep.n == n
        _assert_edge_exchanges(stages, 1, len(raw), n)
        res = pagerank_df_iterate(prep, max_iter=30, tol=None)
        _assert_allclose(res.ranks, numpy_pagerank(pairs, iters=30))
    finally:
        prep.unpersist()

    edges, scans = _join_built_edges(spark, raw, ids)
    res, stages = _run_with_stages(sc, lambda: hits(edges, max_iter=10, tol=None))
    assert scans.value == len(raw)
    _assert_edge_exchanges(stages, 2, len(raw), n)
    _assert_scores_allclose(res, *numpy_hits(pairs, iters=10))


def test_checkpointed_stop_test_runs_each_round_once(spark, tmp_path):
    """With a stop test and a durable checkpoint, the stop test and the
    commit read one staged round: the checkpointed run costs at most one
    job per round more than the plain run (the snapshot write)."""
    df = spark.createDataFrame(random_graph(400, 3000, seed=5), "src long, dst long")

    def jobs(**kw):
        res, used = jobs_run(spark, lambda: pagerank(df, max_iter=6, tol=1e-12, **kw))
        assert res.iterations == 6 and not res.converged
        return used

    plain = jobs()
    ck = CheckpointManager(str(tmp_path), "pr-staged", "pagerank")
    assert jobs(checkpointer=ck) <= plain + 6


def test_pagerank_broadcast_round_job_count(spark):
    """A broadcast round is 2 Spark jobs: the rank vector's broadcast and
    the leaf's localCheckpoint. Its dangling mass is observed on the
    round it reads, not aggregated and broadcast again (4 jobs a round
    before)."""
    df = spark.createDataFrame(random_graph(200, 1500, seed=31), "src long, dst long")
    one = jobs_run(spark, lambda: pagerank(df, max_iter=1, tol=None))[1]
    three = jobs_run(spark, lambda: pagerank(df, max_iter=3, tol=None))[1]
    assert three - one == 4


def test_pagerank_shuffle_round_job_count(spark):
    """A shuffle-layout round has the broadcast round's shape, 3 Spark
    jobs: the rank vector (carrying out_deg and _dang) exchanged into the
    sort-merge join, the dst aggregation's exchange, and the leaf's
    localCheckpoint, which fills the observed dangling mass. The round it
    replaced also cached its contributions, cross-joined 1 − Σcontrib and
    left-joined the vertex set: 8 jobs a round."""
    df = spark.createDataFrame(random_graph(200, 1500, seed=31), "src long, dst long")

    def jobs(max_iter):
        with forced_route(shuffle=True) as route:
            used = jobs_run(spark, lambda: pagerank(df, max_iter=max_iter, tol=None))[1]
        assert route.shuffled
        return used

    assert jobs(3) - jobs(1) == 2 * 3
