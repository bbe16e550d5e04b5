"""The leak snapshot every leak test compares (``conftest.cache_snapshot``),
and the leaks it revealed."""

from tests.conftest import cache_snapshot, forced_route, random_graph

from graphsetintersection_spark.operators.components import (
    connected_components_minlabel,
)
from graphsetintersection_spark.operators.hits import hits
from graphsetintersection_spark.operators.labelprop import label_propagation
from graphsetintersection_spark.operators.pagerank import (
    pagerank,
    personalized_pagerank,
)
from graphsetintersection_spark.operators.relabel import degree_order


def test_snapshot_sees_a_persist_no_action_has_run_on(spark):
    """``persist()`` registers a CacheManager entry at once, but its RDD
    only after the first action: the snapshot must see the entry before
    any action runs, and see it go with ``unpersist()``."""
    df = spark.range(10).selectExpr("id * 7 AS x")
    before = cache_snapshot(spark)
    df.persist()
    try:
        assert cache_snapshot(spark) - before
    finally:
        df.unpersist()
    assert cache_snapshot(spark) == before


def test_failed_first_counts_release_caches(spark, monkeypatch):
    """A call whose first or second count raises leaves nothing cached:
    min-label CC (``prepare_undirected``, shared with LPA), HITS,
    PageRank's prepare and ``global_order_stats`` (here under
    ``degree_order``) each persist a frame and then count it; when the
    handlers began after the count, a failing count left a CacheManager
    entry with no RDD yet."""
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    cls = type(df)
    real = cls.count
    for fn in (connected_components_minlabel, hits, pagerank, degree_order):
        for k in (1, 2):
            calls = []

            def flaky(self, *args, **kwargs):
                calls.append(1)
                if len(calls) == k:
                    raise RuntimeError("injected count failure")
                return real(self, *args, **kwargs)

            before = cache_snapshot(spark)
            monkeypatch.setattr(cls, "count", flaky)
            try:
                fn(df)
            except RuntimeError as exc:
                assert "injected" in str(exc)
            monkeypatch.setattr(cls, "count", real)
            leaked = cache_snapshot(spark) - before
            assert not leaked, f"{fn.__name__}, count {k}: leaked {leaked}"


def test_forced_shuffle_salted_runs_release_caches(spark):
    """Every engine built on ``iterative.stationary_edges`` releases its
    caches on the shuffle layout with salting engaged too, where the
    builder counts and probes each cache and the rounds read hub-marked
    views of it."""
    df = spark.createDataFrame(random_graph(80, 500, seed=3), "src long, dst long")
    seeds = spark.createDataFrame([(1,), (2,)], "v long")
    calls = {
        "pagerank": lambda: pagerank(df, max_iter=2, tol=None).ranks,
        "personalized_pagerank": lambda: personalized_pagerank(
            df, seeds, max_iter=2, tol=None
        ).ranks,
        "hits": lambda: hits(df, max_iter=2, tol=None).scores,
        "cc": lambda: connected_components_minlabel(df).components,
        "lpa": lambda: label_propagation(df, max_rounds=2).labels,
    }
    for name, call in calls.items():
        before = cache_snapshot(spark)
        with forced_route(shuffle=True, salts=4) as route:
            call().count()
        assert route.shuffled and route.salted(4), name
        leaked = cache_snapshot(spark) - before
        assert not leaked, f"{name}: leaked {leaked}"
