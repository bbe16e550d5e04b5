"""Misconfigured iterative runs outside PageRank (HITS, min-label CC, LPA,
star contraction, strategy-auto CC) fail with a ValueError before any
Spark job starts (plans.checkpoint.check_round_args)."""

import pytest

from tests.conftest import jobs_run

from graphsetintersection_spark.operators import components as cc
from graphsetintersection_spark.operators.hits import hits
from graphsetintersection_spark.operators.labelprop import label_propagation

_FNS = {
    "hits": hits,
    "cc_minlabel": cc.connected_components_minlabel,
    "label_propagation": label_propagation,
    "starcontraction": cc.connected_components_starcontraction,
    "cc_auto": cc.connected_components_auto,
}

# Before the shared check, on the 4-edge graph below: hits(max_iter=2.5)
# raised a TypeError after 13 jobs; tol=nan/-1.0 ran 95 jobs each and never
# converged; a round count of -1 returned 0 rounds and 2.5 ran 3 / 3 / 2
# rounds.
_BAD_ARGS = [
    ("hits", {"max_iter": 2.5}),
    ("hits", {"tol": float("nan")}),
    ("hits", {"tol": -1.0}),
    ("cc_minlabel", {"max_rounds": -1}),
    ("label_propagation", {"max_rounds": -1}),
    ("starcontraction", {"max_rounds": -1}),
    ("cc_minlabel", {"max_rounds": 2.5}),
    ("label_propagation", {"max_rounds": 2.5}),
    ("starcontraction", {"max_rounds": 2.5}),
    ("cc_auto", {"probe_rounds": -1}),
    ("cc_auto", {"max_rounds": 2.5}),
]


@pytest.mark.parametrize(
    "fn,kwargs",
    _BAD_ARGS,
    ids=[f + "-" + ",".join(f"{k}={v}" for k, v in kw.items()) for f, kw in _BAD_ARGS],
)
def test_misconfigured_round_run_fails_before_any_job(spark, fn, kwargs):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    def fails():
        with pytest.raises(ValueError):
            _FNS[fn](df, **kwargs)

    assert jobs_run(spark, fails)[1] == 0

