"""Kill-and-resume: a run whose process dies in the middle of a commit
(snapshot written, manifest line not) resumes from its last committed
round to the result of an uninterrupted run, with a gap-free manifest."""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pytest

from graphsetintersection_spark.plans.checkpoint import CheckpointManager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KILL_AT = 2

# The child process: run ENGINES[engine] with a checkpointer that writes
# the snapshot of round KILL_AT and then SIGKILLs its own process before
# the manifest line that would commit it.
CHILD = """
import os, signal, sys
from graphsetintersection_spark.plans.checkpoint import CheckpointManager
from graphsetintersection_spark.session import get_spark
from tests.test_kill_resume import ENGINES, KILL_AT, graph

class KilledMidCommit(CheckpointManager):
    def commit(self, df, iteration, metrics=None):
        if iteration == KILL_AT:
            self._write_snapshot(df, iteration)
            os.kill(os.getpid(), signal.SIGKILL)
        return super().commit(df, iteration, metrics)

engine, base = sys.argv[1:]
spark = get_spark(app_name="gsi-kill", master="local[2]", shuffle_partitions=4)
ENGINES[engine](graph(spark), KilledMidCommit(base, engine, engine))
"""


def graph(spark):
    """A 12-vertex chain plus a triangle and a dangling spur: min-label CC
    needs more than KILL_AT + 1 rounds."""
    pairs = [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22), (22, 20), (22, 23)]
    return spark.createDataFrame(pairs, "src long, dst long")


def _pagerank(df, ck):
    from graphsetintersection_spark.operators.pagerank import pagerank

    res = pagerank(df, max_iter=6, tol=None, checkpointer=ck)
    return {r["v"]: r["rank"] for r in res.ranks.collect()}, res.iterations


def _cc(df, ck):
    from graphsetintersection_spark.operators.components import (
        connected_components_minlabel,
    )

    res = connected_components_minlabel(df, checkpointer=ck)
    return {r["v"]: r["component"] for r in res.components.collect()}, res.rounds


def _lpa(df, ck):
    from graphsetintersection_spark.operators.labelprop import label_propagation

    res = label_propagation(df, max_rounds=6, fixed_rounds=True, checkpointer=ck)
    return {r["v"]: r["label"] for r in res.labels.collect()}, res.rounds


ENGINES = {"pagerank": _pagerank, "cc_minlabel": _cc, "lpa": _lpa}


@pytest.mark.parametrize("engine", sorted(ENGINES))
def test_killed_run_resumes_to_uninterrupted_result(spark, tmp_path, engine):
    base = str(tmp_path)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, (REPO, os.environ.get("PYTHONPATH")))),
        SPARK_DRIVER_MEM="1g",
    )
    child = subprocess.run(
        [sys.executable, "-c", CHILD, engine, base],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=300,
    )
    assert child.returncode == -signal.SIGKILL, child.stderr[-2000:]
    ck = CheckpointManager(base, engine, engine)
    assert ck.latest_iteration() == KILL_AT - 1
    assert os.path.isdir(os.path.join(ck.dir, f"iter={KILL_AT:05d}"))

    expected, rounds = ENGINES[engine](graph(spark), None)
    assert rounds > KILL_AT + 1
    got, resumed_rounds = ENGINES[engine](graph(spark), ck)
    assert resumed_rounds == rounds
    assert set(got) == set(expected)
    if engine == "pagerank":
        assert max(abs(got[v] - expected[v]) for v in expected) <= 1e-12
    else:
        assert got == expected
    assert [e["iteration"] for e in ck.committed()] == list(range(rounds))
