"""End-to-end spark-submit pipeline script: synthetic corpus → edges +
orders + algorithm outputs + REPORT.json (the north rule's packaged entry
point)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(out_dir: str, extra: list[str]) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_pipeline.py"),
         "--synthetic", "300", "--out", out_dir, *extra],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    with open(os.path.join(out_dir, "REPORT.json")) as f:
        return json.load(f)


def test_pipeline_pagerank_matches_oracle(tmp_path):
    """The written ranks equal a dense numpy power iteration over the
    run's own written edge table."""
    import pyarrow.parquet as pq

    from tests.test_pagerank import numpy_pagerank

    out = str(tmp_path / "pr")
    rep = _run(out, ["--algorithms", "pagerank", "--pr-iters", "5",
                     "--pr-tol", "0"])
    assert rep["n_edges"] > 0
    assert rep["pagerank"]["iterations"] == 5
    edges = pq.read_table(os.path.join(out, "edges")).to_pydict()
    oracle = numpy_pagerank(zip(edges["src"], edges["dst"]), iters=5)
    ranks = pq.read_table(os.path.join(out, "pagerank")).to_pydict()
    got = dict(zip(ranks["v"], ranks["rank"]))
    assert set(got) == set(oracle)
    assert max(abs(got[v] - oracle[v]) for v in oracle) < 1e-9


def test_pipeline_triangles_checkpoint_counters(tmp_path):
    """TC through the pipeline records the reference's profiling counters
    (inter_cnt/cmp_cnt, src/tc.cpp:46) in both REPORT.json and the
    checkpoint manifest metrics (VERDICT r4 next-round #8)."""
    out = str(tmp_path / "tc")
    ckdir = str(tmp_path / "ck")
    rep = _run(out, ["--algorithms", "triangles",
                     "--checkpoint-dir", ckdir, "--run-id", "tcrun"])
    assert rep["triangles"] >= 0
    assert rep["tc_counters"]["inter_cnt"] > 0
    assert rep["tc_counters"]["cmp_cnt"] >= rep["tc_counters"]["inter_cnt"]
    manifest = os.path.join(ckdir, "tcrun-triangles", "MANIFEST.jsonl")
    with open(manifest) as f:
        entries = [json.loads(l) for l in f if l.strip()]
    assert entries[-1]["metrics"]["inter_cnt"] == rep["tc_counters"]["inter_cnt"]
    assert entries[-1]["metrics"]["cmp_cnt"] == rep["tc_counters"]["cmp_cnt"]
    assert entries[-1]["metrics"]["triangles"] == rep["triangles"]


@pytest.mark.parametrize(
    "extra",
    [
        ["--algorithms", "pagrank"],
        ["--algorithms", "pagerank,"],
        ["--pr-iters", "-1"],
        ["--pr-tol", "-1"],
        ["--pr-tol", "nan"],
    ],
    ids=lambda extra: " ".join(extra),
)
def test_pipeline_rejects_bad_arguments_before_the_ingest(tmp_path, extra):
    """A bad argument is a usage error (exit code 2) raised before the
    Spark session starts: nothing is ingested or written."""
    out = str(tmp_path / "bad")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_pipeline.py"),
         "--synthetic", "300", "--out", out, *extra],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert res.returncode == 2, res.stderr[-2000:]
    assert not os.path.exists(out)
