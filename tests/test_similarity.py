"""Similarity search vs numpy brute-force oracle on the embeddings table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY, jobs_run

from graphsetintersection_spark.functions.similarity import (
    cosine_topk_bruteforce,
    embedding_neardup_pairs,
    hyperplane_buckets,
    lsh_ann_topk,
)
from graphsetintersection_spark.session import read_table

K = 5
N_QUERIES = 8


@pytest.fixture(scope="module")
def vecs(spark):
    v = read_table(spark, SF_TINY, "embeddings").select("vec_id", "embedding").persist()
    v.count()
    return v


@pytest.fixture(scope="module")
def oracle(vecs):
    rows = vecs.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    sims = mat @ mat.T
    topk = {}
    for qi, qid in enumerate(ids):
        if qid >= N_QUERIES:
            continue
        order = sorted(
            [(s, int(c)) for s, c in zip(sims[qi], ids) if c != qid],
            key=lambda t: (-t[0], t[1]),
        )
        topk[int(qid)] = [c for _, c in order[:K]]
    return ids, mat, sims, topk


def test_bruteforce_topk_matches_numpy(spark, vecs, oracle):
    ids, mat, sims, topk = oracle
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    got = {}
    for r in cosine_topk_bruteforce(q, vecs, k=K).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["score"]))
    assert set(got) == set(topk)
    for qid, lst in got.items():
        lst.sort()
        assert [n for _, n, _ in lst] == topk[qid]
        for rank, nid, score in lst:
            qi = int(np.where(ids == qid)[0][0])
            ci = int(np.where(ids == nid)[0][0])
            assert score == pytest.approx(sims[qi, ci], abs=1e-9)


def test_lsh_ann_recall(spark, vecs, oracle):
    _, _, _, topk = oracle
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    got = {}
    for r in lsh_ann_topk(q, vecs, k=K, n_planes=4, n_tables=16).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # ANN: each query's bucket must yield some neighbors, with reasonable
    # recall of the true top-k on average
    assert set(got) <= set(topk)
    recalls = [
        len(got.get(qid, set()) & set(topk[qid])) / K for qid in topk
    ]
    assert sum(recalls) / len(recalls) >= 0.5


def test_lsh_ann_topk_probes_the_dimension_once(spark, vecs):
    """Both sides hash with one set of planes, so building the ANN frame
    runs one job, the candidates' dimension probe (one probe per side
    before)."""
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    _, jobs = jobs_run(
        spark, lambda: lsh_ann_topk(q, vecs, k=K, n_planes=4, n_tables=16)
    )
    assert jobs == 1


def test_embedding_neardup_pairs_precision(spark, vecs, oracle):
    ids, mat, sims, _ = oracle
    pairs = embedding_neardup_pairs(vecs, threshold=0.9, n_planes=4).collect()
    idx = {int(v): i for i, v in enumerate(ids)}
    for r in pairs:
        s = sims[idx[r["id_a"]], idx[r["id_b"]]]
        assert r["score"] == pytest.approx(s, abs=1e-9)
        assert s >= 0.9


def test_ivf_exact_regime_matches_bruteforce(spark, vecs, oracle):
    """n_probe == n_cells probes every cell, so IVF candidates = ALL
    vectors and the output equals exact brute force — ranks, neighbors
    and scores (the gate's provably-exact regime)."""
    from graphsetintersection_spark.functions.similarity import ivf_ann_topk

    _, _, sims, topk = oracle
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    got = {}
    for r in ivf_ann_topk(q, vecs, k=K, n_cells=8, n_probe=8).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert set(got) == set(topk)
    for qid, lst in got.items():
        lst.sort()
        assert [n for _, n in lst] == topk[qid]


def test_ivf_production_regime_recall_and_scan_fraction(spark, vecs, oracle):
    """n_probe ≪ n_cells: decent average recall of the true top-k while
    scoring only a fraction of the corpus per query (the whole point of
    the inverted file)."""
    from graphsetintersection_spark.functions.similarity import (
        ivf_ann_topk,
        ivf_assign,
        ivf_train,
    )

    _, _, _, topk = oracle
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    got = {}
    for r in ivf_ann_topk(q, vecs, k=K, n_cells=8, n_probe=3).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(got.get(qid, set()) & set(topk[qid])) / K for qid in topk
    ]
    assert sum(recalls) / len(recalls) >= 0.5
    # the partition map is a true partition: every vector in exactly one cell
    cent = ivf_train(vecs, n_cells=8)
    cells = ivf_assign(vecs, cent).collect()
    assert len(cells) == vecs.count()
    assert len({r["id"] for r in cells}) == len(cells)
    assert {r["cell"] for r in cells} <= set(range(8))


def test_ivf_train_deterministic(spark, vecs):
    """Same corpus + seed → bit-identical centroids (hash-filtered
    sample + seeded numpy init; no RNG in the Spark plan)."""
    from graphsetintersection_spark.functions.similarity import ivf_train

    c1 = ivf_train(vecs, n_cells=6, seed=13)
    c2 = ivf_train(vecs.repartition(7), n_cells=6, seed=13)
    assert np.array_equal(c1, c2)


@pytest.mark.parametrize(
    "kwargs", [{}, {"n_planes": 4, "n_tables": 16}], ids=["defaults", "4x16"]
)
def test_hyperplane_buckets_match_numpy(spark, vecs, kwargs):
    """Every (vector, table) bucket is Σ_i 2^i·[v·h_{t,i} > 0] with the
    planes h drawn from default_rng(seed).standard_normal((n_tables,
    n_planes, dim)) — at the defaults (12 planes × 1 table, seed 9) and
    4 × 16."""
    n_planes = kwargs.get("n_planes", 12)
    n_tables = kwargs.get("n_tables", 1)
    rows = vecs.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    planes = np.random.default_rng(9).standard_normal(
        (n_tables, n_planes, mat.shape[1])
    )
    bits = np.einsum("vd,tpd->vtp", mat, planes) > 0
    expect = {
        (int(r["vec_id"]), t): int(
            sum(1 << i for i in range(n_planes) if bits[vi, t, i])
        )
        for vi, r in enumerate(rows)
        for t in range(n_tables)
    }
    got = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in hyperplane_buckets(vecs, **kwargs).collect()
    }
    assert got == expect
    assert len(set(expect.values())) > 1
