"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk_bruteforce`` — exact top-k neighbors; the baseline. Dot
  products as JVM expressions (zip_with + aggregate, strictly sequential
  left-to-right double accumulation → bit-reproducible and SQL-oracle-
  comparable). Query side is broadcast (small); candidates stream.
- ``lsh_ann_topk``          — random-hyperplane (SimHash) LSH-bucketed
  ANN: probe only candidates sharing a hash bucket with the query;
  recall<1 by construction, verified against brute force in tests.
- ``ivf_ann_topk``          — IVF (inverted-file) ANN: deterministic
  spherical k-means coarse quantizer trained on a hash-sampled driver
  sample, candidates partitioned into cells by one GEMM argmax pass,
  queries probe their ``n_probe`` nearest cells. ``n_probe == n_cells``
  degenerates to exact brute force (the oracle regime).
- ``embedding_neardup_pairs`` — all pairs with cosine ≥ threshold (near-
  duplicate detection by embedding).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    """Sequential-order double dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score, rank).

    Cross join with the query side broadcast; per-query top-k via window.
    Ties broken by neighbor id asc (deterministic). Self-pairs excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    from graphsetintersection_spark.session import ensure_min_parallelism

    # the per-candidate dot-product expressions evaluate in the scan
    # stage; a single-file table scans as one partition, serializing the
    # whole scoring pass on one core (see ensure_min_parallelism)
    c = ensure_min_parallelism(
        candidates.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv")))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def hyperplane_buckets(
    vecs: DataFrame,
    n_planes: int = 12,
    n_tables: int = 1,
    dim: int | None = None,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: per vector, one bucket per hash table
    (bit i of a table's bucket = sign(v · h_i)). Returns one row per
    (vector, table): (id, table, bucket) — IDS ONLY, so the n_tables-way
    explode never duplicates the float vectors through the shuffle
    (vectors are re-joined once after candidate dedup). Hyperplanes
    drawn from a seeded numpy RNG. Multi-table (n_tables > 1) is the
    standard recall lever: candidates = union of same-bucket sets across
    tables.

    ONE broadcast GEMM per Arrow batch (mapInPandas): signs =
    (batch @ planes.T) > 0 for all tables at once, then the bit pack in
    vectorized numpy. A per-row expression form costs
    O(n_tables·n_planes) interpreted lambda reductions PER ROW, which
    dominated the production bench (64 planes: 22.6s → GEMM sub-s)."""
    import pandas as pd

    if dim is None:
        first = vecs.select(F.size(vec_col)).first()
        dim = int(first[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    spark = vecs.sparkSession
    # (n_tables*n_planes, dim) stacked; bit weights per table slice
    flat = planes.reshape(n_tables * n_planes, dim)
    bc = spark.sparkContext.broadcast(flat)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def bucketize(batches):
        h = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["_v"]), dtype=np.float64)
            bits = (m @ h.T) > 0  # (n_rows, n_tables*n_planes)
            bits = bits.reshape(len(m), n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int64)
            n_rows = len(m)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(
                        pdf["_id"].to_numpy(dtype=np.int64), n_tables
                    ),
                    "table": np.tile(
                        np.arange(n_tables, dtype=np.int64), n_rows
                    ),
                    "bucket": buckets.reshape(-1),
                }
            )

    out = vecs.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(bucketize, "_id long, table long, bucket long")
    return out.select(F.col("_id").alias(id_col), "table", "bucket")


def lsh_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 16,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in ANY of ``n_tables`` hash tables. One equi-join on
    (table, bucket) instead of a cross join — the scale path; recall is
    tuned by (n_planes ↓, n_tables ↑). Buckets carry ids only; the float
    vectors are joined back exactly once per side AFTER the candidate-pair
    dedup, so a 16-table setup shuffles 1× the vector bytes, not 16×.
    Both sides hash with the same planes, so the dimension is probed once,
    on the candidates."""
    dim = int(candidates.select(F.size(vec_col)).first()[0])
    qb = hyperplane_buckets(queries, n_planes, n_tables, dim, seed,
                            id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), "table", "bucket"
    )
    cb = hyperplane_buckets(candidates, n_planes, n_tables, dim, seed,
                            id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "table", "bucket"
    )
    cand = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a pair may collide in several tables — score once
    )
    return _score_pairs_topk(cand, queries, candidates, k, id_col, vec_col)


def _score_pairs_topk(
    cand: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared ANN tail: given a candidate-pair frame (query_id,
    neighbor_id), join the float vectors back (query side broadcast),
    cosine-score JVM-side, keep per-query top-k (ties → neighbor id
    asc). The pair frame carries ids only, so candidate generation never
    shuffles the vectors."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv")))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivf_train(
    vecs: DataFrame,
    n_cells: int = 16,
    sample_cap: int = 65_536,
    n_iters: int = 10,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer → (n_cells, dim)
    L2-normalized centroid matrix.

    Scale path: the trainer never sees the full table — rows are
    hash-FILTERED down to ≈``sample_cap`` (pmod(xxhash64(id), D) = 0, a
    row-deterministic predicate independent of partitioning — no global
    sort, no sample() RNG), collected to the driver, and iterated in
    numpy (assign = one GEMM argmax, update = mean + renormalize; an
    emptied cell keeps its previous centroid). Deterministic for a given
    (corpus, seed): init picks ``n_cells`` spread rows from the seeded
    RNG over the sample."""
    n = vecs.count()
    # ceiling division: floor made the driver collect bounded only by
    # ~2×sample_cap (and collected the ENTIRE table for n < 2·sample_cap);
    # with the ceiling the expected sample never exceeds sample_cap
    d = max(1, -(-n // max(1, sample_cap)))
    sample = (
        vecs.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(d)) == 0)
        .select(id_col, vec_col)
        .collect()
    )
    sample.sort(key=lambda r: r[id_col])  # collect order is not stable
    mat = np.array([r[vec_col] for r in sample], dtype=np.float64)
    if len(mat) == 0:
        raise ValueError("ivf_train: empty sample")
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    k = min(n_cells, len(mat))
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    for _ in range(n_iters):
        assign = np.argmax(mat @ cent.T, axis=1)  # spherical: max cosine
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 1e-30:
                    cent[c] = m / nrm
    return cent


def ivf_assign(
    vecs: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest-centroid cell per vector — one broadcast GEMM
    argmax per Arrow batch (mapInPandas), ids-only output so the explode-
    free partition map shuffles no floats."""
    import pandas as pd

    spark = vecs.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def assign(batches):
        cent = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["_v"]), dtype=np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            yield pd.DataFrame(
                {
                    "id": pdf["_id"].to_numpy(dtype=np.int64),
                    "cell": np.argmax(m @ cent.T, axis=1).astype(np.int64),
                }
            )

    return (
        vecs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInPandas(assign, "id long, cell long")
    )


def ivf_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 10,
    sample_cap: int = 65_536,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-partitioned approximate top-k: (query_id, neighbor_id, score,
    rank) — the classic inverted-file ANN shape re-expressed as Spark
    equi-joins.

    1. TRAIN: spherical k-means centroids on a hash-sampled driver
       sample (``ivf_train``) — the only driver-side step, bounded by
       ``sample_cap`` regardless of corpus size.
    2. ASSIGN: every candidate to its nearest cell — one broadcast-GEMM
       map pass, ids-only (``ivf_assign``).
    3. PROBE: each query scores all centroids driver-side (queries are
       the small side by construction) and probes its ``n_probe``
       closest cells; (query, cell) pairs broadcast into an equi-join
       against the candidate cell map — NO cross join anywhere.
    4. SCORE: exact cosine on the surviving pairs, per-query top-k
       (``_score_pairs_topk``).

    ``n_probe >= n_cells`` probes every cell, so the output EQUALS
    exact brute force — the provably-exact oracle regime (same trick as
    the minhash/simhash/LSH gates); production runs n_probe ≪ n_cells
    and trades recall for a 1/(n_cells/n_probe) candidate-scan fraction,
    recall pytest-covered. Centroid count at 100 TB scale: n_cells ~
    sqrt(N) keeps both the broadcast matrix and per-cell scan balanced."""
    cent = ivf_train(
        candidates, n_cells=n_cells, sample_cap=sample_cap,
        n_iters=n_iters, seed=seed, id_col=id_col, vec_col=vec_col,
    )
    cells = ivf_assign(candidates, cent, id_col=id_col, vec_col=vec_col)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[id_col]) for r in q_rows]
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    if len(q_mat) == 0:
        return _score_pairs_topk(
            cells.limit(0).select(
                F.col("id").alias("query_id"),
                F.col("id").alias("neighbor_id"),
            ),
            queries, candidates, k, id_col, vec_col,
        )
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30)
    probe = min(n_probe, len(cent))
    order = np.argsort(-(q_mat @ np.asarray(cent).T), axis=1)[:, :probe]
    spark = queries.sparkSession
    probe_df = spark.createDataFrame(
        [(q_ids[i], int(c)) for i in range(len(q_ids)) for c in order[i]],
        "query_id long, cell long",
    )
    cand = (
        cells.join(F.broadcast(probe_df), "cell")
        .where(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    return _score_pairs_topk(cand, queries, candidates, k, id_col, vec_col)


def embedding_neardup_pairs(
    vecs: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold, LSH-bucketed (near-dups collide
    with high probability at high thresholds): (id_a, id_b, score).
    Buckets on ids only; pair dedup happens BEFORE the vectors are joined
    back, so the distinct never shuffles float arrays."""
    b = hyperplane_buckets(vecs, n_planes, n_tables, seed=seed,
                           id_col=id_col, vec_col=vec_col)
    a = b.select(F.col(id_col).alias("id_a"), "table", "bucket")
    c = b.select(F.col(id_col).alias("id_b"), "table", "bucket")
    pairs = (
        a.join(c, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb")))
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )
