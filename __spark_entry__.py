"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Graph queries run over two SQL-exact derived graphs (pure integer
arithmetic from ``lineitem`` — identical in Spark and DuckDB, see
``graphsetintersection_spark.sources.graphio``):

- ``lgraph``  (dense, V=2000)  — triangle count, degrees, relabel, PageRank
- ``sgraph``  (sparse, V=5000) — connected components, label propagation
  (sparse so the DuckDB recursive-CTE reachability oracle stays tractable)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphsetintersection_spark.session import read_table
from graphsetintersection_spark.sources.graphio import LGRAPH_V, lineitem_graph_sql

SF_TINY = "/root/testdata/sf0.001"

SGRAPH_V = 5000
PR_ITERS = 10
PR_ALPHA = 0.85
PPR_SEEDS = 8  # personalized-PageRank gate: the 8 smallest vertex ids
HITS_ITERS = 10
LPA_ROUNDS = 4

# --------------------------------------------------------------------------
# derived-graph SQL (shared verbatim by Spark and DuckDB)
# --------------------------------------------------------------------------

_LGRAPH_EDGES = f"""
select distinct src, dst from ({lineitem_graph_sql(LGRAPH_V)})
where src <> dst
"""

_SGRAPH_EDGES = f"""
select distinct src, dst from (
  {lineitem_graph_sql(SGRAPH_V)}
) where src <> dst and (src + dst) % 11 < 2
"""


def _spark_edges(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(sql)


def _lgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_edges(spark, sf_dir, _LGRAPH_EDGES)


def _sgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_edges(spark, sf_dir, _SGRAPH_EDGES)


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------

def _q_lgraph_edges(spark, sf_dir):
    return _lgraph(spark, sf_dir)


def _q_degree_table(spark, sf_dir):
    from graphsetintersection_spark.operators.edges import degrees

    return degrees(_lgraph(spark, sf_dir)).select("v", "out_deg", "in_deg", "deg")


def _q_degree_relabel(spark, sf_dir):
    from graphsetintersection_spark.operators.relabel import degree_order

    return degree_order(_lgraph(spark, sf_dir)).select("org_id", "new_id")


def _q_comp_ratio(spark, sf_dir):
    from graphsetintersection_spark.operators.relabel import comp_ratio

    r = comp_ratio(_lgraph(spark, sf_dir))
    return spark.createDataFrame(
        [(float(round(r, 9)),)], "comp_ratio double"
    )


BFS_MAX_LEVELS = 16


def _q_bfs_relabel(spark, sf_dir):
    from graphsetintersection_spark.operators.relabel import bfs_order

    return bfs_order(_lgraph(spark, sf_dir), max_levels=BFS_MAX_LEVELS).select(
        "org_id", "new_id"
    )


def _q_rcm_relabel(spark, sf_dir):
    from graphsetintersection_spark.operators.relabel import rcm_order

    return rcm_order(_lgraph(spark, sf_dir), max_levels=BFS_MAX_LEVELS).select(
        "org_id", "new_id"
    )


def _q_hybrid_relabel(spark, sf_dir):
    from graphsetintersection_spark.operators.relabel import (
        hybrid_bfsdeg_order,
    )

    return hybrid_bfsdeg_order(
        _lgraph(spark, sf_dir), max_levels=BFS_MAX_LEVELS
    ).select("org_id", "new_id")


def _q_dedup_keep_first(spark, sf_dir):
    from graphsetintersection_spark.functions.dedup import dedup_keep_first

    return dedup_keep_first(_docs(spark, sf_dir)).select("doc_id")


def _q_hubs(spark, sf_dir):
    from graphsetintersection_spark.operators.relabel import select_bignode

    return select_bignode(_lgraph(spark, sf_dir), deg_ratio=0.3).select(
        "v", "deg", "cum_deg"
    )


def _q_triangle_count(spark, sf_dir):
    from graphsetintersection_spark.operators.triangle import triangle_count_kernel

    n = triangle_count_kernel(_lgraph(spark, sf_dir))
    return spark.createDataFrame([(n,)], "triangles long")


def _q_triangles_per_edge(spark, sf_dir):
    from graphsetintersection_spark.operators.triangle import triangles_per_edge

    return triangles_per_edge(_lgraph(spark, sf_dir)).select("src", "dst", "common")


def _q_pagerank(spark, sf_dir):
    from graphsetintersection_spark.operators.pagerank import pagerank

    res = pagerank(
        _lgraph(spark, sf_dir), alpha=PR_ALPHA, max_iter=PR_ITERS, tol=None
    )
    return res.ranks.select(
        "v", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_ppm")
    )


def _q_pagerank_kernel(spark, sf_dir):
    """The shuffle-path PageRank round (the shape that carries the scaling
    evidence), checked against the SAME unrolled-SQL oracle as
    ``pagerank``, whose graph always takes the broadcast path. The call
    lowers ``iterative.BROADCAST_STATE_MAX_VERTICES`` below any vertex
    count for its duration, so ``ships_state`` picks the shuffle layout
    and the run has production's above-cutover shape; the constant is
    restored on every exit. The key name is historical: it once ran a
    separate numpy kernel engine, since retired."""
    from graphsetintersection_spark.operators import iterative
    from graphsetintersection_spark.operators.pagerank import pagerank

    cutover = iterative.BROADCAST_STATE_MAX_VERTICES
    iterative.BROADCAST_STATE_MAX_VERTICES = -1
    try:
        res = pagerank(
            _lgraph(spark, sf_dir), alpha=PR_ALPHA, max_iter=PR_ITERS, tol=None
        )
    finally:
        iterative.BROADCAST_STATE_MAX_VERTICES = cutover
    return res.ranks.select(
        "v", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_ppm")
    )


def _q_personalized_pagerank(spark, sf_dir):
    """Seed-restart PageRank (topical ranking / spam-seed scoring) —
    deterministic seed set: the PPR_SEEDS smallest vertex ids."""
    from graphsetintersection_spark.operators.pagerank import (
        personalized_pagerank,
    )

    from graphsetintersection_spark.operators.edges import vertices

    # materialize the derived graph once: the seed scan and the PageRank
    # prepare otherwise each re-run the lineitem distinct (localCheckpoint
    # blocks are GC-released with the frame)
    g = _lgraph(spark, sf_dir).localCheckpoint(eager=True)
    seeds = vertices(g).orderBy("v").limit(PPR_SEEDS)
    res = personalized_pagerank(
        g, seeds, alpha=PR_ALPHA, max_iter=PR_ITERS, tol=None
    )
    return res.ranks.select(
        "v", F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_ppm")
    )


def _q_hits(spark, sf_dir):
    """Kleinberg hubs & authorities, HITS_ITERS synchronous L2-normalized
    iterations over the link graph."""
    from graphsetintersection_spark.operators.hits import hits

    res = hits(_lgraph(spark, sf_dir), max_iter=HITS_ITERS, tol=None)
    return res.scores.select(
        "v",
        F.round(F.col("hub") * 1e6, 0).cast("long").alias("hub_ppm"),
        F.round(F.col("auth") * 1e6, 0).cast("long").alias("auth_ppm"),
    )


def _q_connected_components(spark, sf_dir):
    from graphsetintersection_spark.operators.components import (
        connected_components_starcontraction,
    )

    res = connected_components_starcontraction(_sgraph(spark, sf_dir), max_rounds=30)
    return res.components.select("v", "component")


def _q_connected_components_minlabel(spark, sf_dir):
    """The min-label implementation against the SAME recursive-CTE oracle
    as star contraction (the two implementations' parity is also a pytest;
    gating both keeps either from silently drifting)."""
    from graphsetintersection_spark.operators.components import (
        connected_components_minlabel,
    )

    res = connected_components_minlabel(_sgraph(spark, sf_dir), max_rounds=50)
    return res.components.select("v", "component")


def _q_connected_components_auto(spark, sf_dir):
    """Strategy-auto CC gated on the SAME recursive-CTE oracle.
    probe_rounds=2 deliberately undershoots the gate graph's diameter so
    the oracle exercises the COMPOSED path (min-label probe → contract to
    partial labels → star contraction → compose) — the branch a plain run
    on this low-diameter graph would never take."""
    from graphsetintersection_spark.operators.components import (
        connected_components_auto,
    )

    res = connected_components_auto(
        _sgraph(spark, sf_dir), probe_rounds=2, max_rounds=30
    )
    return res.components.select("v", "component")


def _q_label_propagation(spark, sf_dir):
    from graphsetintersection_spark.operators.labelprop import label_propagation

    res = label_propagation(
        _sgraph(spark, sf_dir), max_rounds=LPA_ROUNDS, fixed_rounds=True
    )
    return res.labels.select("v", "label")


# ---- training-data pipeline queries (documents / embeddings / events) ----

NGRAM_DOCS = 400       # doc_id bound for the quadratic-ish jaccard oracle
NGRAM_THRESHOLD = 0.2
ANN_QUERIES = 8
ANN_K = 5


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def _q_doc_stats(spark, sf_dir):
    from graphsetintersection_spark.functions.text import doc_stats

    return doc_stats(_docs(spark, sf_dir))


def _q_quality_score(spark, sf_dir):
    from graphsetintersection_spark.functions.text import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    from graphsetintersection_spark.functions.text import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from graphsetintersection_spark.functions.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _q_exact_dedup(spark, sf_dir):
    from graphsetintersection_spark.functions.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select("rep_id", "n_copies")


def _q_ngram_jaccard(spark, sf_dir):
    from graphsetintersection_spark.functions.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < NGRAM_DOCS)
    pairs = ngram_jaccard_pairs(
        docs, n=5, threshold=NGRAM_THRESHOLD, max_shingle_df=None
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SIMHASH_MAX_HAMMING = 7    # near-dups sit at Hamming ≤ 5 on this corpus
SIMHASH_THRESHOLD = 0.5    # mid-gap: corpus pairs are either ≥0.9 or ≤0.31


def _q_minhash_lsh(spark, sf_dir):
    """MinHash LSH in its high-recall regime (rows_per_band=1, 256 perms:
    miss prob (1-j)^256 < 1e-24 at j=0.2) + the exact verify — the
    emitted set equals the exact ngram-Jaccard pair set, so the DuckDB
    brute-force oracle applies EXACTLY. The verify counts hashed byte
    n-grams and the oracle string char n-grams; on the gate corpora (all
    ASCII, shortest text 44 chars) the rolling hash has no collision and
    every document's n-gram count is the same either way, so the two
    Jaccards are equal."""
    from graphsetintersection_spark.functions.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < NGRAM_DOCS)
    return minhash_lsh_pairs(
        docs, num_perm=256, bands=256, threshold=NGRAM_THRESHOLD, verify=True,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


STREAM_DEDUP_SPLIT = 200   # doc_id < split = "historical", rest = "incoming"


def _q_stream_neardup(spark, sf_dir):
    """Incremental near-dup dedup (streaming/dedup.py) via its batch twin
    — the same stream/batch-agnostic plan Structured Streaming runs per
    micro-batch (streaming parity is pytest-pinned; a DuckDB gate cannot
    execute a stream). High-recall regime (bands=num_perm=256: candidate
    iff ANY slot agrees, per-pair miss prob (1-j)^256 — < 1e-24 at the
    gate's j ≥ 0.2, negligible) + the exact verify, so the output equals
    the exact cross-set Jaccard pair set up to that vanishing miss
    probability and the brute-force SQL oracle applies (hashed byte
    n-grams equal the oracle's char n-grams on this ASCII corpus: no
    collision, same per-document n-gram counts — see _q_minhash_lsh)."""
    from graphsetintersection_spark.streaming.dedup import (
        batch_minhash_neardup,
        minhash_band_index,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < NGRAM_DOCS)
    historical = docs.where(F.col("doc_id") < STREAM_DEDUP_SPLIT)
    incoming = docs.where(F.col("doc_id") >= STREAM_DEDUP_SPLIT)
    # materialize the index once (localCheckpoint: self-contained, blocks
    # GC-released with the frame): the validate aggregate and the band
    # join would otherwise each run the full historical signature kernel
    index = minhash_band_index(
        historical, num_perm=256, bands=256
    ).localCheckpoint(eager=True)
    return batch_minhash_neardup(
        incoming, index, num_perm=256, bands=256,
        threshold=NGRAM_THRESHOLD, exact_verify_docs=docs,
    ).select("doc_id", "dup_of", F.round("jaccard", 6).alias("jaccard"))


def _q_simhash(spark, sf_dir):
    """SimHash near-dup pipeline (block-rotation candidates → exact
    Jaccard verify). max_hamming=7 is comfortably above the corpus's
    near-dup Hamming band (≤5) and far below unrelated pairs (≥10 only
    below jaccard 0.31), so the emitted set equals the exact
    jaccard ≥ 0.5 pair set — checked against a brute-force SQL oracle
    (the verify's hashed byte n-grams equal the oracle's char n-grams on
    this ASCII corpus: no collision, same per-document n-gram counts —
    see _q_minhash_lsh)."""
    from graphsetintersection_spark.functions.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _docs(spark, sf_dir),
        max_hamming=SIMHASH_MAX_HAMMING,
        threshold=SIMHASH_THRESHOLD,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_ann_cosine_topk(spark, sf_dir):
    from graphsetintersection_spark.functions.similarity import (
        cosine_topk_bruteforce,
    )

    vecs = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = vecs.where(F.col("vec_id") < ANN_QUERIES)
    out = cosine_topk_bruteforce(q, vecs, k=ANN_K)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank"
    )


def _q_ann_lsh(spark, sf_dir):
    """Hyperplane LSH ANN in its high-recall regime (3 planes × 64
    tables: per-neighbor miss prob ≈ (1-p³)^64 < 1e-6 at the corpus's
    top-k cosines ~0.3), so the candidate set provably contains the
    exact top-k and the output equals brute force — the SAME DuckDB
    oracle as ann_cosine_topk applies. Production ANN runs more planes /
    fewer tables; that regime's recall is pytest-covered."""
    from graphsetintersection_spark.functions.similarity import lsh_ann_topk

    vecs = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = vecs.where(F.col("vec_id") < ANN_QUERIES)
    out = lsh_ann_topk(q, vecs, k=ANN_K, n_planes=3, n_tables=64)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank"
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF ANN in its provably-exact regime (n_probe == n_cells: every
    cell is probed, so the candidate set is ALL vectors and the output
    equals brute force by construction — no probabilistic argument
    needed). The SAME DuckDB oracle as ann_cosine_topk applies.
    Production IVF runs n_probe ≪ n_cells; that regime's recall is
    pytest-covered and benched as ann_ivf_prod."""
    from graphsetintersection_spark.functions.similarity import ivf_ann_topk

    vecs = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = vecs.where(F.col("vec_id") < ANN_QUERIES)
    out = ivf_ann_topk(q, vecs, k=ANN_K, n_cells=8, n_probe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank"
    )


SM_LABELS = 7  # data labels for the matching query: label(v) = v % 7


def _q_subgraph_match_triangle(spark, sf_dir):
    """Embedding count of the labeled triangle query (labels 0-1-2) —
    the reference sm binary's per-query answer (src/sm.cpp:60-77)."""
    from graphsetintersection_spark.operators.edges import vertices
    from graphsetintersection_spark.operators.matching import (
        LabelSubgraph,
        subgraph_match_count,
    )

    e = _lgraph(spark, sf_dir)
    labels = vertices(e).select("v", (F.col("v") % SM_LABELS).cast("int").alias("label"))
    q = LabelSubgraph(3, [(0, 1), (1, 2), (0, 2)], [0, 1, 2])
    n = subgraph_match_count(e, labels, q)
    return spark.createDataFrame([(n,)], "embeddings long")


def _q_maximal_cliques(spark, sf_dir):
    """Maximal-clique size histogram of the sparse graph (rows-only check;
    exactness is covered by the BK pytest oracle)."""
    from graphsetintersection_spark.operators.cliques import maximal_cliques

    cl = maximal_cliques(_sgraph(spark, sf_dir))
    return (
        cl.select(F.size("clique").alias("clique_size"))
        .groupBy("clique_size")
        .agg(F.count("*").alias("n_cliques"))
    )


SESSION_GAP_MIN = 30


def _q_event_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so this epoch matches
    # DuckDB's naive epoch()
    es = F.col("ts").cast("timestamp_ltz").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = es - F.lag(es).over(w)
    with_new = ev.select(
        "user_id", "ts", "event_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = with_new.withColumn("session_idx", F.sum("is_new").over(w2))
    es2 = F.col("ts").cast("timestamp_ltz").cast("long")
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(es2).alias("start_epoch"),
        F.max(es2).alias("end_epoch"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # link-graph engine core
        "lgraph_edges": _q_lgraph_edges,
        "degree_table": _q_degree_table,
        "degree_relabel": _q_degree_relabel,
        "bfs_relabel": _q_bfs_relabel,
        "rcm_relabel": _q_rcm_relabel,
        "hybrid_relabel": _q_hybrid_relabel,
        "comp_ratio": _q_comp_ratio,
        "hubs": _q_hubs,
        "triangle_count": _q_triangle_count,
        "triangles_per_edge": _q_triangles_per_edge,
        "pagerank": _q_pagerank,
        "pagerank_kernel": _q_pagerank_kernel,
        "personalized_pagerank": _q_personalized_pagerank,
        "hits": _q_hits,
        "connected_components": _q_connected_components,
        "connected_components_minlabel": _q_connected_components_minlabel,
        "connected_components_auto": _q_connected_components_auto,
        "label_propagation": _q_label_propagation,
        "subgraph_match_triangle": _q_subgraph_match_triangle,
        "maximal_cliques": _q_maximal_cliques,
        # training-data pipeline
        "doc_stats": _q_doc_stats,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "exact_dedup": _q_exact_dedup,
        "dedup_keep_first": _q_dedup_keep_first,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh_dedup": _q_minhash_lsh,
        "stream_neardup": _q_stream_neardup,
        "simhash_dedup": _q_simhash,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "event_sessionize": _q_event_sessionize,
    }


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------

_ORIENTED = """
oriented as (
  select distinct least(src, dst) as a, greatest(src, dst) as b from edges
)
"""


def _pagerank_oracle_sql() -> str:
    """Textbook power iteration, PR_ITERS unrolled iterations, identical
    semantics to operators.pagerank (damping + dangling redistribution)."""
    a = PR_ALPHA
    parts = [
        f"with edges as materialized ({_LGRAPH_EDGES})",
        "verts as materialized (select src as v from edges union select dst from edges)",
        "nn as materialized (select count(*) as c from verts)",
        "outdeg as materialized (select src as v, count(*) as od from edges group by src)",
        "r0 as materialized (select v, 1.0/(select c from nn) as rank from verts)",
    ]
    for i in range(PR_ITERS):
        p, q = f"r{i}", f"r{i + 1}"
        parts.append(
            f"d{i} as materialized (select coalesce(sum(rank),0) as dm from {p} "
            f"where v not in (select v from outdeg))"
        )
        parts.append(
            f"c{i} as materialized (select e.dst as v, sum(r.rank/o.od) as contrib "
            f"from edges e join {p} r on r.v = e.src "
            f"join outdeg o on o.v = e.src group by e.dst)"
        )
        parts.append(
            f"{q} as materialized (select verts.v, (1-{a})/(select c from nn) + {a}*("
            f"coalesce(c{i}.contrib, 0) + (select dm from d{i})/(select c from nn)"
            f") as rank from verts left join c{i} on c{i}.v = verts.v)"
        )
    parts.append(
        f"select v, cast(round(rank * 1000000, 0) as bigint) as rank_ppm "
        f"from r{PR_ITERS}"
    )
    return ",\n".join(parts[:1] + parts[1:-1]) + "\n" + parts[-1]


def _ppr_oracle_sql() -> str:
    """Personalized PageRank, PR_ITERS unrolled: restart vector p uniform
    over the PPR_SEEDS smallest vertex ids; r' = (1−a)·p + a·(contrib +
    dm·p) with the dangling mass dm redistributed over p (identical
    semantics to operators.pagerank.personalized_pagerank; dm computed as
    the dangling vertices' rank sum, algebraically equal to the engine's
    1 − Σcontrib because Σr = 1 is conserved)."""
    a = PR_ALPHA
    parts = [
        f"with edges as materialized ({_LGRAPH_EDGES})",
        "verts as materialized (select src as v from edges union select dst from edges)",
        f"sv as materialized (select v from verts order by v limit {PPR_SEEDS})",
        "ns as materialized (select count(*) as c from sv)",
        "tp as materialized (select verts.v, case when verts.v in (select v from sv) "
        "then 1.0/(select c from ns) else 0.0 end as p from verts)",
        "outdeg as materialized (select src as v, count(*) as od from edges group by src)",
        "r0 as materialized (select v, p as rank from tp)",
    ]
    for i in range(PR_ITERS):
        p, q = f"r{i}", f"r{i + 1}"
        parts.append(
            f"d{i} as materialized (select coalesce(sum(rank),0) as dm from {p} "
            f"where v not in (select v from outdeg))"
        )
        parts.append(
            f"c{i} as materialized (select e.dst as v, sum(r.rank/o.od) as contrib "
            f"from edges e join {p} r on r.v = e.src "
            f"join outdeg o on o.v = e.src group by e.dst)"
        )
        parts.append(
            f"{q} as materialized (select tp.v, (1-{a})*tp.p + {a}*("
            f"coalesce(c{i}.contrib, 0) + (select dm from d{i})*tp.p"
            f") as rank from tp left join c{i} on c{i}.v = tp.v)"
        )
    parts.append(
        f"select v, cast(round(rank * 1000000, 0) as bigint) as rank_ppm "
        f"from r{PR_ITERS}"
    )
    return ",\n".join(parts[:1] + parts[1:-1]) + "\n" + parts[-1]


def _hits_oracle_sql() -> str:
    """Synchronous L2-normalized HITS, HITS_ITERS unrolled: per iteration
    auth = normalize(Σ_{u→v} hub(u)), hub = normalize(Σ_{u→v} auth(v)),
    missing vertices at 0 — identical semantics to operators.hits."""
    parts = [
        f"with edges as materialized ({_LGRAPH_EDGES})",
        "verts as materialized (select src as v from edges union select dst from edges)",
        "h0 as materialized (select v, 1.0 as s from verts)",
    ]
    for i in range(HITS_ITERS):
        parts.append(
            f"ar{i} as materialized (select e.dst as v, sum(h.s) as s "
            f"from edges e join h{i} h on h.v = e.src group by e.dst)"
        )
        parts.append(
            f"an{i} as materialized (select sqrt(sum(s*s)) as nm from ar{i})"
        )
        parts.append(
            f"a{i + 1} as materialized (select verts.v, "
            f"coalesce(ar{i}.s, 0)/(select nm from an{i}) as s "
            f"from verts left join ar{i} on ar{i}.v = verts.v)"
        )
        parts.append(
            f"hr{i} as materialized (select e.src as v, sum(a.s) as s "
            f"from edges e join a{i + 1} a on a.v = e.dst group by e.src)"
        )
        parts.append(
            f"hn{i} as materialized (select sqrt(sum(s*s)) as nm from hr{i})"
        )
        parts.append(
            f"h{i + 1} as materialized (select verts.v, "
            f"coalesce(hr{i}.s, 0)/(select nm from hn{i}) as s "
            f"from verts left join hr{i} on hr{i}.v = verts.v)"
        )
    parts.append(
        f"select h.v, cast(round(h.s * 1000000, 0) as bigint) as hub_ppm, "
        f"cast(round(a.s * 1000000, 0) as bigint) as auth_ppm "
        f"from h{HITS_ITERS} h join a{HITS_ITERS} a on a.v = h.v"
    )
    return ",\n".join(parts[:1] + parts[1:-1]) + "\n" + parts[-1]


def _lpa_oracle_sql() -> str:
    """Synchronous LPA, LPA_ROUNDS unrolled, tie-break (count desc, label
    asc), isolated vertices keep their label."""
    parts = [
        f"with edges as materialized ({_SGRAPH_EDGES})",
        "und as materialized (select src as u, dst as w from edges "
        "union select dst, src from edges)",
        "verts as materialized (select u as v from und union select w from und)",
        "l0 as materialized (select v, v as label from verts)",
    ]
    for i in range(LPA_ROUNDS):
        p, q = f"l{i}", f"l{i + 1}"
        parts.append(
            f"cnt{i} as materialized (select und.w as v, {p}.label, count(*) as cnt "
            f"from und join {p} on {p}.v = und.u group by und.w, {p}.label)"
        )
        parts.append(
            f"best{i} as materialized (select v, label from (select v, label, row_number() "
            f"over (partition by v order by cnt desc, label asc) as rn "
            f"from cnt{i}) t where rn = 1)"
        )
        parts.append(
            f"{q} as materialized (select verts.v, coalesce(best{i}.label, {p}.label) as label "
            f"from verts left join best{i} on best{i}.v = verts.v "
            f"join {p} on {p}.v = verts.v)"
        )
    parts.append(f"select v, label from l{LPA_ROUNDS}")
    return ",\n".join(parts[:1] + parts[1:-1]) + "\n" + parts[-1]


_DOC_STATS_SQL = r"""
select doc_id,
  length(text) as n_chars,
  case when trim(text) = '' then 0
       else len(regexp_split_to_array(trim(text), '\s+')) end as n_tokens_ws,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) as n_tokens_bpe,
  length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) as n_non_ascii,
  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as n_digits,
  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) as n_upper,
  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) as n_punct
from documents
"""

_QUALITY_SQL = f"""
with s as materialized ({_DOC_STATS_SQL})
select doc_id,
  round(greatest(least(
    (case when n_tokens_ws between 10 and 100000 then 0.5 else 0.0 end)
    + 0.5
    - least(n_digits / greatest(cast(n_chars as double), 1.0) * 2.0, 0.25)
    - least(n_punct / greatest(cast(n_chars as double), 1.0) * 4.0, 0.25)
    - least(n_upper / greatest(cast(n_chars as double), 1.0) * 2.0, 0.25)
  , 1.0), 0.0), 6) as quality
from s
"""


def _lang_id_oracle_sql() -> str:
    from graphsetintersection_spark.functions.text import LANG_MARKERS

    def cnt(markers):
        terms = [
            f"(length(p) - length(replace(p, '{m}', ''))) // {len(m)}"
            for m in markers
        ]
        return " + ".join(terms)

    scores = {c: cnt(ms) for c, ms in LANG_MARKERS.items()}
    score_cols = ",\n  ".join(f"({v}) as s_{c}" for c, v in scores.items())
    codes = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    case = " ".join(f"when s_{c} = best then '{c}'" for c in codes)
    return f"""
with p as materialized (
  select doc_id, ' ' || lower(text) || ' ' as p from documents
),
sc as materialized (select doc_id, {score_cols} from p),
b as (select *, {best} as best from sc)
select doc_id, case when best > 0 then (case {case} end) else 'und' end as lang_pred
from b
"""


_EXACT_DEDUP_SQL = """
select min(doc_id) as rep_id, count(*) as n_copies
from documents group by text
"""


def _ngram_jaccard_oracle_sql(
    max_doc: int | None = NGRAM_DOCS, threshold: float = NGRAM_THRESHOLD
) -> str:
    """Brute-force 5-gram Jaccard pair set. Also the EXACT oracle for
    minhash_lsh_dedup (high-recall LSH regime — see _q_minhash_lsh) and,
    at (None, SIMHASH_THRESHOLD), for simhash_dedup."""
    doc_filter = "" if max_doc is None else f"where doc_id < {max_doc}"
    return f"""
with docs as materialized (
  select doc_id, text from documents {doc_filter}
),
sh as materialized (
  select distinct doc_id,
         unnest(list_transform(
           generate_series(1, greatest(length(text) - 4, 0)),
           i -> substr(text, i, 5))) as shingle
  from docs
),
sizes as materialized (select doc_id, count(*) as n_sh from sh group by doc_id),
inter as materialized (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
  from sh a join sh b using (shingle)
  where a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select id_a, id_b, round(i / (sa.n_sh + sb.n_sh - i), 6) as jaccard
from inter
join sizes sa on sa.doc_id = id_a
join sizes sb on sb.doc_id = id_b
where i / (sa.n_sh + sb.n_sh - i) >= {threshold}
"""


def _cross_set_jaccard_oracle_sql() -> str:
    """Exact oracle for stream_neardup: brute-force 5-gram Jaccard of
    every (incoming, historical) pair — the high-recall gate regime's
    provably-equal set (see _q_stream_neardup)."""
    return f"""
with docs as materialized (
  select doc_id, text from documents where doc_id < {NGRAM_DOCS}
),
sh as materialized (
  select distinct doc_id,
         unnest(list_transform(
           generate_series(1, greatest(length(text) - 4, 0)),
           i -> substr(text, i, 5))) as shingle
  from docs
),
sizes as materialized (select doc_id, count(*) as n_sh from sh group by doc_id),
inter as materialized (
  select a.doc_id as doc_id, b.doc_id as dup_of, count(*) as i
  from sh a join sh b using (shingle)
  where a.doc_id >= {STREAM_DEDUP_SPLIT} and b.doc_id < {STREAM_DEDUP_SPLIT}
  group by a.doc_id, b.doc_id
)
select inter.doc_id as doc_id, inter.dup_of as dup_of,
       round(i / (sa.n_sh + sb.n_sh - i), 6) as jaccard
from inter
join sizes sa on sa.doc_id = inter.doc_id
join sizes sb on sb.doc_id = inter.dup_of
where i / (sa.n_sh + sb.n_sh - i) >= {NGRAM_THRESHOLD}
"""


def _ann_oracle_sql() -> str:
    return f"""
with q as materialized (
  select vec_id as query_id, embedding::DOUBLE[] as qv
  from embeddings where vec_id < {ANN_QUERIES}
),
c as materialized (
  select vec_id as neighbor_id, embedding::DOUBLE[] as cv from embeddings
),
scored as materialized (
  select query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           as score
  from q cross join c
  where query_id <> neighbor_id
),
ranked as (
  select query_id, neighbor_id, score,
         row_number() over (partition by query_id
                            order by score desc, neighbor_id asc) as rank
  from scored
)
select query_id, neighbor_id, round(score, 6) as score, rank
from ranked where rank <= {ANN_K}
"""


_SESSIONIZE_SQL = f"""
with e as materialized (
  select user_id, ts, event_id, cast(floor(epoch(ts)) as bigint) as es
  from events
),
g as materialized (
  select user_id, ts, event_id, es,
    case when lag(es) over w is null
           or es - lag(es) over w > {SESSION_GAP_MIN * 60} then 1 else 0 end
      as is_new
  from e
  window w as (partition by user_id order by ts, event_id)
),
s as materialized (
  select user_id, es,
    cast(sum(is_new) over (partition by user_id order by ts, event_id
                           rows between unbounded preceding and current row)
         as bigint) as session_idx
  from g
)
select user_id, session_idx, count(*) as n_events,
       min(es) as start_epoch, max(es) as end_epoch
from s group by user_id, session_idx
"""


# Polynomial rolling hash h = Σ ascii(c_i)·B^(i-1) mod M as a list_reduce
# fold over the same FIXED PREFIX the engine caps at
# (functions.text.FINGERPRINT_MAX_CHARS — O(len) per-row cost bounded).
# DuckDB's list_reduce has no initial accumulator, so the (h, p)
# state is packed into one bigint as h + p*M (max < M^2 ≈ 1e18 < 2^63) and
# a prepended sentinel M encodes the initial state (h=0, p=1).
_M = 1_000_000_007   # functions.text.FINGERPRINT_MOD
_B = 31              # functions.text.FINGERPRINT_BASE
_FP_CAP = 4096       # functions.text.FINGERPRINT_MAX_CHARS
_FINGERPRINT_SQL = f"""
select doc_id,
  list_reduce(
    list_prepend(cast({_M} as bigint),
      list_transform(generate_series(1, least(length(text), {_FP_CAP})),
                     i -> cast(i as bigint))),
    (acc, i) ->
      ((acc % {_M} + ascii(substr(text, cast(i as int), 1)) * (acc // {_M})) % {_M})
      + (((acc // {_M}) * {_B}) % {_M}) * {_M}
  ) % {_M} as fingerprint
from documents
"""


def _maximal_cliques_oracle_sql() -> str:
    """Maximal-clique size histogram by relational enumeration of K2/K3/K4
    with explicit maximality (no extending vertex). Valid for graphs whose
    maximum clique is ≤ 4 — if a K5 existed, the Spark histogram would have
    a size-5 row the oracle lacks, failing the row-count check loudly."""
    return f"""
with edges as materialized ({_SGRAPH_EDGES}),
und as materialized (
  select src as u, dst as w from edges union select dst, src from edges
),
e as materialized (
  select distinct least(src, dst) as a, greatest(src, dst) as b from edges
),
tri as materialized (
  select e1.a as a, e1.b as b, e2.b as c
  from e e1 join e e2 on e2.a = e1.b join e e3 on e3.a = e1.a and e3.b = e2.b
),
quad as materialized (
  select t.a, t.b, t.c, u1.w as d
  from tri t
  join und u1 on u1.u = t.a and u1.w > t.c
  join und u2 on u2.u = t.b and u2.w = u1.w
  join und u3 on u3.u = t.c and u3.w = u1.w
),
k2m as (
  select count(*) as n from e
  where not exists (
    select 1 from und x join und y on x.w = y.w
    where x.u = e.a and y.u = e.b
  )
),
k3m as (
  select count(*) as n from tri t
  where not exists (
    select 1 from und x join und y on x.w = y.w join und z on z.w = y.w
    where x.u = t.a and y.u = t.b and z.u = t.c
  )
),
k4m as (
  select count(*) as n from quad q
  where not exists (
    select 1 from und x join und y on x.w = y.w
                join und z on z.w = y.w join und v on v.w = z.w
    where x.u = q.a and y.u = q.b and z.u = q.c and v.u = q.d
  )
)
select * from (
  select cast(2 as int) as clique_size, n as n_cliques from k2m where n > 0
  union all select cast(3 as int), n from k3m where n > 0
  union all select cast(4 as int), n from k4m where n > 0
)
"""


# shared by both CC implementations (star contraction + min-label): the
# component id is the reachability-minimum either way
_CC_ORACLE_SQL = f"""
with recursive edges as ({_SGRAPH_EDGES}),
und as (select src as u, dst as w from edges union select dst, src from edges),
reach(v, m) as (
  select u, u from und
  union
  select und.w, reach.m from reach join und on und.u = reach.v
)
select v, min(m) as component from reach group by v
"""


def oracle_sql() -> dict[str, str]:
    return {
        "doc_stats": _DOC_STATS_SQL,
        "doc_fingerprint": _FINGERPRINT_SQL,
        "maximal_cliques": _maximal_cliques_oracle_sql(),
        "quality_score": _QUALITY_SQL,
        "lang_id": _lang_id_oracle_sql(),
        "exact_dedup": _EXACT_DEDUP_SQL,
        "ngram_jaccard": _ngram_jaccard_oracle_sql(),
        # The three LSH ops run their gate queries in provably-exact
        # high-recall regimes (see each _q_* docstring), so the exact
        # brute-force oracles apply; the approximate production regimes
        # are pytest recall/precision-covered.
        "minhash_lsh_dedup": _ngram_jaccard_oracle_sql(),
        "stream_neardup": _cross_set_jaccard_oracle_sql(),
        "simhash_dedup": _ngram_jaccard_oracle_sql(
            max_doc=None, threshold=SIMHASH_THRESHOLD
        ),
        "ann_lsh_topk": _ann_oracle_sql(),
        "ann_cosine_topk": _ann_oracle_sql(),
        "ann_ivf_topk": _ann_oracle_sql(),
        "event_sessionize": _SESSIONIZE_SQL,
        "lgraph_edges": f"with edges as ({_LGRAPH_EDGES}) select src, dst from edges",
        "degree_table": f"""
with edges as ({_LGRAPH_EDGES}),
o as (select src as v, count(*) as out_deg from edges group by src),
i as (select dst as v, count(*) as in_deg from edges group by dst)
select coalesce(o.v, i.v) as v,
       coalesce(out_deg, 0) as out_deg,
       coalesce(in_deg, 0) as in_deg,
       coalesce(out_deg, 0) + coalesce(in_deg, 0) as deg
from o full outer join i on o.v = i.v
""",
        # bfs_order: levels = shortest out-edge distance from the highest-
        # total-degree root; rank over (level asc, deg desc, v asc);
        # unreached vertices get level max_levels+1 (relabel.bfs_order)
        "bfs_relabel": f"""
with recursive edges as materialized ({_LGRAPH_EDGES}),
o as (select src as v, count(*) as out_deg from edges group by src),
i as (select dst as v, count(*) as in_deg from edges group by dst),
deg as materialized (
  select coalesce(o.v, i.v) as v,
         coalesce(out_deg, 0) + coalesce(in_deg, 0) as deg
  from o full outer join i on o.v = i.v
),
root as (select v from deg order by deg desc, v asc limit 1),
reach(v, level) as (
  select v, 0 from root
  union
  select e.dst, reach.level + 1
  from reach join edges e on e.src = reach.v
  where reach.level < {BFS_MAX_LEVELS}
),
lvl as (select v, min(level) as level from reach group by v)
select deg.v as org_id,
       cast(row_number() over (
         order by coalesce(lvl.level, {BFS_MAX_LEVELS + 1}) asc,
                  deg.deg desc, deg.v asc) - 1 as bigint) as new_id
from deg left join lvl on lvl.v = deg.v
""",
        # hybrid_bfsdeg: degree-desc primary, BFS-level tie-break from the
        # smallest-id root (relabel.hybrid_bfsdeg_order; reference
        # src/porder.cpp:93-140)
        "hybrid_relabel": f"""
with recursive edges as materialized ({_LGRAPH_EDGES}),
o as (select src as v, count(*) as out_deg from edges group by src),
i as (select dst as v, count(*) as in_deg from edges group by dst),
deg as materialized (
  select coalesce(o.v, i.v) as v,
         coalesce(out_deg, 0) + coalesce(in_deg, 0) as deg
  from o full outer join i on o.v = i.v
),
root as (select min(v) as v from deg),
reach(v, level) as (
  select v, 0 from root
  union
  select e.dst, reach.level + 1
  from reach join edges e on e.src = reach.v
  where reach.level < {BFS_MAX_LEVELS}
),
lvl as (select v, min(level) as level from reach group by v)
select deg.v as org_id,
       cast(row_number() over (
         order by deg.deg desc,
                  coalesce(lvl.level, {BFS_MAX_LEVELS + 1}) asc,
                  deg.v asc) - 1 as bigint) as new_id
from deg left join lvl on lvl.v = deg.v
""",
        # rcm_order: same BFS-level CTE from the MIN-degree root with
        # ascending-degree tie-break, final ids REVERSED (relabel.rcm_order;
        # reference src/porder.cpp:586-631)
        "rcm_relabel": f"""
with recursive edges as materialized ({_LGRAPH_EDGES}),
o as (select src as v, count(*) as out_deg from edges group by src),
i as (select dst as v, count(*) as in_deg from edges group by dst),
deg as materialized (
  select coalesce(o.v, i.v) as v,
         coalesce(out_deg, 0) + coalesce(in_deg, 0) as deg
  from o full outer join i on o.v = i.v
),
root as (select v from deg order by deg asc, v asc limit 1),
reach(v, level) as (
  select v, 0 from root
  union
  select e.dst, reach.level + 1
  from reach join edges e on e.src = reach.v
  where reach.level < {BFS_MAX_LEVELS}
),
lvl as (select v, min(level) as level from reach group by v)
select deg.v as org_id,
       cast((select count(*) from deg) - row_number() over (
         order by coalesce(lvl.level, {BFS_MAX_LEVELS + 1}) asc,
                  deg.deg asc, deg.v asc) as bigint) as new_id
from deg left join lvl on lvl.v = deg.v
""",
        "dedup_keep_first": """
select doc_id from (
  select doc_id,
         row_number() over (partition by text order by doc_id) as rn
  from documents
) where rn = 1
""",
        "degree_relabel": f"""
with edges as ({_LGRAPH_EDGES}),
o as (select src as v, count(*) as out_deg from edges group by src),
i as (select dst as v, count(*) as in_deg from edges group by dst),
deg as (
  select coalesce(o.v, i.v) as v,
         coalesce(out_deg, 0) + coalesce(in_deg, 0) as deg
  from o full outer join i on o.v = i.v
)
select v as org_id,
       cast(row_number() over (order by deg desc, v asc) - 1 as bigint) as new_id
from deg
""",
        # reference comp_ratio (src/porder.cpp:332-341): mean of out- and
        # in-edge packing ratios = (packed_out + packed_in) / (2 e_num)
        "comp_ratio": f"""
with edges as materialized ({_LGRAPH_EDGES}),
blk as (
  select src as v, count(distinct dst // 64) as n_blocks,
         count(*) as n_edges
  from edges group by src
  union all
  select dst, count(distinct src // 64), count(*)
  from edges group by dst
)
select round(cast(sum(n_blocks) as double) / sum(n_edges), 9) as comp_ratio
from blk
""",
        "hubs": f"""
with edges as ({_LGRAPH_EDGES}),
o as (select src as v, count(*) as out_deg from edges group by src),
i as (select dst as v, count(*) as in_deg from edges group by dst),
deg as (
  select coalesce(o.v, i.v) as v,
         coalesce(out_deg, 0) + coalesce(in_deg, 0) as deg
  from o full outer join i on o.v = i.v
),
ranked as (
  select v, deg,
         cast(sum(deg) over (order by deg desc, v asc
                             rows between unbounded preceding and current row)
              as bigint) as cum_deg
  from deg
)
select v, deg, cum_deg from ranked
where cum_deg - deg < 0.3 * (select sum(deg) from deg)
""",
        "triangle_count": f"""
with edges as ({_LGRAPH_EDGES}),
{_ORIENTED}
select count(*) as triangles
from oriented e1
join oriented e2 on e2.a = e1.b
join oriented e3 on e3.a = e1.a and e3.b = e2.b
""",
        "triangles_per_edge": f"""
with edges as ({_LGRAPH_EDGES}),
{_ORIENTED}
select bc.a as src, bc.b as dst, count(*) as common
from oriented bc
join oriented ab on ab.b = bc.a
join oriented ac on ac.a = ab.a and ac.b = bc.b
group by bc.a, bc.b
""",
        "subgraph_match_triangle": f"""
with edges as materialized ({_LGRAPH_EDGES}),
und as materialized (
  select src as u, dst as w from edges union select dst, src from edges
),
verts as (select u as v from und union select w from und),
lab as materialized (select v, cast(v % {SM_LABELS} as int) as label from verts)
select count(*) as embeddings
from und e1
join und e2 on e2.u = e1.w
join und e3 on e3.u = e2.w and e3.w = e1.u
join lab l0 on l0.v = e1.u and l0.label = 0
join lab l1 on l1.v = e1.w and l1.label = 1
join lab l2 on l2.v = e2.w and l2.label = 2
where e1.u <> e2.w
""",
        "pagerank": _pagerank_oracle_sql(),
        "pagerank_kernel": _pagerank_oracle_sql(),
        "personalized_pagerank": _ppr_oracle_sql(),
        "hits": _hits_oracle_sql(),
        "connected_components": _CC_ORACLE_SQL,
        "connected_components_minlabel": _CC_ORACLE_SQL,
        "connected_components_auto": _CC_ORACLE_SQL,
        "label_propagation": _lpa_oracle_sql(),
    }


# --------------------------------------------------------------------------
# flagship entry
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: triangle count (Arrow-kernel form) + PageRank top ranks of
    the dense derived graph at sf0.001."""
    return _q_pagerank(spark, SF_TINY).orderBy(F.col("rank_ppm").desc(), "v").limit(100)
