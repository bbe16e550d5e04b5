"""sm/mc file surface — the reference binaries' query/label/answer I/O.

Formats (all whitespace-token streams, parsed like the reference's fscanf):

- **query file** (``src/sm.cpp:15-43``): repeated blocks
  ``v_num e_num  l_0 … l_{v-1}  u_0 v_0 … u_{e-1} v_{e-1}``; edges are
  canonicalized u<v on read. Query files are tiny (a handful of
  ≤10-vertex query graphs) — parsed on the driver; they are query PLANS,
  not data.
- **label file** (``src/sm.cpp:45-58``): one ``u l`` pair per line,
  per-vertex labels. Potentially V rows → loaded as a DataFrame.
- **sm answer file** (``src/sm.cpp:60-77``): one ``ans{i}={count}`` line
  per query (the reference comments out the full embedding dump).
- **mc answer file** (``src/org_maximal_clique.cpp:372-385``): the clique
  pool dumped as ``v v v `` lines (a ``-1`` sentinel in the pool renders
  as the line break) — one maximal clique per line.
- **generators** (``python/gen_labels.py:4-14``,
  ``python/gen_queries.py:5-28``): random labels / query vertices. Here
  they are DETERMINISTIC (seeded xxhash64 arithmetic) and distributed —
  a reproducibility upgrade over the reference's unseeded random.
- **permutation rewrites** (``python/gen_labels.py:16-35``,
  ``python/gen_queries.py:30-44``): rewrite label/query ids through an
  (org_id, new_id) order — here broadcast-joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.matching import LabelSubgraph


# ---------------------------------------------------------------------------
# query files (driver-side: tiny)
# ---------------------------------------------------------------------------

def parse_queries_text(text: str) -> list[LabelSubgraph]:
    """Parse the reference's sm query format from a token stream
    (src/sm.cpp:15-43 semantics, including u>v swap)."""
    toks = text.split()
    queries: list[LabelSubgraph] = []
    i = 0
    while i < len(toks):
        v_num, e_num = int(toks[i]), int(toks[i + 1])
        i += 2
        labels = [int(t) for t in toks[i:i + v_num]]
        i += v_num
        edges = []
        for _ in range(e_num):
            u, v = int(toks[i]), int(toks[i + 1])
            i += 2
            if u > v:
                u, v = v, u
            edges.append((u, v))
        queries.append(LabelSubgraph(v_num, edges, labels))
    return queries


def load_queries(path: str) -> list[LabelSubgraph]:
    with open(path) as f:
        return parse_queries_text(f.read())


def save_queries(queries: list[LabelSubgraph], path: str) -> None:
    """Inverse of load_queries (reference format writer)."""
    with open(path, "w") as f:
        for q in queries:
            f.write(f"{q.v_num} {len(q.edges)}\n")
            f.write(" ".join(str(l) for l in q.labels) + "\n")
            for u, v in q.edges:
                f.write(f"{u} {v}\n")


# ---------------------------------------------------------------------------
# label files (distributed)
# ---------------------------------------------------------------------------

def load_labels(spark: SparkSession, path: str) -> DataFrame:
    """(v, label) from the reference's ``u l`` text lines
    (src/sm.cpp:45-58)."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        lines.where(F.trim(F.col("value")) != "")
        .where(~F.col("value").startswith("#"))
        .select(
            parts.getItem(0).cast("long").alias("v"),
            parts.getItem(1).cast("int").alias("label"),
        )
    )


def save_labels(labels: DataFrame, path: str) -> None:
    labels.select(
        F.concat_ws(" ", F.col("v"), F.col("label")).alias("value")
    ).write.mode("overwrite").text(path)


def gen_labels(edges: DataFrame, num_labels: int = 100, seed: int = 1) -> DataFrame:
    """Deterministic per-vertex labels over the vertex universe
    0..max_id (reference python/gen_labels.py:4-14 — random there,
    seeded-hash here so runs are reproducible)."""
    spark = edges.sparkSession
    max_id = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("m")
    ).collect()[0]["m"]
    verts = spark.range(0, int(max_id) + 1).select(F.col("id").alias("v"))
    return verts.select(
        "v",
        F.pmod(F.xxhash64(F.col("v"), F.lit(seed)), F.lit(num_labels))
        .cast("int")
        .alias("label"),
    )


def trans_newid_labels(labels: DataFrame, order: DataFrame) -> DataFrame:
    """Rewrite (v, label) through an (org_id, new_id) permutation
    (python/gen_labels.py:16-35). Permutations are 2 longs/vertex —
    broadcastable far beyond any label table's width; Catalyst falls back
    to SMJ automatically past the threshold."""
    return (
        labels.join(order.withColumnRenamed("org_id", "v"), "v")
        .select(F.col("new_id").alias("v"), "label")
    )


# ---------------------------------------------------------------------------
# answer files
# ---------------------------------------------------------------------------

def save_sm_answers(counts: list[int], path: str) -> None:
    """Per-query embedding counts, ``ans{i}={n}`` lines
    (src/sm.cpp:60-77)."""
    with open(path, "w") as f:
        for i, n in enumerate(counts):
            f.write(f"ans{i}={n}\n")


def load_sm_answers(path: str) -> list[int]:
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(int(line.split("=", 1)[1]))
    return out


def save_mc_answers(cliques: DataFrame, path: str) -> None:
    """Maximal-clique dump: one space-separated member line per clique
    (the reference's -1-delimited pool dump renders exactly this,
    src/org_maximal_clique.cpp:372-385). ``cliques`` has a ``clique``
    array column. Distributed text write — no driver collect."""
    cliques.select(
        F.concat(F.concat_ws(" ", F.col("clique")), F.lit(" ")).alias("value")
    ).write.mode("overwrite").text(path)


def load_mc_answers(spark: SparkSession, path: str) -> DataFrame:
    """Read a clique dump back into a (clique: array<long>) frame."""
    lines = spark.read.text(path)
    return (
        lines.where(F.trim(F.col("value")) != "")
        .select(
            F.transform(
                F.split(F.trim(F.col("value")), r"\s+"),
                lambda x: x.cast("long"),
            ).alias("clique")
        )
    )


# ---------------------------------------------------------------------------
# bfs / shortest-distance query generators + newid rewrites
# ---------------------------------------------------------------------------

def gen_bfs_queries(edges: DataFrame, q_num: int = 1000, seed: int = 1) -> DataFrame:
    """q_num deterministic start vertices in [0, max_id]
    (python/gen_queries.py:5-13)."""
    spark = edges.sparkSession
    max_id = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("m")
    ).collect()[0]["m"]
    return spark.range(0, q_num).select(
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(int(max_id) + 1))
        .alias("v")
    )


def gen_shortest_distance_queries(
    edges: DataFrame, q_num: int = 50_000, seed: int = 1
) -> DataFrame:
    """q_num deterministic (u, v) pairs (python/gen_queries.py:15-27)."""
    spark = edges.sparkSession
    max_id = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("m")
    ).collect()[0]["m"]
    m = F.lit(int(max_id) + 1)
    base = spark.range(0, q_num)
    return base.select(
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), m).alias("u"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), m).alias("v"),
    )


def trans_newid_query_ids(
    queries: DataFrame, order: DataFrame, id_cols: list[str]
) -> DataFrame:
    """Rewrite every id column of a query table through the permutation
    (python/gen_queries.py:30-44)."""
    out = queries
    perm = F.broadcast(order)
    for c in id_cols:
        out = (
            out.join(perm.withColumnRenamed("org_id", c), c)
            .drop(c)
            .withColumnRenamed("new_id", c)
        )
    return out.select(*queries.columns)


# ---------------------------------------------------------------------------
# batch sm runner (the reference sm main loop, src/sm.cpp:89-104)
# ---------------------------------------------------------------------------

def run_sm_batch(
    edges: DataFrame,
    labels: DataFrame,
    queries: list[LabelSubgraph],
    answers_path: str | None = None,
) -> list[int]:
    """Match every query, optionally dumping the answer file — the whole
    reference sm binary as one call."""
    from graphsetintersection_spark.operators.matching import subgraph_match_count

    counts = [subgraph_match_count(edges, labels, q) for q in queries]
    if answers_path is not None:
        os.makedirs(os.path.dirname(answers_path) or ".", exist_ok=True)
        save_sm_answers(counts, answers_path)
    return counts
