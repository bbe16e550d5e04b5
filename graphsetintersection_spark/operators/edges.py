"""Edge-table canonicalization and degree primitives.

The reference's canonical IR is a directed int edge list
(``src/util.hpp:61-62``) that every algorithm first sorts, deduplicates and
orients (``src/bitpack_triangle_count.cpp:24-37``,
``src/org_maximal_clique.cpp:17-30``). Here the IR is
``DataFrame[src: bigint, dst: bigint]`` and the same normalizations are
Catalyst built-ins — distinct, filter, union — which keep whole-stage
codegen and pushdown intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_nulls_and_loops(edges: DataFrame) -> DataFrame:
    """Cast to long, drop null endpoints and self-loops (reference:
    src/org_maximal_clique.cpp:20) — ``canonicalize`` without its
    distinct, for callers that deduplicate on their own partitioning."""
    return (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
    )


def canonicalize(edges: DataFrame) -> DataFrame:
    """Drop nulls + self-loops, deduplicate. Reference: sort+unique ingest
    (src/bitpack_triangle_count.cpp:34-37) and self-loop drop
    (src/org_maximal_clique.cpp:20)."""
    return drop_nulls_and_loops(edges).distinct()


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: both directions present (reference requires doubled
    edges for undirected graphs, README.md:46-56)."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.select("src", "dst").union(rev).distinct()


def orient(edges: DataFrame) -> DataFrame:
    """Canonical undirected orientation: one row per undirected edge with
    ``src < dst`` (reference keeps u<v edges as the triangle iteration list,
    src/bitpack_triangle_count.cpp:24-28)."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex out/in/total degree over a directed edge table
    (reference: src/porder.cpp:61-64).

    ONE union + one map-side-combined hash aggregate (each endpoint emits
    a (v, is_out, is_in) vote row): a single Exchange on v. The previous
    shape — one aggregate per direction plus a full-outer join — paid two
    Exchanges and a join for the same result (guide §2.4); vertices
    missing from a direction fall out of the sums as zero, exactly the
    coalesce semantics the join encoded."""
    both = edges.select(
        F.col("src").alias("v"),
        F.lit(1).alias("_o"),
        F.lit(0).alias("_i"),
    ).unionAll(
        edges.select(F.col("dst").alias("v"), F.lit(0), F.lit(1))
    )
    return both.groupBy("v").agg(
        F.sum("_o").cast("long").alias("out_deg"),
        F.sum("_i").cast("long").alias("in_deg"),
    ).withColumn("deg", F.col("out_deg") + F.col("in_deg"))


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing in the edge table."""
    return (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
