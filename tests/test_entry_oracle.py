"""Local mirror of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` in DuckDB on the same parquet, then compare row count,
column names, and order-insensitive values — exactly what the driver's
CORRECTNESS check does."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_TINY, forced_route

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"create view {t} as select * from '{p}'")
    return con


def normalize(rows, colnames):
    """Sort columns by name, then rows; stringify values like a hash would."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        # type-preserving: an int and a float with equal value must NOT
        # collapse (the driver's value-hash distinguishes them — a DuckDB
        # HUGEINT read back as float64 hash-fails against a Spark bigint)
        if isinstance(v, bool):
            return f"bool:{v}"
        if isinstance(v, float):
            if math.isnan(v):
                return "float:nan"
            return f"float:{v:.9g}"
        if isinstance(v, int):
            return f"int:{v}"
        return f"{type(v).__name__}:{v}"

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        # rows-only contract: the query must execute and produce rows
        assert len(spark_rows) > 0, f"{name}: rows-only query returned 0 rows"
        return

    con = duck_connection()
    res = con.execute(oracles[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: schema mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"
    ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches; first: "
        f"spark={ns[mismatches[0]]} duck={nd[mismatches[0]]}"
    )


def test_pagerank_kernel_gate_takes_the_shuffle_layout(spark):
    """The ``pagerank_kernel`` gate lowers the layout cutover for its call,
    so ``ships_state`` picks the shuffle layout, and restores it after."""
    from graphsetintersection_spark.operators import iterative

    cutover = iterative.BROADCAST_STATE_MAX_VERTICES
    with forced_route() as route:  # forces nothing; records the decision
        entry_mod.queries()["pagerank_kernel"](spark, SF_TINY).collect()
    assert route.shuffled
    assert iterative.BROADCAST_STATE_MAX_VERTICES == cutover


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["v", "rank_ppm"]
