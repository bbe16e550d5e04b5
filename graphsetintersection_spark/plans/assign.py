"""Distributed global order statistics — two-phase id assignment.

Replaces ``row_number() over (order by ...)`` — which Spark executes as a
single-reducer global window (``WindowExec: No Partition Defined``) — with
the zipWithIndex recipe expressed in DataFrames:

1. range-partition by the order key (Spark's range partitioner samples
   boundaries, so partition *i* holds keys strictly before partition
   *i+1*'s);
2. one tiny job: per-partition row count (and optionally a column sum) —
   P scalar rows collected to the driver;
3. prefix-sum those P counts into per-partition offsets on the driver,
   broadcast-join them back, and rank *within* each partition only
   (``row_number() over (partition by _pid order by ...)``).

Semantics are identical to the global window for any total order;
parallelism is P instead of 1. This is the scalable form of the
reference's permutation assignment (src/porder.cpp:445-495 writes
``org2newid[order[i]] = i`` sequentially; here the same rank is computed
with one range shuffle + a P-row driver prefix sum).

Small inputs take a FAST PATH instead: below ``SMALL_INPUT_ROWS`` a single
constant-partition window (one reducer sorting ≤10^6 rows) is strictly
cheaper than the range shuffle + stats job + broadcast join — the engine
should not pay scale-insurance premiums on small frames.

Either way the RESULT is materialized eagerly (localCheckpoint) before
returning and every transient cache is released inside this function:
the returned frame is self-contained (no caller-visible persist to leak,
no lineage into range-boundary sampling — which is not replay-stable).
On a cluster, callers that need executor-loss durability for a long
downstream pipeline should route the result through plans.checkpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# below this row count the single-window fast path wins over the two-phase
# range-shuffle machinery (measured at bench scale: the two-phase path
# doubled the sf0.1 ingest time for zero benefit at 10^4-10^6 rows)
SMALL_INPUT_ROWS = 1_000_000


def global_order_stats(
    df: DataFrame,
    order_exprs: list[Column],
    *,
    rank_col: str | None = None,
    cumsum_of: str | None = None,
    cumsum_col: str | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """Append global-order statistics to ``df`` without a global window.

    ``order_exprs`` must define a TOTAL order (include a tie-break key);
    ``rank_col`` gets the 0-based dense position in that order;
    ``cumsum_col`` gets the inclusive running sum of ``cumsum_of``
    (integer semantics, emitted as bigint).

    ``approx_rows`` lets callers that already know the input size skip the
    sizing count. When omitted, the input is persisted for the DURATION OF
    THIS CALL before counting, so the sizing count and the ranking job
    share one computation of the input — previously the count was a full
    extra pass over an unpersisted input (ADVICE r3 #5), and the
    two-phase path's range-boundary sampling silently recomputed it a
    third time. Inputs the caller already cached are counted from their
    cache and never re-persisted (re-persisting the same plan would let
    the finally-unpersist drop the CALLER's cache). The returned frame is
    eagerly materialized and self-contained (see module docstring).
    """
    if rank_col is None and cumsum_col is None:
        raise ValueError("request at least one of rank_col / cumsum_col")
    if (cumsum_col is None) != (cumsum_of is None):
        raise ValueError("cumsum_col and cumsum_of go together")

    cached_here = False
    try:
        if approx_rows is not None:
            n_rows = approx_rows
        elif df.is_cached:
            n_rows = df.count()
        else:
            df = df.persist()
            cached_here = True
            n_rows = df.count()
        return _ranked(df, order_exprs, rank_col, cumsum_of, cumsum_col, n_rows)
    finally:
        if cached_here:
            df.unpersist()


def _ranked(df, order_exprs, rank_col, cumsum_of, cumsum_col, n_rows):
    spark = df.sparkSession
    if n_rows <= SMALL_INPUT_ROWS:
        # fast path: one reducer sorts the whole (small) frame. The window
        # partitions on a materialized spark_partition_id column (constant
        # 0 after repartition(1), but NOT constant-foldable — a literal
        # partition key would be folded away and re-trigger the
        # `WindowExec: No Partition Defined` single-reducer warning path).
        parted = df.repartition(1).withColumn("_pid", F.spark_partition_id())
        w = Window.partitionBy("_pid").orderBy(*order_exprs)
        out = parted
        if rank_col is not None:
            out = out.withColumn(
                rank_col, (F.row_number().over(w) - 1).cast("long")
            )
        if cumsum_col is not None:
            ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            out = out.withColumn(
                cumsum_col, F.sum(cumsum_of).over(ws).cast("long")
            )
        return out.drop("_pid").localCheckpoint(eager=True)

    p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # persisted only WITHIN this call: the partition ids observed by the
    # count job and by the final ranking job must be the same physical
    # blocks (range-boundary sampling after a shuffle is not replay-stable)
    parted = (
        df.repartitionByRange(p, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        aggs = [F.count(F.lit(1)).alias("_n")]
        if cumsum_of is not None:
            aggs.append(F.sum(cumsum_of).cast("long").alias("_s"))
        stats = {r["_pid"]: r for r in parted.groupBy("_pid").agg(*aggs).collect()}

        rows: list[tuple[int, int, int]] = []
        off_n = off_s = 0
        for pid in sorted(stats):
            rows.append((pid, off_n, off_s))
            off_n += stats[pid]["_n"]
            if cumsum_of is not None:
                off_s += int(stats[pid]["_s"] or 0)
        offsets = spark.createDataFrame(rows, "_pid int, _off_n long, _off_s long")

        out = parted.join(F.broadcast(offsets), "_pid")
        wp = Window.partitionBy("_pid").orderBy(*order_exprs)
        if rank_col is not None:
            out = out.withColumn(
                rank_col, (F.row_number().over(wp) + F.col("_off_n") - 1).cast("long")
            )
        if cumsum_col is not None:
            wps = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            out = out.withColumn(
                cumsum_col,
                (F.sum(cumsum_of).over(wps).cast("long") + F.col("_off_s")).cast("long"),
            )
        # materialize the result while the pid blocks are still cached, then
        # release them — no caller-lifetime leak, no replay of the sampling
        return out.drop("_pid", "_off_n", "_off_s").localCheckpoint(eager=True)
    finally:
        parted.unpersist()
