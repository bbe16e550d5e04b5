"""Iteration checkpointing with per-partition lineage + metrics, and the
round driver the checkpointable engines run on.

The north rule requires every iterative algorithm (PageRank, connected
components, label propagation) to be resumable mid-algorithm, with each
iteration persisted as a snapshot carrying per-partition lineage and
metrics. The reference has no notion of this (single-process, in-memory);
in Spark it solves two problems at once:

1. **Plan-lineage truncation** — an iterative DataFrame job otherwise grows
   an unbounded logical plan; writing + reading back each iteration resets
   it (the standard Spark idiom for iterative algorithms).
2. **Resumability** — a killed run restarts from the last COMMITTED
   iteration; commit is atomic via manifest-line-last ordering (the data
   snapshot is fully written before its manifest line appears).

``run_rounds`` is the one loop of every iterative engine: PageRank/PPR,
min-label CC, label propagation, star contraction, HITS (one round per
half-step) and the BFS levels of the BFS orderings. The engines supply a
lazy round body and an optional stop test, and the driver restores,
materializes or commits every round, releases the superseded leaf and
a staged round, and counts rounds; ``check_round_args``
rejects a misconfigured run before its first job. The reference's shape
is the same: build the index once, then one plain loop over it
(src/tc.cpp:28-29).

Layout (``storage="parquet"``, the sandbox default — same
snapshot-per-iteration semantics as Iceberg; ``storage="iceberg"`` routes
through ``df.writeTo(...).using("iceberg").createOrReplace()`` against a
configured Iceberg catalog, for clusters that carry the runtime jar):

    <base>/<run_id>/iter=NNNNN/         parquet snapshot
    <base>/<run_id>/MANIFEST.jsonl      one JSON line per committed iter:
        {run_id, algorithm, iteration, parent_iteration, params,
         metrics: {...round metrics[, converged]},
         partitions: [{partition_id, rows}, ...]}
    A line commits once its newline is written: an unterminated last line
    is a commit cut short by a crash; it is ignored, and the next commit
    cuts it off.

With Iceberg, snapshots live at ``<table_prefix>_iter_NNNNN`` and Iceberg
keeps its own table-level manifests; the run-level MANIFEST.jsonl (lineage
+ metrics + resume pointer) is written either way.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    def __init__(
        self,
        base_dir: str,
        run_id: str,
        algorithm: str = "",
        params: dict[str, Any] | None = None,
        storage: str = "parquet",
        table_prefix: str | None = None,
    ):
        if storage not in ("parquet", "iceberg"):
            raise ValueError(f"unknown checkpoint storage {storage!r}")
        self.dir = os.path.join(base_dir, run_id)
        self.run_id = run_id
        self.algorithm = algorithm
        self.params = params or {}
        self.storage = storage
        # iceberg snapshots are tables, not paths: <prefix>_iter_NNNNN
        self.table_prefix = table_prefix or f"gsi_ckpt_{run_id}"
        self.manifest_path = os.path.join(self.dir, "MANIFEST.jsonl")
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def committed(self) -> list[dict]:
        """The manifest entries, in commit order. A crash during a
        manifest append leaves an unterminated final line: that iteration
        never committed and is skipped. A bad line anywhere else is
        corruption and raises."""
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path, "rb") as f:
            lines = f.read().split(b"\n")
        lines.pop()  # b"", or the unterminated line of a torn append
        return [json.loads(line) for line in lines if line.strip()]

    def latest_iteration(self) -> int | None:
        entries = self.committed()
        return max((e["iteration"] for e in entries), default=None)

    def _snapshot_path(self, iteration: int) -> str:
        return os.path.join(self.dir, f"iter={iteration:05d}")

    def _snapshot_table(self, iteration: int) -> str:
        return f"{self.table_prefix}_iter_{iteration:05d}"

    def _write_snapshot(self, df: DataFrame, iteration: int) -> DataFrame:
        """Write the snapshot and return it read back (fresh lineage)."""
        spark = df.sparkSession
        if self.storage == "iceberg":
            table = self._snapshot_table(iteration)
            df.writeTo(table).using("iceberg").createOrReplace()
            return spark.read.table(table)
        path = self._snapshot_path(iteration)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _read_snapshot(self, spark: SparkSession, iteration: int) -> DataFrame:
        if self.storage == "iceberg":
            return spark.read.table(self._snapshot_table(iteration))
        return spark.read.parquet(self._snapshot_path(iteration))

    # -- commit / restore --------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        iteration: int,
        metrics: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Write the iteration snapshot, record per-partition lineage +
        metrics, append the manifest line (commit point), and return the
        read-back DataFrame (fresh lineage — plan growth truncated)."""
        back = self._write_snapshot(df, iteration)
        entry = {
            "run_id": self.run_id,
            "algorithm": self.algorithm,
            "iteration": iteration,
            "parent_iteration": iteration - 1 if iteration > 0 else None,
            "params": self.params,
            "metrics": metrics or {},
            "partitions": self._partition_rows(back, iteration),
        }
        with open(self.manifest_path, "a+b") as f:
            # drop a torn final line (crash mid-append) so this entry
            # starts a line of its own
            f.seek(0)
            data = f.read()
            if data and not data.endswith(b"\n"):
                f.truncate(data.rfind(b"\n") + 1)
            f.write(json.dumps(entry).encode() + b"\n")
        return back

    def _partition_rows(self, back: DataFrame, iteration: int) -> list[dict]:
        """Rows per written partition. Parquet snapshots read them from the
        files' footers on the driver (part-NNNNN is the writing task's
        partition), which runs no Spark job; Iceberg tables are counted."""
        if self.storage == "iceberg":
            rows = (
                back.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count("*").alias("rows"))
                .collect()
            )
            parts = [(r["partition_id"], r["rows"]) for r in rows]
        else:
            import pyarrow.parquet as pq

            path = self._snapshot_path(iteration)
            counts: dict[int, int] = {}  # a task may split its output
            for name in os.listdir(path):
                if name.startswith("part-") and name.endswith(".parquet"):
                    meta = pq.ParquetFile(os.path.join(path, name)).metadata
                    pid = int(name.split("-")[1])
                    counts[pid] = counts.get(pid, 0) + meta.num_rows
            parts = counts.items()
        return [{"partition_id": p, "rows": r} for p, r in sorted(parts)]

    def restore(self, spark: SparkSession) -> tuple[int, DataFrame] | None:
        """(iteration, snapshot) of the last committed iteration, or None."""
        it = self.latest_iteration()
        if it is None:
            return None
        return it, self._read_snapshot(spark, it)

    def metrics_history(self) -> list[dict[str, Any]]:
        return [
            {"iteration": e["iteration"], **e["metrics"]} for e in self.committed()
        ]


def check_round_args(
    op: str, rounds_name: str, rounds, tol=None, minimum: int = 0
) -> None:
    """Reject a misconfigured iterative run before its first Spark job: the
    round count must be an int >= ``minimum`` and ``tol`` None or >= 0.
    Each test is written so that NaN (false under every comparison) fails
    it."""
    if not isinstance(rounds, int) or rounds < minimum:
        name, value, want = rounds_name, rounds, f"an int >= {minimum}"
    elif tol is not None and not tol >= 0.0:
        name, value, want = "tol", tol, "None or >= 0"
    else:
        return
    raise ValueError(f"{op}: {name} must be {want}, got {value!r}")


Step = Callable[[DataFrame, int], DataFrame]
StopTest = Callable[[DataFrame, DataFrame], tuple[bool, dict[str, Any]]]


def run_rounds(
    state: DataFrame,
    step: Step,
    max_rounds: int,
    stop: StopTest | None = None,
    checkpointer: CheckpointManager | None = None,
    record: dict[str, Any] | None = None,
) -> tuple[DataFrame, int, bool, list[dict[str, Any]]]:
    """Run ``step`` from ``state`` until ``stop`` says done or the state
    has been through ``max_rounds`` rounds; returns (state, rounds,
    converged, the metrics of each round run by this call).

    ``step(state, round)`` builds the next state lazily. ``stop(prev,
    new)`` returns
    (done, metrics), and the round records both, done as ``converged``;
    ``record`` holds metrics every round records.

    With ``checkpointer`` the run resumes from the last committed round,
    so ``rounds`` counts the restored ones too; a run restored from a
    converged round returns it as is. Each round is then committed: a
    round the stop test also reads is staged in a transient cache first,
    so it runs once for both, while a round only the commit reads is
    written straight through (caching it measured one job more per
    commit). Without one each round is an eager ``localCheckpoint``.
    Either way the new state is a leaf, and the leaf it supersedes is
    released once the next one exists. The initial state is the
    caller's and is never released."""
    rounds, converged = 0, False
    if checkpointer is not None:
        restored = checkpointer.restore(state.sparkSession)
        if restored is not None:
            last, state = restored
            rounds = last + 1
            entry = max(checkpointer.committed(), key=lambda e: e["iteration"])
            converged = bool(entry["metrics"].get("converged"))
    history: list[dict[str, Any]] = []
    leaf: DataFrame | None = None  # this call's latest materialized round
    while not converged and rounds < max_rounds:
        staged: DataFrame | None = None
        try:
            new = step(state, rounds)
            if checkpointer is None:
                new = new.localCheckpoint(eager=True)
            elif stop is not None:
                staged = new = new.persist()
            metrics = dict(record or {})
            if stop is not None:
                converged, found = stop(state, new)
                metrics.update(found, converged=converged)
            if checkpointer is not None:
                new = checkpointer.commit(new, rounds, metrics)
        finally:
            if staged is not None:
                staged.unpersist()
        if leaf is not None:
            leaf.unpersist()  # a no-op on a committed round's read-back
        state = leaf = new
        history.append(metrics)
        rounds += 1
    return state, rounds, converged, history
