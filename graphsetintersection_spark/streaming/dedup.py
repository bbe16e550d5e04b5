"""Streaming incremental near-duplicate detection.

The reference is batch-only (SURVEY.md §2.6); a continuously crawled
corpus needs the incremental form: every newly crawled document is checked
against the accumulated HISTORICAL corpus without rescanning it. The
Spark-first shape is MinHash-LSH split across the stream/static boundary:

- the historical corpus is distilled ONCE into a band-bucket index
  (``minhash_band_index`` — a plain DataFrame; persist it or write it to
  parquet and let the stream read it back);
- each micro-batch computes signatures with the SAME fused Arrow kernel
  as the batch path (functions.dedup.minhash_signatures) and band rows
  with the SAME banding definition (functions.dedup.banded_rows), then a
  stream-STATIC equi-join on (band, bucket) surfaces candidates — no
  stream-stream join, no streaming state, append output mode;
- the estimated Jaccard (matching signature slots / num_perm) filters
  candidates JVM-side via ``zip_with`` — no second look at either text.

At 100 TB the index side is the big object and it is never shuffled per
batch: the (band, bucket) join is a plain equi-join against a static
frame, so AQE/broadcast decides per micro-batch, and bucketed-writing the
index on (band, bucket) makes the join co-located. Stream-side state is
zero (the emitted pair stream is idempotent per doc because a doc lives
in exactly one micro-batch).

Maintenance = periodic compaction, batch-side: append accepted documents'
band rows to the index location and restart the query (exactly-once via
the streaming checkpoint). A Structured Streaming query re-plans its
static side per RESTART, not per micro-batch — documented operational
contract, mirroring the engine's snapshot-compaction story for the edge
log (streaming/ingest.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.functions.dedup import (
    banded_rows,
    check_lsh_args,
    minhash_estimate,
    minhash_signatures,
    verified_pairs,
)


def minhash_band_index(
    docs: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The historical corpus's LSH index: (doc_id, sig, band, bucket), one
    row per document per band. The signature rides on every band row so
    the stream's estimated-Jaccard check needs no second join back to a
    signature table — num_perm longs × bands per document, the classic
    space-for-a-join trade (at num_perm=128/bands=32 that is ~32 KB per
    document of index, linear in corpus size, shardable by bucket)."""
    check_lsh_args(n=n, num_perm=num_perm, bands=bands)
    sigs = minhash_signatures(docs, num_perm, n, id_col, text_col)
    return banded_rows(sigs, num_perm, bands, carry=("sig",)).select(
        F.col("doc_id").alias("index_doc_id"),
        F.col("sig").alias("index_sig"),
        "band",
        "bucket",
    )


def write_band_index(
    index: DataFrame, table: str, buckets: int = 256
) -> None:
    """Persist a ``minhash_band_index`` frame as a parquet table BUCKETED
    on the join key (band, bucket). This is the 100-TB shape: the index
    is the big side of every micro-batch's candidate join, and a bucketed
    layout means its scan arrives pre-partitioned — Spark plans NO
    exchange above the index side (only the small micro-batch shuffles to
    match), pytest plan-pinned. Re-bucketing happens once at compaction
    time (append accepted docs' band rows, rewrite) instead of once per
    micro-batch."""
    (
        index.write.bucketBy(buckets, "band", "bucket")
        .sortBy("band", "bucket")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(table)
    )


def read_band_index(spark, table: str) -> DataFrame:
    """The bucketed index back as a DataFrame (bucket metadata rides with
    the catalog table, which is what lets the join skip the exchange)."""
    return spark.table(table)


def _validate_index(index: DataFrame, num_perm: int, bands: int) -> None:
    """Fail fast on an index built with different LSH parameters than the
    query side. A num_perm mismatch pads ``zip_with`` with nulls and
    deflates every Jaccard estimate; a bands mismatch hashes different
    signature slices into the buckets, so the (band, bucket) join quietly
    matches almost nothing — the stream would report no duplicates for
    weeks with zero error signal. One column-pruned aggregate over the
    static index at query-build time (every document emits every band id,
    so max(band) == bands-1 whenever the index is non-empty)."""
    row = index.agg(
        F.min(F.size("index_sig")).alias("lo"),
        F.max(F.size("index_sig")).alias("hi"),
        F.max("band").alias("max_band"),
    ).collect()[0]
    if row["lo"] is None:
        return  # empty index — joins to nothing, legitimately
    if row["lo"] != num_perm or row["hi"] != num_perm:
        raise ValueError(
            f"index signatures carry {row['lo']}..{row['hi']} slots but "
            f"the query side is configured with num_perm={num_perm}; "
            "rebuild the index or match the parameters (a mismatch "
            "silently deflates every Jaccard estimate)"
        )
    if row["max_band"] != bands - 1:
        raise ValueError(
            f"index carries bands 0..{row['max_band']} but the query "
            f"side is configured with bands={bands}; bucket hashes would "
            "not line up and the join would silently miss duplicates"
        )


def stream_minhash_neardup(
    docs_stream: DataFrame,
    index: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_horizon: str = "10 minutes",
    validate: bool = True,
) -> DataFrame:
    """Streaming (doc_id, dup_of, est_jaccard) near-duplicate matches of
    each incoming document against a ``minhash_band_index`` frame.

    est_jaccard is the MinHash estimate (equal slots / num_perm) — the
    unbiased Jaccard estimator, computed entirely JVM-side with
    ``zip_with`` over the two signatures. A band match only gates WHICH
    pairs get estimated; the threshold filter runs on the estimate, so
    false bucket collisions (xxhash64 of different slices colliding) are
    filtered, not emitted. Multi-band matches of the same pair collapse
    to one row — exact to collapse because the estimate depends only on
    the two signatures, so every band row of a pair carries the same
    value. On a stream the collapse is ``dropDuplicatesWithinWatermark``
    keyed on a processing-time watermark (``state_horizon``): a document
    lives in exactly one micro-batch, so its duplicate band rows are
    always inside the horizon, and dedup state ages out instead of
    growing for the query's lifetime (a bare ``dropDuplicates`` would
    keep every pair ever emitted — the unbounded-state hazard the
    sessionizer's compaction exists to avoid). On a batch frame (the
    parity/backfill twin) it is a plain ``dropDuplicates``.

    Semantics equal the batch path run per micro-batch: for any prefix of
    the stream, collected matches == the batch band-join of those
    documents against the same index (pytest-pinned batch parity).

    ``validate`` (default True) cross-checks the index against
    num_perm/bands at query-build time (one column-pruned aggregate over
    the static side — see ``_validate_index``); pass False to skip when
    the same process built the index this session."""
    check_lsh_args(n=n, threshold=threshold, num_perm=num_perm, bands=bands)
    if validate:
        _validate_index(index, num_perm, bands)
    sigs = minhash_signatures(docs_stream, num_perm, n, id_col, text_col)
    banded = banded_rows(sigs, num_perm, bands, carry=("sig",))
    matches = (
        banded.join(index, ["band", "bucket"])
        .where(F.col("doc_id") != F.col("index_doc_id"))
        .withColumn("est_jaccard", minhash_estimate("sig", "index_sig", num_perm))
        .where(F.col("est_jaccard") >= threshold)
        .select(
            "doc_id",
            F.col("index_doc_id").alias("dup_of"),
            "est_jaccard",
        )
    )
    if matches.isStreaming:
        return (
            matches.withColumn("_seen_ts", F.current_timestamp())
            .withWatermark("_seen_ts", state_horizon)
            .dropDuplicatesWithinWatermark(["doc_id", "dup_of"])
            .drop("_seen_ts")
        )
    return matches.dropDuplicates(["doc_id", "dup_of"])


def batch_minhash_neardup(
    docs: DataFrame,
    index: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact_verify_docs: DataFrame | None = None,
) -> DataFrame:
    """The batch twin of ``stream_minhash_neardup`` — the SAME plan over a
    batch frame (the function is identical because every operator in it
    is stream/batch agnostic). Exists as the parity oracle for the
    streaming tests and as the backfill path (re-check an old shard
    against the index).

    ``exact_verify_docs`` (batch-only — the verify needs BOTH sides'
    texts, which a stream no longer has for the index side): a frame
    holding every candidate document's text; candidates then go through
    the one candidate → verify step (``functions.dedup.verified_pairs``)
    and carry EXACT n-gram Jaccard instead of the MinHash estimate,
    thresholded on that.
    In the high-recall regime (bands == num_perm) a pair is a candidate
    if ANY signature slot agrees, so the output equals the exact
    cross-set Jaccard pair set up to a (1-j)^num_perm per-pair miss
    probability — negligible at the gate parameters (num_perm=256,
    j ≥ 0.2: < 1e-24), which is why the gate's brute-force oracle
    applies, but a probabilistic bound rather than a set-equality proof
    (the correctness gate's regime; the estimate path is the
    production/streaming regime)."""
    check_lsh_args(n=n, threshold=threshold, num_perm=num_perm, bands=bands)
    if exact_verify_docs is None:
        return stream_minhash_neardup(
            docs, index, num_perm, bands, n, threshold, id_col, text_col
        )
    cand = stream_minhash_neardup(
        docs, index, num_perm, bands, n, 0.0, id_col, text_col
    ).select(
        F.col("doc_id").alias("id_a"), F.col("dup_of").alias("id_b")
    )
    return verified_pairs(
        exact_verify_docs, cand, n, threshold, id_col, text_col
    ).select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("dup_of"),
        "jaccard",
    )


def start_neardup_sink(
    matches: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Exactly-once parquet append of the match stream (same contract as
    ingest.start_edge_sink): restart with the same checkpoint dir and no
    micro-batch is reprocessed."""
    return (
        matches.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
