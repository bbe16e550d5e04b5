"""The relational MinHash form: the bit-identity oracle of the fused
signature kernel (``functions.dedup.minhash_signatures``).

The shingle hashes are exploded to one row per shingle, and the P
per-permutation minima run as P independent ``min`` aggregate columns in
one groupBy — map-side combinable with a fixed P-long buffer per doc (the
plan shows partial_min). Its ``%`` is the JVM's, so it also cross-checks
the kernel's Mersenne folding."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphsetintersection_spark.functions.dedup import (
    _MH_PRIME,
    _doc_arrays,
    _doc_texts,
    _perm_params,
)


def minhash_signatures_agg(
    docs: DataFrame, num_perm: int = 64, n: int = 5, seed: int = 1
) -> DataFrame:
    """(doc_id, sig: array<long>) — the same signatures as
    ``minhash_signatures(docs, num_perm, n, seed=seed)``."""
    params = _perm_params(num_perm, seed)
    per_shingle = (
        _doc_arrays(_doc_texts(docs, "doc_id", "text"), n, "h", lambda h: h)
        .select("doc_id", F.explode("h").alias("h"))
        .select("doc_id", F.pmod("h", F.lit(_MH_PRIME)).alias("_h"))
    )
    mins = [
        F.min((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"_s{i}")
        for i, (a, b) in enumerate(params)
    ]
    return (
        per_shingle.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"_s{i}") for i in range(num_perm)]).alias("sig"),
        )
    )
