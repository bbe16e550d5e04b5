"""Bad near-dup LSH parameters fail with a ValueError before any Spark
job starts (functions.dedup.check_lsh_args and its simhash twin)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY, jobs_run

from graphsetintersection_spark.functions.dedup import (
    minhash_lsh_pairs,
    simhash_neardup_pairs,
)
from graphsetintersection_spark.session import read_table
from graphsetintersection_spark.streaming.dedup import (
    batch_minhash_neardup,
    minhash_band_index,
    stream_minhash_neardup,
)


def _stream(docs, index, **kw):
    return stream_minhash_neardup(docs, index, **{"num_perm": 64, "bands": 16, **kw})


def _batch(docs, index, **kw):
    return batch_minhash_neardup(
        docs, index, exact_verify_docs=docs, **{"num_perm": 64, "bands": 16, **kw}
    )


_FNS = {
    "minhash_lsh_pairs": lambda docs, index, **kw: minhash_lsh_pairs(docs, **kw),
    "simhash_neardup_pairs": lambda docs, index, **kw: simhash_neardup_pairs(docs, **kw),
    "minhash_band_index": lambda docs, index, **kw: minhash_band_index(docs, **kw),
    "stream_minhash_neardup": _stream,
    "batch_minhash_neardup": _batch,
}

# Before the checks, on 60 sf0.001 documents: minhash_lsh_pairs with
# threshold=1.5 or nan ran 27 jobs to 0 rows; n=0 ran 25 jobs to 1,770
# garbage rows; num_perm=0 (bands=1) 25 jobs to 2 rows;
# est_prefilter_sigmas=-1 ran 31 jobs; bands=0 raised ZeroDivisionError and
# bands=10 (num_perm=64) a bare assert. stream_minhash_neardup(bands=10)
# raised only after the index aggregate (2 jobs) and threshold=2.0 ran 5
# jobs to 0 rows. simhash_neardup_pairs(max_hamming=-1) raised
# ZeroDivisionError and max_hamming=64 ran 25 jobs to 2 garbage rows.
_BAD_ARGS = [
    ("minhash_lsh_pairs", {"threshold": 1.5}),
    ("minhash_lsh_pairs", {"threshold": float("nan")}),
    ("minhash_lsh_pairs", {"n": 0}),
    ("minhash_lsh_pairs", {"num_perm": 0, "bands": 1}),
    ("minhash_lsh_pairs", {"est_prefilter_sigmas": -1.0}),
    ("minhash_lsh_pairs", {"bands": 0}),
    ("minhash_lsh_pairs", {"bands": 10}),
    ("stream_minhash_neardup", {"bands": 10}),
    ("stream_minhash_neardup", {"threshold": 2.0}),
    ("simhash_neardup_pairs", {"max_hamming": -1}),
    ("simhash_neardup_pairs", {"max_hamming": 64}),
    ("simhash_neardup_pairs", {"threshold": 1.5}),
    ("minhash_band_index", {"num_perm": 64, "bands": 10}),
    ("minhash_band_index", {"n": 0}),
    ("batch_minhash_neardup", {"threshold": 2.0}),
    ("batch_minhash_neardup", {"n": 0}),
]


@pytest.mark.parametrize(
    "fn,kwargs",
    _BAD_ARGS,
    ids=[f + "-" + ",".join(f"{k}={v}" for k, v in kw.items()) for f, kw in _BAD_ARGS],
)
def test_bad_lsh_args_fail_before_any_job(spark, fn, kwargs):
    docs = read_table(spark, SF_TINY, "documents").where(F.col("doc_id") < 60)
    index = minhash_band_index(docs.where(F.col("doc_id") < 30), num_perm=64, bands=16)
    def fails():
        with pytest.raises(ValueError):
            _FNS[fn](docs, index, **kwargs)

    assert jobs_run(spark, fails)[1] == 0
