"""End-to-end pages pipeline: schema contract, byte-identical extraction
invariant, determinism across parallelism, link-graph derivation, and the
full corpus → edges → relabel → triangle-count/PageRank slice."""

import re

import pytest
from pyspark.sql import functions as F

from graphsetintersection_spark.operators.relabel import apply_order, comp_ratio, degree_order
from graphsetintersection_spark.operators.triangle import triangle_count_arrays
from graphsetintersection_spark.sources.extract import (
    extract_links,
    extract_text,
    link_edges,
)
from graphsetintersection_spark.sources.pages import generate_pages
from tests.oracles import triangle_count_join


N_PAGES = 300


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, N_PAGES, avg_links=8.0, seed=42).persist()
    df.count()
    return df


def test_schema_matches_input_hint(pages):
    fields = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert fields == {
        "url": "string",
        "warc_ts": "timestamp",
        "html": "binary",
        "text": "string",
        "lang": "string",
    }
    assert pages.count() == N_PAGES
    assert pages.select("url").distinct().count() == N_PAGES


def python_extract_oracle(html_bytes: bytes) -> str:
    """Independent reimplementation of the extraction rules."""
    s = html_bytes.decode("utf-8")
    s = re.sub(r"(?is)<script\b[^>]*>.*?</script>", " ", s)
    s = re.sub(r"(?is)<style\b[^>]*>.*?</style>", " ", s)
    s = re.sub(r"(?s)<[^>]*>", " ", s)
    s = re.sub(r"\s+", " ", s)
    return s.strip()


def test_text_byte_identical_to_extractor(pages):
    """North-rule per-row invariant: stored text == extractor(html),
    byte-identical per url, and matches an independent Python oracle."""
    rows = pages.select("url", "html", "text").collect()
    assert len(rows) == N_PAGES
    for r in rows:
        assert r["text"] == python_extract_oracle(bytes(r["html"])), r["url"]
    re_extracted = {
        r["url"]: r["text"] for r in extract_text(pages).collect()
    }
    for r in rows:
        assert re_extracted[r["url"]].encode() == r["text"].encode()


def test_generation_deterministic_across_parallelism(spark):
    a = generate_pages(spark, 100, seed=7, partitions=1).orderBy("url").collect()
    b = generate_pages(spark, 100, seed=7, partitions=13).orderBy("url").collect()
    assert [(r["url"], bytes(r["html"]), r["text"], r["lang"]) for r in a] == [
        (r["url"], bytes(r["html"]), r["text"], r["lang"]) for r in b
    ]


def test_links_parse_and_are_skewed(pages):
    links = extract_links(pages)
    n = links.count()
    assert n > N_PAGES * 4  # avg 8 links/page
    # every dst is a well-formed url of the corpus family
    bad = links.where(~F.col("dst_url").rlike(r"^https://site\d+\.example/p/\d+$"))
    assert bad.count() == 0
    # Zipf target distribution → the top page takes a large share
    top = (
        links.groupBy("dst_url").count().orderBy(F.desc("count")).limit(1).collect()
    )
    assert top[0]["count"] > n / 50  # heavy hub exists


def test_edges_pipeline_triangles_and_densification(spark, pages):
    edges = link_edges(pages).persist()
    assert edges.count() > 0
    # ids continuous 0-based
    vmax = edges.agg(F.max(F.greatest("src", "dst"))).collect()[0][0]
    nverts = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
        .count()
    )
    assert vmax < N_PAGES + 1 and nverts <= N_PAGES
    t_join = triangle_count_join(edges)
    t_arr = triangle_count_arrays(edges)
    assert t_join == t_arr
    assert t_join > 0  # hubs make triangles near-certain

    order = degree_order(edges)
    relabeled = apply_order(edges, order).persist()
    assert triangle_count_join(relabeled) == t_join  # invariant under relabel
    assert comp_ratio(relabeled) <= comp_ratio(edges)  # densification
    edges.unpersist()
    relabeled.unpersist()


def test_read_pages_parquet_standin(spark, pages, tmp_path):
    """read_pages: filesystem source reads parquet and prunes to the five
    contract columns; a catalog name routes to spark.read.table."""
    from graphsetintersection_spark.sources.pages import PAGES_COLUMNS, read_pages

    p = str(tmp_path / "pages.parquet")
    pages.withColumn("extra", pages.url).write.parquet(p)
    back = read_pages(spark, p)
    assert back.columns == PAGES_COLUMNS
    assert back.count() == pages.count()


def test_checkpoint_storage_validation(tmp_path):
    import pytest

    from graphsetintersection_spark.plans.checkpoint import CheckpointManager

    with pytest.raises(ValueError):
        CheckpointManager(str(tmp_path), "run", storage="bogus")
    ck = CheckpointManager(str(tmp_path), "run", storage="iceberg")
    assert ck._snapshot_table(3) == "gsi_ckpt_run_iter_00003"
