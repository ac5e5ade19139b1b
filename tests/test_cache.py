"""t1: materialized result cache (A25) — hit/miss and semantic keying."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from multi_model_vectorsearch_spark.plans.cache import (
    cached_result,
    plan_fingerprint,
)


def test_cache_miss_then_hit(tables, tmp_path):
    cdir = str(tmp_path / "cache")
    q = tables["orders"].groupBy("o_orderstatus").count()
    r1, hit1 = cached_result(q, cdir)
    assert not hit1
    r2, hit2 = cached_result(q, cdir)
    assert hit2
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))


def test_fingerprint_ignores_aliases(tables):
    a = tables["orders"].select(F.col("o_orderkey"))
    b = tables["orders"].select(F.col("o_orderkey"))
    assert plan_fingerprint(a) == plan_fingerprint(b)


def test_fingerprint_distinguishes_queries(tables):
    a = tables["orders"].select("o_orderkey")
    b = tables["orders"].select("o_custkey")
    assert plan_fingerprint(a) != plan_fingerprint(b)


def test_warm_index_policy_partial_pin(spark, tables, tmp_path):
    """r13 verdict item 8: warm(policy='index') pins only navigational
    state (IVF assignment + edges; the centroids are driver rows) and
    streams the corpus scan — the shape that still pins at 100 TB — while
    serving stays correct on both routes; pinned bytes are measured per
    store and the policy is sticky across maybe_rewarm."""
    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark.streaming.ingest import (
        IngestPipeline,
    )

    docs = tables["documents"].limit(120).select(
        "doc_id", "text", F.lit("text").alias("modality"))
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    q = docs.first().text

    with pytest.raises(ValueError, match="policy"):
        pipe.warm(policy="everything")

    sizes = pipe.warm(policy="index")
    assert sizes["policy"] == "index"
    assert "pinned_bytes_corpus" not in sizes, "corpus must NOT pin"
    assert sizes["pinned_bytes_index"] > 0
    assert sizes["centroid_rows"] > 0
    assert "pinned_bytes_centroids" not in sizes, "centroids must NOT pin"
    assert "centroids" not in pipe._warm
    assert sizes["pinned_bytes_edges"] >= 0
    assert pipe._warm["corpus"].storageLevel.useMemory is False
    assert pipe._warm["index"].storageLevel.useMemory is True

    rows = pipe.serve_search(q, k=5)
    assert rows and rows[0].score == 1.0
    rows = pipe.serve_search_ivf(q, k=5)
    assert rows and rows[0].s == 1.0

    # sticky across the rewarm path: ANOTHER writer moves state (same
    # root, separate pipeline object — ingest on pipe itself unwarms),
    # the reader re-warms, the partial-pin policy survives
    writer = IngestPipeline(spark, str(tmp_path / "st"), k=5,
                            maintain_ivf=True, n_centroids=None,
                            ivf_bootstrap=16)
    fresh = tables["documents"].filter(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 180)).select(
        "doc_id", "text", F.lit("text").alias("modality"))
    writer.process_batch(fresh, 0)
    assert pipe.maybe_rewarm() is True
    assert pipe._warm["sizes"]["policy"] == "index"
    assert pipe._warm["corpus"].storageLevel.useMemory is False

    # switching back to full pins the corpus and dominates pinned bytes
    sizes = pipe.warm(policy="full")
    assert sizes["policy"] == "full"
    assert sizes["pinned_bytes_corpus"] > 0
    total = sum(v for k, v in sizes.items()
                if k.startswith("pinned_bytes_"))
    assert sizes["pinned_bytes_corpus"] / total > 0.5, \
        "the corpus cache must dominate the full-policy footprint"
    rows = pipe.serve_search(q, k=5)
    assert rows and rows[0].score == 1.0
