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


def test_warm_holds_one_copy(spark, tables, tmp_path, monkeypatch):
    """``warm()`` keeps ONE resident copy of the serving state. Under
    ``DRIVER_TIER_BYTES`` it is the driver arrays, and no entry joins the
    session's CacheManager. With the budget at 0 it pins the
    ``cid``-carrying corpus and the edges on the executors, nothing
    else: no index pin, and the corpus cache is most of the pinned
    bytes. Both tiers answer the same rows."""
    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark.streaming import ingest

    docs = tables["documents"].limit(120).select(
        "doc_id", "text", F.lit("text").alias("modality"))
    pipe = ingest.IngestPipeline(spark, str(tmp_path / "st"), k=5,
                                 maintain_ivf=True, n_centroids=None,
                                 ivf_bootstrap=16)
    pipe.bulk_load(docs)
    pipe.build_graph(method="cells")
    q = docs.first().text
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    sizes = pipe.warm()
    assert set(pipe._warm) == {"driver", "cent_rows", "sizes"}
    assert cm.isEmpty(), "the driver tier caches nothing on the executors"
    assert not any(k.startswith("pinned_bytes_") for k in sizes)
    assert sizes["driver_rows"] == sizes["corpus_rows"] == 120
    assert sizes["index_rows"] == 120 and sizes["centroid_rows"] > 0
    drv = (pipe.serve_search(q, k=5), pipe.serve_search(q, k=5,
                                                        route="ivf"))
    assert drv[0] and drv[0][0].score == 1.0
    assert pipe.last_serve_info["tier"] == "driver"

    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    pipe.unwarm()
    sizes = pipe.warm()
    assert set(pipe._warm) == {"corpus", "edges", "cent_rows", "sizes"}
    assert "cid" in pipe._warm["corpus"].columns
    pinned = {k: v for k, v in sizes.items() if k.startswith("pinned_")}
    assert set(pinned) == {"pinned_bytes_corpus", "pinned_bytes_edges"}
    assert pinned["pinned_bytes_corpus"] > 0
    assert pinned["pinned_bytes_corpus"] / sum(pinned.values()) > 0.5
    assert all(pipe._warm[s].storageLevel.useMemory
               for s in ("corpus", "edges"))
    assert (sizes["driver_bytes"], sizes["driver_rows"]) == (0, 0)
    assert sizes["index_rows"] == 120
    spk = (pipe.serve_search(q, k=5), pipe.serve_search(q, k=5,
                                                        route="ivf"))
    assert pipe.last_serve_info["tier"] == "spark"
    assert spk == drv
    pipe.unwarm()
    assert cm.isEmpty(), "unwarm releases both caches"
