"""Streaming verification: batch equivalence + ingest pipeline semantics.

SURVEY.md §5.4: a streaming window job replaying the events table must equal
the declared batch SQL; the foreachBatch ingest pipeline must reproduce the
reference's /submit semantics (dedup, KNN, boosted edges) incrementally.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from multi_model_vectorsearch_spark.operators import windows_batch as W
from multi_model_vectorsearch_spark.streaming import windows as SW
from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline
from multi_model_vectorsearch_spark.streaming.statefs import LocalStateFS
from multi_model_vectorsearch_spark.testing import canon_rows

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay"))
    SW.write_replay_dir(spark, SF_SMOKE, d, n_files=6)
    return d


def _rows(df):
    return canon_rows(df.columns, [tuple(r) for r in df.collect()])


def _stream_equals_batch(spark, replay, stream_fn, batch_df, name, mode="complete"):
    stream = stream_fn(SW.read_event_stream(spark, replay))
    SW.run_to_memory(stream, name, mode=mode)
    got = spark.table(name)
    assert _rows(got) == _rows(batch_df), f"{name}: stream != batch"


def test_tumbling_batch_equivalence(spark, tables, replay):
    _stream_equals_batch(spark, replay, SW.tumbling_stream,
                         W.dq36_tumbling(tables), "t_tumbling")


def test_sliding_batch_equivalence(spark, tables, replay):
    _stream_equals_batch(spark, replay, SW.sliding_stream,
                         W.dq37_sliding(tables), "t_sliding")


def test_session_batch_equivalence(spark, tables, replay):
    # watermark far beyond the replayed range -> no row is dropped as late,
    # so the streaming result must equal batch exactly
    _stream_equals_batch(
        spark, replay,
        lambda ev: SW.session_stream(ev, watermark="365 days"),
        W.dq38_session(tables), "t_session", mode="complete")


def test_stateful_dedup(spark, replay):
    ev = SW.read_event_stream(spark, replay)
    doubled = ev.union(ev)  # duplicate every event across the stream
    # replay files are not time-ordered; a tight watermark would (correctly)
    # drop genuinely-late rows — widen it so only duplicates are removed
    SW.run_to_memory(SW.dedup_stream(doubled, watermark="365 days"),
                     "t_dedup", mode="append")
    got = spark.table("t_dedup")
    total = spark.read.parquet(replay).count()
    assert got.count() == total
    assert got.select("event_id").distinct().count() == total


def test_stream_stream_join_batch_equivalence(spark, tables, replay):
    """B-ext: stream-stream interval join equals the batch dq106 twin."""
    from multi_model_vectorsearch_spark.operators.timeseries import (
        dq106_view_purchase_join,
    )

    _stream_equals_batch(spark, replay, SW.view_purchase_join_stream,
                         dq106_view_purchase_join(tables), "t_ssjoin",
                         mode="append")


def test_dedup_within_watermark(spark, replay):
    """dropDuplicatesWithinWatermark removes re-sends inside the horizon."""
    ev = SW.read_event_stream(spark, replay)
    doubled = ev.union(ev)
    SW.run_to_memory(
        SW.dedup_within_watermark_stream(doubled, watermark="365 days"),
        "t_dedup_wm", mode="append")
    got = spark.table("t_dedup_wm")
    total = spark.read.parquet(replay).count()
    assert got.count() == total
    assert got.select("event_id").distinct().count() == total


class _ObjectStoreShapeFS(LocalStateFS):
    """Local-disk stand-in for an object store's write shape:
    ``atomic_rename = False``, ``write_text`` is a direct single-object
    overwrite (no temp file, no rename) and ``rename`` is a
    copy-then-delete. The generation-pointer commit must not lean on
    rename atomicity anywhere."""

    atomic_rename = False

    @staticmethod
    def write_text(path, content):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf8") as f:
            f.write(content)

    @staticmethod
    def rename(src, dst):
        import shutil

        if os.path.isdir(src):
            shutil.copytree(src, dst)
            shutil.rmtree(src)
        else:
            shutil.copy2(src, dst)
            os.remove(src)


@pytest.fixture(params=["posix", "hadoop", "pointer", "hadoop-pointer"])
def state_backend(request, spark):
    """Constructor kwargs that re-run a state-machine test on each state
    backend: the direct POSIX adapter (the default), the Hadoop
    FileSystem adapter resolved over local disk (the API a cluster's
    hdfs:// state dir goes through), an object store's write shape over
    local disk (no atomic rename: direct overwrite of small files,
    copy-then-delete rename), and the two combined — the Hadoop API with
    its object-store ``write_text`` branch, the s3a:// deployment shape.
    All four publish through the same generation-pointer commit. The
    reference pipelines inside each test stay on the default backend, so
    the final snapshot equality IS the zero-output-diff proof across
    backends."""
    if request.param.startswith("hadoop"):
        from multi_model_vectorsearch_spark.streaming.statefs import (
            HadoopStateFS,
        )

        fs = HadoopStateFS(spark, "file:///tmp")
        if request.param == "hadoop-pointer":
            fs.atomic_rename = False
        return {"fs": fs}
    if request.param == "pointer":
        return {"fs": _ObjectStoreShapeFS()}
    return {}


class TestIngestPipeline:
    @pytest.fixture()
    def docs(self, tables):
        d = tables["documents"].limit(40)
        return d.select(
            "doc_id", "text",
            F.element_at(
                F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("modality"),
        )

    def test_incremental_matches_semantics(self, spark, docs, tmp_path):
        pipe = IngestPipeline(spark, str(tmp_path / "state"), k=5)
        batches = [docs.filter(F.col("doc_id") < 20),
                   docs.filter(F.col("doc_id") >= 20)]
        for i, b in enumerate(batches):
            pipe.process_batch(b, i)

        corpus = pipe.corpus()
        assert corpus.count() == 40
        # dedup: re-ingesting the same docs adds nothing
        pipe.process_batch(batches[0], 2)
        assert pipe.corpus().count() == 40

        edges = pipe.edges()
        assert edges.count() > 0
        e = edges.collect()
        # canonicalized, no self-loops, scores are valid cosines (the
        # same-modality quota can keep negative-cosine neighbors, exactly as
        # the reference's same_mod[:k//2] list can — main.py:244-248)
        assert all(r.src < r.dst for r in e)
        assert all(-1.0 <= r.score <= 1.0 for r in e)

    def test_search_end_to_end(self, spark, docs, tmp_path):
        pipe = IngestPipeline(spark, str(tmp_path / "state"), k=5)
        pipe.process_batch(docs, 0)
        sample_text = docs.orderBy("doc_id").first().text
        res = pipe.search(sample_text, k=5).collect()
        # balanced selection keeps k//2 per modality split (main.py:248-249),
        # so ≤ 2+2 seeds; expansion can add up to k total
        assert 1 <= len(res) <= 5
        # the identical document must be the top hit with sim 1.0
        assert res[0].score == 1.0

    @staticmethod
    def _state_snapshot(pipe):
        corpus = sorted(
            (r.doc_id, r.content_sha256, r.modality)
            for r in pipe.corpus().collect())
        edges = sorted((r.src, r.dst, r.score)
                       for r in pipe.edges().collect())
        return corpus, edges

    def _run_to_completion(self, spark, src, state, ckpt, k=5):
        from multi_model_vectorsearch_spark.streaming.ingest import (
            IngestPipeline,
        )

        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe = IngestPipeline(spark, state, k=k)
        pipe.run_stream(stream, ckpt)
        return pipe

    def test_checkpoint_restart_torn_batch_exactly_once(
            self, spark, docs, tmp_path, state_backend):
        """Kill-and-resume pin (r5/r6 verdict item): a batch killed AFTER
        its corpus write but BEFORE its edge write must, on restart from
        the stream checkpoint, end with state identical to an uninterrupted
        run. This is the adversarial kill point: with blind append +
        full-corpus dedup the replay would see its own half-committed rows,
        compute an empty fresh set, and silently drop the batch's edges."""
        from multi_model_vectorsearch_spark.streaming.ingest import (
            IngestPipeline,
        )

        src = str(tmp_path / "src")
        docs.repartition(4).write.mode("overwrite").parquet(src)

        # reference: uninterrupted run
        ref = self._run_to_completion(
            spark, src, str(tmp_path / "ref_state"), str(tmp_path / "ref_ck"))
        ref_corpus, ref_edges = self._state_snapshot(ref)
        assert len(ref_corpus) == 40 and len(ref_edges) > 0

        # interrupted run: crash inside batch 2, after the corpus write
        # (knn_against_corpus is the first thing that runs after it)
        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe = IngestPipeline(spark, state, k=5, **state_backend)
        orig_knn = pipe.knn_against_corpus
        calls = {"n": 0}

        def dying_knn(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 3:
                raise RuntimeError("injected crash after corpus write")
            return orig_knn(*args, **kwargs)

        pipe.knn_against_corpus = dying_knn
        with pytest.raises(Exception, match="injected|Query.*terminated"):
            pipe.run_stream(stream, ckpt)
        # torn state: batch 3's corpus subdir exists, its edges don't
        assert pipe.corpus().count() > 20
        assert calls["n"] == 3

        # restart from the same checkpoint with a healthy pipeline
        pipe.knn_against_corpus = orig_knn
        stream2 = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe.run_stream(stream2, ckpt)
        assert self._state_snapshot(pipe) == (ref_corpus, ref_edges)

    def test_checkpoint_restart_after_uncommitted_batch(
            self, spark, docs, tmp_path, state_backend):
        """The other kill point: the foreachBatch body finished all its
        writes but the stream checkpoint never committed the batch —
        at-least-once delivery replays the WHOLE batch, and the replay must
        overwrite (not double-append) every state directory."""
        from multi_model_vectorsearch_spark.streaming.ingest import (
            IngestPipeline,
        )

        src = str(tmp_path / "src")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        ref = self._run_to_completion(
            spark, src, str(tmp_path / "ref_state"), str(tmp_path / "ref_ck"))
        ref_snap = self._state_snapshot(ref)

        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe = IngestPipeline(spark, state, k=5, **state_backend)
        orig_pb = pipe.process_batch
        calls = {"n": 0}

        def dying_after(batch, batch_id):
            calls["n"] += 1
            orig_pb(batch, batch_id)  # batch work completes fully
            if calls["n"] == 2:
                raise RuntimeError("injected crash before batch commit")

        pipe.process_batch = dying_after
        with pytest.raises(Exception, match="injected|Query.*terminated"):
            pipe.run_stream(stream, ckpt)
        pipe.process_batch = orig_pb
        stream2 = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe.run_stream(stream2, ckpt)
        assert self._state_snapshot(pipe) == ref_snap

    def test_kill_compact_restart_exactly_once(self, spark, docs, tmp_path,
                                               state_backend):
        """Round-8 pin: a compact() between a torn batch and its replay
        must not fold the torn batch's subdirectories into flat files —
        the replay excludes its OWN subdirectory to recompute the fresh
        set, and folding would make its half-committed corpus rows
        indistinguishable from committed state (empty fresh set → the
        batch's missing edge writes dropped forever). compact() detects
        the torn trailing batch via its missing edges ``_SUCCESS`` and
        carries it over verbatim."""
        from multi_model_vectorsearch_spark.streaming.ingest import (
            IngestPipeline,
        )

        src = str(tmp_path / "src")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        ref = self._run_to_completion(
            spark, src, str(tmp_path / "ref_state"), str(tmp_path / "ref_ck"))
        ref_snap = self._state_snapshot(ref)

        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe = IngestPipeline(spark, state, k=5, **state_backend)
        orig_knn = pipe.knn_against_corpus
        calls = {"n": 0}

        def dying_knn(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 3:
                raise RuntimeError("injected crash after corpus write")
            return orig_knn(*args, **kwargs)

        pipe.knn_against_corpus = dying_knn
        with pytest.raises(Exception, match="injected|Query.*terminated"):
            pipe.run_stream(stream, ckpt)

        # ops runs compact between the crash and the restart
        done = pipe.compact()
        assert done.get("corpus") == 1 and done.get("edges") == 1
        # the torn batch survived as an excludable subdirectory (in the
        # live generation, wherever this backend's swap put it)
        torn = pipe._torn_batch_keys()
        assert len(torn) == 1
        key = next(iter(torn))
        assert pipe.fs.isdir(pipe._bdir(pipe.corpus_dir, key))
        assert not pipe.fs.isdir(pipe._bdir(pipe.edges_dir, key))

        pipe.knn_against_corpus = orig_knn
        stream2 = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe.run_stream(stream2, ckpt)
        assert self._state_snapshot(pipe) == ref_snap

    def test_batch_namespaces_never_collide(self, spark, docs, tmp_path):
        """Round-8 pin (advisor finding): batch ids come from independent
        sequences — each stream checkpoint's epochs restart at 0, and the
        facade submit keeps its own disk-derived counter. Un-namespaced
        ``b<id>`` directories let a second stream's epoch 0 silently
        overwrite (destroy) the first stream's batch 0. Namespacing by
        checkpoint (``b<hash>-<id>``) and facade (``s<n>``) must keep all
        three writers' state intact."""
        from multi_model_vectorsearch_spark.streaming.ingest import (
            IngestPipeline,
        )

        state = str(tmp_path / "state")
        src1 = str(tmp_path / "src1")
        src2 = str(tmp_path / "src2")
        docs.filter(F.col("doc_id") < 25).repartition(2) \
            .write.mode("overwrite").parquet(src1)
        docs.filter(F.col("doc_id") >= 25).repartition(2) \
            .write.mode("overwrite").parquet(src2)

        def run(src, ck):
            stream = (
                spark.readStream.schema(spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            pipe = IngestPipeline(spark, state, k=5)
            pipe.run_stream(stream, str(tmp_path / ck))
            return pipe

        n1 = spark.read.parquet(src1).count()
        n2 = spark.read.parquet(src2).count()
        pipe = run(src1, "ck1")
        assert pipe.corpus().count() == n1
        # facade submit between the two stream runs (explicit doc_id: the
        # auto-assigned max+1 would collide with a src2 doc_id)
        pipe.submit("a brand new facade document", "text", doc_id=1000)
        assert pipe.corpus().count() == n1 + 1
        # second stream: NEW checkpoint, epochs restart at 0
        pipe = run(src2, "ck2")
        assert pipe.corpus().count() == n1 + 1 + n2
        assert pipe.corpus().select("doc_id").distinct().count() == \
            n1 + 1 + n2

    def test_run_stream_foreachbatch(self, spark, docs, tmp_path):
        src = str(tmp_path / "docs_src")
        docs.repartition(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pipe = IngestPipeline(spark, str(tmp_path / "state"), k=5)
        pipe.run_stream(stream, str(tmp_path / "ckpt"))
        assert pipe.corpus().count() == 40
        assert pipe.edges().count() > 0


def test_knn_join_path_matches_kernel(spark, tables, tmp_path):
    """Triple equivalence of the KNN scorers: the one-pass kernel, the
    chunked kernel (max_collect=1 → one chunk per query: every fat-batch
    seam exercised), and the JVM broadcast-join reference (``_knn_join`` —
    the independent semantic implementation the kernels are checked
    against) must produce the same balanced neighbor set."""
    docs = tables["documents"].limit(30).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image")),
            (F.col("doc_id") % 2 + 1).cast("int"),
        ).alias("modality"),
    )
    kernel = IngestPipeline(spark, str(tmp_path / "a"), k=4)
    chunked = IngestPipeline(spark, str(tmp_path / "b"), k=4, max_collect=1)
    kernel.process_batch(docs, 0)
    chunked.process_batch(docs, 0)

    def snap(p):
        fresh = p.corpus()
        out = p.knn_against_corpus(fresh).collect()
        return sorted((r.qid, r.doc_id, r.rn, round(r.s, 6)) for r in out)

    assert snap(kernel) == snap(chunked)
    # the JVM join reference over the same corpus agrees row-for-row
    corpus = kernel.corpus()
    ref = kernel._balanced_select(
        _knn_join(corpus.repartition(4), corpus),
        kernel.k, kernel.k * 6)
    assert snap(kernel) == sorted(
        (r.qid, r.doc_id, r.rn, round(r.s, 6)) for r in ref.collect())
    # and the stored edge sets agree
    ek = sorted((r.src, r.dst, round(r.score, 6))
                for r in kernel.edges().collect())
    ej = sorted((r.src, r.dst, round(r.score, 6))
                for r in chunked.edges().collect())
    assert ek == ej and len(ek) > 0


def test_fat_batch_chunks_bound_driver_collect(spark, tables, tmp_path):
    """Driver-materialization guard for fat batches: a batch over
    ``max_collect`` runs the kernel once per query chunk, and no single
    kernel call ever collects more than ``max_collect`` query vectors —
    the bound holds at ANY batch size, which is what makes the exact
    chunked path safe where the old IVF-pruned join traded recall."""
    docs = tables["documents"].limit(40).select(
        "doc_id", "text", F.lit("text").alias("modality"))
    pipe = IngestPipeline(spark, str(tmp_path / "s"), k=4, max_collect=8)
    pipe.process_batch(docs, 0)

    calls = []
    orig_kernel = pipe._knn_kernel

    def spy_kernel(corpus, fresh, pool_k, finish_k=None):
        calls.append((corpus.rdd.getNumPartitions(), fresh.count()))
        return orig_kernel(corpus, fresh, pool_k, finish_k=finish_k)

    pipe._knn_kernel = spy_kernel
    fresh = pipe.corpus()
    # fat batch (40 > max_collect=8) -> 5 chunks of exactly 8 queries
    out = pipe.knn_against_corpus(fresh, n_queries=40)
    assert sorted(r.qid for r in out.select("qid").distinct().collect()) \
        == sorted(r.doc_id for r in fresh.select("doc_id").collect())
    assert [q for _, q in calls] == [8, 8, 8, 8, 8]
    # 40-row corpus -> single partition per chunk (candidate economy)
    assert all(p == 1 for p, _ in calls)
    # small batch -> one kernel call
    calls.clear()
    pipe.knn_against_corpus(fresh.limit(4), n_queries=4)
    assert [q for _, q in calls] == [4]


def test_chunked_multipartition_kernel_matches_single(spark, tables, tmp_path):
    """The remaining untested routing cell: fat batch (chunked) × target>1
    (multi-partition corpus, window-based selection). Shrink
    ``rows_per_partition`` so a 60-doc corpus plans 3 scoring partitions,
    and check the chunked multi-partition output equals both the
    single-partition in-kernel finish and the JVM join reference."""
    docs = tables["documents"].limit(60).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "mp"), k=4, max_collect=8)
    pipe.process_batch(docs, 0)
    fresh = pipe.corpus().filter(F.col("doc_id") % 2 == 0)  # 30 queries

    def snap(df):
        return sorted((r.qid, r.doc_id, r.rn, round(r.s, 6))
                      for r in df.collect())

    single = snap(pipe.knn_against_corpus(fresh))          # target == 1
    pipe.rows_per_partition = 20                           # 60 rows -> 3 parts
    multi = snap(pipe.knn_against_corpus(fresh))
    assert multi == single
    ref = pipe._balanced_select(
        _knn_join(pipe.corpus().repartition(4), fresh),
        pipe.k, pipe.k * 6)
    assert multi == snap(ref)


def test_multipartition_kernel_emission_bounded_under_ties(spark, tmp_path):
    """Candidate emission of the multi-partition route is at most
    P × pool_k × Q even when every score ties: each partition emits
    exactly its top ``pool_k`` per query by (s desc, doc_id asc), never
    every row tied with the pool_k-th. That loses nothing, because
    ``_balanced_select`` ranks by the same total order — the window
    selection over the bounded pool equals the in-kernel finish."""
    corpus = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("text"), F.lit("image")),
            (F.col("id") % 2 + 1).cast("int")).alias("modality"),
        F.array(F.lit(0.6), F.lit(0.8), F.lit(0.0)).alias("embedding"),
    ).repartition(3).localCheckpoint(eager=True)
    pipe = IngestPipeline(spark, str(tmp_path / "ties"), k=4)
    pool_k = pipe.k * 6
    fresh = corpus.filter(F.col("doc_id").isin(7, 80))
    n_parts = corpus.rdd.getNumPartitions()
    sizes = corpus.rdd.glom().map(len).collect()
    assert n_parts >= 2 and min(sizes) > pool_k
    cand = pipe._knn_kernel(corpus, fresh, pool_k)
    assert cand.count() <= n_parts * pool_k * fresh.count()
    window = pipe._balanced_select(cand, pipe.k, pool_k)
    finish = pipe._knn_kernel(corpus.coalesce(1), fresh, pool_k,
                              finish_k=pipe.k)
    a = sorted(map(tuple, window.collect()))
    assert a == sorted(map(tuple, finish.collect())) and len(a) == 8


def test_snap_double_jvm_matches_numpy_on_half_boundaries(spark):
    """Rounding-convention unification pin (r6 verdict item 4): the ingest
    kernel (numpy) and the join path (JVM) must share ONE rounding — the
    floor snap. ``np.round`` (half-to-even on the binary value) vs
    ``F.round`` (half-up on the shortest decimal repr) can rank a cosine
    tie at the 6th decimal differently between two paths the kernel≡join
    equivalence test promises are identical. Adversarial fixtures: doubles
    engineered to land on .xxxxxx5 micro-grid half boundaries (odd/2e6),
    where the two legacy conventions demonstrably split."""
    import numpy as np

    from multi_model_vectorsearch_spark.functions.fixedpoint import snap_double

    # odd multiples of half a micro-unit — exact .xxxxxx5 boundaries in
    # decimal, sitting a hair above/below in binary — plus negatives and
    # values the legacy conventions split on (0.0000025: np.round→2e-6
    # half-to-even, F.round→3e-6 half-up)
    vals = [(2 * k + 1) / 2e6 for k in range(-8, 8)]
    vals += [0.9999995, -0.9999995, 0.1234565, 0.5, 1.0, -1.0, 0.0]
    np_snapped = (np.floor(np.asarray(vals) * 1e6 + 0.5) / 1e6).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    jvm = [r.y for r in
           df.select(snap_double(F.col("x")).alias("y")).collect()]
    assert jvm == np_snapped  # bitwise-equal doubles
    # and the legacy pair really does split on these fixtures (sanity that
    # the unification is load-bearing, not vacuous)
    legacy_np = np.round(np.asarray(vals), 6).tolist()
    assert legacy_np != np_snapped


def test_zero_norm_embedding_scores_zero_not_nan(spark):
    """An all-zero embedding must score 0.0 (guarded norm), never NaN."""
    import math

    from multi_model_vectorsearch_spark.functions.vector import (
        cosine_similarity,
        l2_normalize,
    )
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0])], "id int, z array<double>, v array<double>"
    )
    row = df.select(
        cosine_similarity("z", "v").alias("c"),
        l2_normalize(F.col("z")).alias("nz"),
    ).first()
    assert row.c == 0.0 and not math.isnan(row.c)
    assert all(x == 0.0 for x in row.nz)


def test_stateful_user_totals_batch_equivalence(spark, tables, replay):
    """applyInPandasWithState running totals: last emission == batch agg."""
    ev = SW.read_event_stream(spark, replay)
    SW.run_to_memory(SW.stateful_user_totals(ev), "t_user_totals",
                     mode="update")
    # update mode emits one row per (user, micro-batch); keep the final one
    emitted = spark.table("t_user_totals")
    last = (
        emitted.withColumn("_i", F.monotonically_increasing_id())
        .groupBy("user_id")
        .agg(F.max_by("n", "_i").alias("n"), F.max_by("sv", "_i").alias("sv"))
    )
    batch = tables["events"].groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("sv")
    )
    got = {r.user_id: (r.n, round(r.sv, 6)) for r in last.collect()}
    want = {r.user_id: (r.n, round(r.sv, 6)) for r in batch.collect()}
    assert got == want


def test_submit_and_graph_data_facade(spark, tmp_path):
    """Reference API parity: /submit returns neighbors incl. self at 1.0;
    /graph-data returns hydrated nodes and endpoint-filtered edges."""
    pipe = IngestPipeline(spark, str(tmp_path / "fstate"), k=3)
    r1 = pipe.submit("spark shuffles the hash join", "text", doc_id=1).collect()
    assert [r.id for r in r1] == [1] and r1[0].s == 1.0
    pipe.submit("broadcast the small build side", "text", doc_id=2)
    r3 = pipe.submit("spark shuffles the sort merge join", "image",
                     doc_id=3).collect()
    # balanced selection (main.py:248-249): k=3 → 1 same-modality (the
    # self-pinned doc) + 1 cross-modality neighbor
    assert r3[0].id == 3 and r3[0].s == 1.0 and len(r3) == 2
    nodes, edges = pipe.graph_data()
    n = {r.doc_id for r in nodes.collect()}
    e = edges.collect()
    assert n and all(r.src in n and r.dst in n for r in e)
    # dedup: resubmitting identical content adds no corpus row
    before = pipe.corpus().count()
    pipe.submit("spark shuffles the hash join", "text", doc_id=9)
    assert pipe.corpus().count() == before


def test_submit_batch_is_a_local_relation(spark, tmp_path):
    """``submit()``'s one-row batch is a ``LocalRelation`` (Arrow from
    pandas: scanning it starts no Python task, where a row-list frame
    starts one per parallelism slice), and its neighbours equal those of
    the same documents ingested as row-list batches."""
    docs = [(1, "spark shuffles the hash join", "text"),
            (2, "broadcast the small build side", "text"),
            (3, "spark shuffles the sort merge join", "image")]
    pipe = IngestPipeline(spark, str(tmp_path / "facade"), k=3)
    ref = IngestPipeline(spark, str(tmp_path / "rows"), k=3)
    leaves = []
    run = pipe.process_batch

    def spy(batch, *args, **kwargs):
        seq = batch._jdf.queryExecution().analyzed().collectLeaves()
        leaves.append([seq.apply(i).nodeName() for i in range(seq.length())])
        return run(batch, *args, **kwargs)

    pipe.process_batch = spy
    for epoch, (doc_id, text, modality) in enumerate(docs):
        got = pipe.submit(text, modality, doc_id=doc_id).collect()
        ref.process_batch(spark.createDataFrame(
            [(doc_id, text, modality)],
            "doc_id bigint, text string, modality string"), epoch)
        want = ref.knn_against_corpus(
            ref.corpus().filter(F.col("doc_id") == doc_id)).select(
            F.col("doc_id").alias("id"), "modality", "s", "rn").collect()
        assert got == want and got, (doc_id, got, want)
    assert leaves == [["LocalRelation"]] * len(docs)


def test_balanced_finish_matches_window_select(spark, tables, tmp_path):
    """The in-kernel vectorized balanced finish (single-partition corpus)
    must be byte-for-byte the window-based _balanced_select over the same
    candidate pool."""
    docs = tables["documents"].limit(120).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "s"), k=6)
    pipe.process_batch(docs, 0)
    corpus = pipe.corpus()
    from multi_model_vectorsearch_spark.functions.embedding import (
        route_embedding,
    )
    fresh = (
        docs.limit(40)
        .withColumn("content_sha256", F.sha2("text", 256))
        .withColumn("embedding",
                    route_embedding(F.col("text"), F.col("modality")))
        .select("doc_id", "content_sha256", "modality", "embedding")
        .localCheckpoint(eager=True)
    )
    pool_k = pipe.k * 6
    finish = pipe._knn_kernel(corpus.coalesce(1), fresh, pool_k,
                              finish_k=pipe.k)
    window = pipe._balanced_select(
        pipe._knn_kernel(corpus.repartition(5), fresh, pool_k),
        pipe.k, pool_k)
    a = sorted(map(tuple, finish.collect()))
    b = sorted(map(tuple, window.collect()))
    assert a == b and len(a) > 0

    # Arrow splits a partition into maxRecordsPerBatch-row pandas batches;
    # the finish kernel must still see ONE pool per partition (a per-batch
    # "final" top-k would emit duplicate (qid, rn) rows). Force 3 splits of
    # the 120-row corpus and require the identical result.
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "40")
    try:
        split = pipe._knn_kernel(corpus.coalesce(1), fresh, pool_k,
                                 finish_k=pipe.k)
        c = sorted(map(tuple, split.collect()))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert c == a


def test_facade_submit_keeps_accumulating_after_compact(spark, tmp_path):
    """compact() collapses the per-batch subdirectories into flat files;
    the next submit's batch-id allocation must then start fresh (b0) and
    the recursive state read must see flat files + new subdirs together —
    a reused or colliding id would overwrite instead of accumulate."""
    pipe = IngestPipeline(spark, str(tmp_path / "cfstate"), k=3)
    pipe.submit("first document about spark", "text", doc_id=1)
    pipe.submit("second document about joins", "text", doc_id=2)
    assert pipe.corpus().count() == 2
    pipe.compact()
    pipe.submit("third document about shuffles", "text", doc_id=3)
    assert pipe.corpus().count() == 3
    assert {r.doc_id for r in pipe.corpus().collect()} == {1, 2, 3}


def test_compact_rewrites_small_files(spark, tables, tmp_path):
    """Per-batch appends accumulate tiny parquet files; compact() must
    rewrite each state dir to ceil(rows/target) files with identical
    contents and leave the pipeline fully functional."""
    import glob

    docs = tables["documents"].limit(90).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "cstate"), k=4)
    for b in range(3):
        pipe.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    before_corpus = sorted(map(tuple, pipe.corpus().collect()))
    before_edges = sorted(map(tuple, pipe.edges().collect()))
    n_files = len(glob.glob(
        os.path.join(pipe._phys(pipe.corpus_dir), "**", "*.parquet"),
        recursive=True))
    assert n_files >= 3  # one-plus file per batch subdirectory
    done = pipe.compact()
    assert done["corpus"] == 1 and done["edges"] == 1
    assert len(glob.glob(
        os.path.join(pipe._phys(pipe.corpus_dir), "**", "*.parquet"),
        recursive=True)) == 1
    assert sorted(map(tuple, pipe.corpus().collect())) == before_corpus
    assert sorted(map(tuple, pipe.edges().collect())) == before_edges
    # pipeline still ingests + serves after the swap
    pipe.process_batch(docs.limit(0), 99)
    assert pipe.search("anything", k=3).count() <= 3


def test_neardup_incremental_matches_batch(spark, tables):
    """dq181's flag table is replay-order independent: computing flags
    per micro-batch against an accumulating signature store (flagged
    docs' signatures retained) reproduces the one-shot batch output
    exactly."""
    from multi_model_vectorsearch_spark.operators.textpipe import (
        dq40_minhash_signatures,
        dq181_neardup_first_occurrence,
        neardup_flags_incremental,
    )

    sig = dq40_minhash_signatures(tables).localCheckpoint(eager=True)
    n_batches = 4
    # contiguous doc_id ranges: "earlier" in dq181 means lower doc_id, so
    # the replay must present documents in ingest (doc_id) order
    hi = sig.agg(F.max("doc_id")).first()[0] + 1
    step = (hi + n_batches - 1) // n_batches
    incremental = []
    store = None
    for b in range(n_batches):
        fresh = sig.filter((F.col("doc_id") >= b * step)
                           & (F.col("doc_id") < (b + 1) * step))
        if store is None:
            empty = sig.filter(F.lit(False))
            incremental.append(neardup_flags_incremental(fresh, empty))
            store = fresh
        else:
            incremental.append(neardup_flags_incremental(fresh, store))
            store = store.unionAll(fresh)
    got = sorted(map(tuple, incremental[0].unionAll(incremental[1])
                     .unionAll(incremental[2]).unionAll(incremental[3])
                     .collect()))
    want = sorted(map(tuple,
                      dq181_neardup_first_occurrence(tables).collect()))
    assert got == want and len(got) > 0
    assert any(r[1] for r in got)  # fixtures do contain near-dups


def test_balanced_finish_beyond_default_arrow_batch(spark, tmp_path):
    """Round-2's finish_k bug (independent per-Arrow-batch top-k emitting
    duplicate (qid, rn) rows) was invisible because the test corpus fit one
    Arrow batch. Drive the REAL entry point (knn_against_corpus, which
    picks the target==1 finish_k path itself) with a corpus larger than the
    default spark.sql.execution.arrow.maxRecordsPerBatch (10k), so the
    kernel provably sees multiple pandas batches under production confs."""
    batch_cap = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    n_corpus = batch_cap + 2500
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: ((F.col("doc_id") * 31 + i.cast("bigint")) % 97)
        .cast("double") / 97.0)
    corpus = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("content_sha256"),
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("id") % 3 + 1).cast("int")).alias("modality"),
        emb.alias("embedding"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "bigstate"), k=6)
    corpus.write.parquet(pipe.corpus_dir)
    fresh = pipe.corpus().filter(F.col("doc_id") % 2501 == 0)  # 6 queries
    out = pipe.knn_against_corpus(fresh)
    rows = out.collect()
    assert len(rows) > 0
    # the finish path must have produced each (qid, rn) exactly once
    pairs = [(r.qid, r.rn) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate (qid, rn) — per-batch finish"
    # and be byte-for-byte the window-based selection over the same pool
    pool_k = pipe.k * 6
    window = pipe._balanced_select(
        pipe._knn_kernel(pipe.corpus().repartition(7), fresh, pool_k),
        pipe.k, pool_k)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, window.collect()))


def test_ivf_bootstrap_batch_replay_is_exactly_once(spark, tables, tmp_path):
    """Replaying the batch that triggered the IVF bootstrap must not
    duplicate its index rows: the bootstrap assigns the PRE-batch corpus
    to the root and the batch itself to its subdirectory, so the replay's
    else-branch subdirectory overwrite lands on the same rows. A
    full-corpus root assignment would leave the batch double-indexed."""
    docs = tables["documents"].limit(120).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "ivfr"), k=6,
                          maintain_ivf=True)
    batches = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
    pipe.process_batch(batches[0], 0)
    assert pipe.centroids().isEmpty()  # 40 docs < 64: not bootstrapped yet
    pipe.process_batch(batches[1], 1)  # 80 docs: THIS batch bootstraps
    assert not pipe.centroids().isEmpty()
    n = pipe.corpus().count()
    assert pipe.ivf_index().count() == n
    # at-least-once delivery: the bootstrap batch replays wholesale
    pipe.process_batch(batches[1], 1)
    assert pipe.corpus().count() == n
    idx = pipe.ivf_index()
    assert idx.count() == n, "replayed bootstrap batch duplicated index rows"
    assert idx.select("doc_id").distinct().count() == n
    # and the pipeline keeps maintaining the index normally afterwards
    pipe.process_batch(batches[2], 2)
    assert pipe.ivf_index().count() == pipe.corpus().count()


def test_ivf_index_maintained_incrementally(spark, tables, tmp_path):
    """The coarse IVF index must track the corpus exactly across micro-
    batches (bootstrap at 64 docs, then append-only assignment of fresh
    rows), and probing ALL clusters must reproduce the full-scan top-k."""
    docs = tables["documents"].limit(120).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "ivfstate"), k=6,
                          maintain_ivf=True)
    for b in range(3):
        pipe.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    idx = pipe.ivf_index()
    n_corpus = pipe.corpus().count()
    assert idx.count() == n_corpus  # every doc indexed exactly once
    assert idx.select("doc_id").distinct().count() == n_corpus
    cids = {r.cid for r in idx.select("cid").distinct().collect()}
    assert cids <= set(range(pipe.n_centroids))
    sample = docs.orderBy("doc_id").first()
    full = pipe.search_ivf(sample.text, k=6, probes=pipe.n_centroids)
    probed = pipe.search_ivf(sample.text, k=6, probes=2)
    # all-clusters probe == exact full scan; the identical doc is top hit
    brute = sorted(map(tuple, full.collect()))
    assert full.collect()[0].s == 1.0
    assert len(brute) == 6
    # narrow probe returns k rows drawn from the probed clusters only
    rows = probed.collect()
    assert len(rows) == 6 and rows[0].s == 1.0


def test_warm_serving_cached_plan_and_equality(spark, tables, tmp_path,
                                               monkeypatch):
    """Round-8 warm serving on the Spark tier (``DRIVER_TIER_BYTES`` at
    0): ``warm()`` pins the ``cid``-carrying corpus and the edges in
    executor memory; serving queries must then plan as in-memory scans
    — NO parquet scan between queries — and return row-identical
    results to the cold paths (driver-side query embed is the same
    kernel the UDF maps). For ``/search`` and ``search_ivf`` the plan is
    their kernel pool (``_search_pool``); both return the
    driver-finished answer."""
    from multi_model_vectorsearch_spark.streaming import ingest

    docs = tables["documents"].limit(120).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "wstate"), k=6,
                          maintain_ivf=True)
    for b in range(3):
        pipe.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    sample = docs.orderBy("doc_id").first()

    def snap(df):
        return sorted(map(tuple, df.collect()))

    cold_search = snap(pipe.search(sample.text, k=6))
    cold_probed = snap(pipe.search_ivf(sample.text, k=6, probes=2))
    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    sizes = pipe.warm()
    assert "corpus" in pipe._warm
    assert sizes["corpus_rows"] == 120 and sizes["index_rows"] == 120
    try:
        from multi_model_vectorsearch_spark.plans.explain import (
            scan_leaf_classes,
        )

        vec = pipe._query_vec(sample.text, "text")
        for df in (pipe._search_pool([vec], 6, route="auto",
                                     probes=2)[0],
                   pipe._search_pool([vec], 6)[0]):
            leaves = scan_leaf_classes(df)
            assert any("InMemoryTableScan" in c for c in leaves), leaves
            assert not any("FileSourceScan" in c or "BatchScan" in c
                           for c in leaves), (
                f"warm serving must not re-scan parquet state: {leaves}")
        assert snap(pipe.search(sample.text, k=6)) == cold_search
        assert snap(pipe.search_ivf(
            sample.text, k=6, probes=2)) == cold_probed
        # ingest invalidates the snapshot (stale serving would miss docs)
        pipe.process_batch(docs.limit(1), 99)
        assert not pipe._warm
    finally:
        pipe.unwarm()


def test_ohlc_batch_equivalence(spark, tables, replay):
    """dq184's bars from the file-replay stream equal the batch bars:
    every OHLC aggregate is algebraic, so incremental merge order can't
    change the result."""
    from multi_model_vectorsearch_spark.operators.timeseries import (
        dq184_ohlc_bars,
    )

    _stream_equals_batch(spark, replay, SW.ohlc_stream,
                         dq184_ohlc_bars(tables), "t_ohlc")


def test_ingest_neardup_flags_match_batch(spark, tables, tmp_path):
    """maintain_neardup=True: flags accumulated over two micro-batches
    equal dq181's one-shot batch pass over the same corpus — signature
    state persists across batches and flagged dups stay in the store.
    Exact-unique texts only (the pipeline's sha dedup would drop exact
    dups before signature time, which dq181 does not model)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from multi_model_vectorsearch_spark.operators.textpipe import (
        dq181_neardup_first_occurrence,
    )
    from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline

    docs = (
        tables["documents"]
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("text").orderBy("doc_id")))
        .filter("rn = 1")
        .select("doc_id", "text", F.lit("text").alias("modality"))
        .localCheckpoint(eager=True)
    )
    expect = {
        (r.doc_id, r.is_dup, r.dup_of)
        for r in dq181_neardup_first_occurrence(
            {"documents": docs}).collect()
    }
    pipe = IngestPipeline(spark, str(tmp_path / "state"),
                          maintain_neardup=True)
    # replay in doc_id order: "earlier doc" must mean lower doc_id, as in
    # the batch pass
    mid = docs.approxQuantile("doc_id", [0.5], 0)[0]
    pipe.process_batch(docs.filter(F.col("doc_id") <= mid), 0)
    pipe.process_batch(docs.filter(F.col("doc_id") > mid), 1)
    got = {
        (r.doc_id, r.is_dup, r.dup_of)
        for r in pipe.neardup_flags().collect()
    }
    assert got == expect


def test_ewma_stream_batch_equivalence(spark, tables, replay):
    """applyInPandasWithState EWMA: final emission per (user, hb) equals
    batch dq198 (same power-of-two integer kernel; the stream emits the
    unrounded division, so agreement is within the batch side's
    6-decimal rounding quantum)."""
    from multi_model_vectorsearch_spark.operators.timeseries import dq198_ewma

    import math

    ev = SW.read_event_stream(spark, replay)
    SW.run_to_memory(SW.ewma_stream(ev), "t_ewma", mode="update")
    emitted = spark.table("t_ewma")
    last = (
        emitted.withColumn("_i", F.monotonically_increasing_id())
        .groupBy("user_id", "hb")
        .agg(F.max_by("ewma", "_i").alias("ewma"))
    )
    got = {(r.user_id, r.hb): r.ewma for r in last.collect()}
    want = {(r.user_id, r.hb): r.ewma_micro
            for r in dq198_ewma(tables).collect()}
    assert set(got) == set(want)
    for k, v in want.items():
        # EXACT equivalence: both paths quantize cents HALF_UP and divide
        # the same integers with the same IEEE ops, so the batch value is
        # precisely the floor(x*1e6 + 0.5) micro snap of the stream's
        # unrounded emission (the same three IEEE ops applied here).
        assert math.floor(got[k] * 1_000_000.0 + 0.5) == v, (k, got[k], v)

def test_fat_batch_exact_and_ivf_join_operator(spark, tables, tmp_path):
    """On a maintained-IVF pipeline a fat batch (> max_collect) takes
    the EXACT chunked kernel — its neighbor set must equal the exact join
    reference row-for-row (the old routing sent fat batches through the
    approximate IVF-pruned join; exactness at any batch size is the point
    of the chunked path)."""
    docs = tables["documents"].limit(150).select(
        "doc_id", "text", F.lit("text").alias("modality"))
    # bootstrap corpus + index with a first batch
    pipe = IngestPipeline(spark, str(tmp_path / "ivf_s"), k=4,
                          max_collect=2, maintain_ivf=True,
                          ivf_bootstrap=8, n_centroids=4)
    pipe.process_batch(docs.filter("doc_id < 60"), 0)
    assert not pipe.centroids().isEmpty()
    assert not pipe.ivf_index().isEmpty()
    batch2 = docs.filter("doc_id >= 60")
    pipe.process_batch(batch2, 1)
    corpus = pipe.corpus()
    from multi_model_vectorsearch_spark.functions.embedding import (
        route_embedding,
    )
    fresh = (
        batch2.limit(20)
        .withColumn("content_sha256", F.sha2("text", 256))
        .withColumn("embedding",
                    route_embedding(F.col("text"), F.col("modality")))
        .select("doc_id", "content_sha256", "modality", "embedding")
        .localCheckpoint(eager=True)
    )
    exact_ref = pipe._balanced_select(
        _knn_join(corpus, fresh), pipe.k, pipe.k * 6)
    e_rows = sorted((r.qid, r.doc_id, r.rn, round(r.s, 6))
                    for r in exact_ref.collect())
    # a fat batch (20 > max_collect=2) is exact despite maintain_ivf
    got = pipe.knn_against_corpus(fresh, n_queries=20)
    assert sorted((r.qid, r.doc_id, r.rn, round(r.s, 6))
                  for r in got.collect()) == e_rows


# --- round-9: compact()/torn-batch hardening (r8 advisor findings) ----------


def _moddocs(tables, n):
    return tables["documents"].limit(n).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )


def test_compact_invalidates_warm_snapshot(spark, tables, tmp_path):
    """r8 advisor (medium): compact() swaps/deletes the parquet dirs the
    warm() caches' lineage points at — it must invalidate the snapshot
    like process_batch does, and serving must keep working after."""
    docs = _moddocs(tables, 24)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4)
    pipe.process_batch(docs, 0)
    sample = docs.orderBy("doc_id").first().text
    before = sorted(map(tuple, pipe.search(sample, k=4).collect()))
    pipe.warm()
    assert pipe._warm
    pipe.compact()
    assert not pipe._warm, "compact() must drop the warm snapshot"
    after = sorted(map(tuple, pipe.search(sample, k=4).collect()))
    assert after == before


def test_torn_nontrailing_submit_preserved_and_reported(spark, tmp_path):
    """r8 advisor: a facade submit torn mid-sequence and then buried by
    later successful submits is NON-trailing — compact() must still detect
    it (every key is checked), preserve its subdirectories verbatim, and
    report it via torn_batch_keys() since facade keys never replay."""


    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4)
    for i, txt in enumerate(["alpha doc", "beta doc", "gamma doc"]):
        pipe.submit(txt, "text", doc_id=100 + i)
    # simulate s1 killed between its corpus and edge commits
    os.remove(os.path.join(pipe.edges_dir, "s1", "_SUCCESS"))
    assert pipe.torn_batch_keys() == {"s1"}
    pipe.submit("delta doc", "text", doc_id=103)  # s3 succeeds after it
    assert pipe.torn_batch_keys() == {"s1"}
    n_before = pipe.corpus().count()
    pipe.compact()
    assert os.path.isdir(os.path.join(pipe._phys(pipe.corpus_dir), "s1")), \
        "torn submit's corpus subdirectory must be carried over un-folded"
    assert pipe.torn_batch_keys() == {"s1"}
    assert pipe.corpus().count() == n_before


def test_compact_heals_index_holes(spark, tables, tmp_path):
    """r8 advisor follow-through: a committed batch whose index write was
    lost (torn submit buried by later ones — facade keys never replay)
    leaves corpus rows with no IVF assignment. compact() under
    maintain_ivf must detect and heal the hole against the current
    centroids."""
    import shutil

    docs = _moddocs(tables, 120)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True)
    batches = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
    for b, bdf in enumerate(batches):
        pipe.process_batch(bdf, b)
    n = pipe.corpus().count()
    assert pipe.ivf_index().count() == n
    # b1 triggered the bootstrap, so it has a per-batch assignment;
    # simulate losing a NON-trailing batch's index write
    shutil.rmtree(os.path.join(pipe.index_dir, "b1"))
    n_hole = n - pipe.ivf_index().count()
    assert n_hole > 0
    done = pipe.compact()
    assert done.get("ivf_healed") == n_hole
    idx = pipe.ivf_index()
    assert idx.count() == n
    assert idx.select("doc_id").distinct().count() == n
    # idempotent: a second compact heals nothing
    assert pipe.compact().get("ivf_healed") == 0


def test_bootstrap_in_flight_detected_torn_and_replay_completes(
        spark, tables, tmp_path):
    """r8 advisor (bootstrap blind spot): index data WITHOUT committed
    centroids is a bootstrap caught mid-flight — the trailing batch must
    read as torn, compact() must carry it over, and a checkpoint replay
    must complete the bootstrap exactly-once."""
    import shutil

    docs = _moddocs(tables, 80)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True)
    batches = [docs.filter(F.col("doc_id") % 2 == b) for b in range(2)]
    pipe.process_batch(batches[0], 0)
    assert pipe.centroids().isEmpty()  # 40 < 64: not bootstrapped
    pipe.process_batch(batches[1], 1)  # bootstraps
    assert not pipe.centroids().isEmpty()
    # simulate the bootstrap crash window: root index written, centroids
    # not yet committed
    shutil.rmtree(pipe.centroids_dir)
    assert "b1" in pipe.torn_batch_keys()
    pipe.compact()
    assert os.path.isdir(os.path.join(pipe._phys(pipe.corpus_dir), "b1"))
    # at-least-once: the stream replays the torn epoch wholesale
    pipe.process_batch(batches[1], 1)
    assert not pipe.centroids().isEmpty()
    n = pipe.corpus().count()
    assert n == 80
    idx = pipe.ivf_index()
    assert idx.count() == n
    assert idx.select("doc_id").distinct().count() == n
    assert pipe.torn_batch_keys() == set()


def test_run_stream_refuses_unnamespaced_state(spark, tables, tmp_path):
    """r8 advisor (namespace migration hazard): attaching a stream
    checkpoint over legacy un-namespaced ``b<id>`` state must fail fast;
    after compact() folds the committed batches the stream attaches."""
    docs = _moddocs(tables, 20)
    src = str(tmp_path / "src")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4)
    pipe.process_batch(docs, 0)  # default namespace -> corpus/b0

    def stream():
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )

    with pytest.raises(RuntimeError, match="un-namespaced"):
        pipe.run_stream(stream(), str(tmp_path / "ck"))
    pipe.compact()  # no live checkpoint: committed b0 folds away
    pipe.run_stream(stream(), str(tmp_path / "ck"))
    assert pipe.corpus().count() == 20  # stream re-ingest deduped


# --- round-9: auto-sized IVF + replay-safe re-train --------------------------


def test_ivf_auto_sizing_retrain_replay_exactly_once(spark, tables, tmp_path,
                                                     state_backend):
    """r8 verdict item 1: with ``n_centroids=None`` the index bootstraps at
    ~sqrt(n) centroids and re-trains when the ideal count reaches 2x the
    active one. The re-train must be exactly-once under at-least-once
    batch delivery: replaying the triggering batch reproduces the index
    byte-for-byte (hash-ordered seeds + overwrite writes)."""
    docs = _moddocs(tables, 360)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16, **state_backend)
    b0 = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter(F.col("doc_id") >= 20)
    pipe.process_batch(b0, 0)
    c0 = pipe.centroids().count()
    assert c0 == pipe._target_centroids(20)  # sqrt sizing at bootstrap
    pipe.process_batch(b1, 1)  # 360 docs: target 19 >= 2*c0 -> re-train
    c1 = pipe.centroids().count()
    assert c1 == pipe._target_centroids(360) and c1 >= 2 * c0
    n = pipe.corpus().count()
    idx = pipe.ivf_index()
    assert idx.count() == n
    assert idx.select("doc_id").distinct().count() == n

    def state():
        return (sorted(map(tuple, pipe.ivf_index().collect())),
                sorted((r.cid, tuple(r.cvec))
                       for r in pipe.centroids().collect()))

    before = state()
    pipe.process_batch(b1, 1)  # at-least-once replay of the whole batch
    assert state() == before, "replayed re-train batch must be a no-op"
    # probing every cell reproduces the exact scan's top hit
    sample = docs.orderBy("doc_id").first()
    rows = pipe.search_ivf(sample.text, k=6, probes=c1).collect()
    assert rows[0].s == 1.0 and len(rows) == 6


def test_retrain_swap_seam_rolls_forward(spark, tables, tmp_path):
    """The one non-atomic seam in a re-train is between the index flip
    and the centroid flip. A committed staged centroids generation
    without a staged index generation is the redo record: any writer
    entry point must finish the flip, restoring a matched
    centroid/assignment pair."""
    docs = _moddocs(tables, 120)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.process_batch(docs, 0)
    cents_before = sorted(
        (r.cid, tuple(r.cvec)) for r in pipe.centroids().collect())
    # simulate the crash: index flip done, centroid flip pending — the
    # live centroids move into the staged next generation
    live = pipe._phys(pipe.centroids_dir)
    staged = pipe._stage_dir(pipe.centroids_dir)
    os.makedirs(staged)
    for entry in os.listdir(live):
        if not entry.startswith((".gen-", "_CURRENT")):
            os.rename(os.path.join(live, entry),
                      os.path.join(staged, entry))
    assert pipe.centroids().isEmpty()  # degraded (full-scan) window
    pipe.compact()  # any writer entry point rolls the seam forward
    assert sorted((r.cid, tuple(r.cvec))
                  for r in pipe.centroids().collect()) == cents_before
    n = pipe.corpus().count()
    assert pipe.ivf_index().count() == n
    sample = docs.orderBy("doc_id").first()
    rows = pipe.search_ivf(sample.text, k=6).collect()
    assert rows[0].s == 1.0


# --- round-9 verdict item 7: RocksDB state store --------------------------
# The four stateful surfaces (B44/B45 dedup x2, the two
# applyInPandasWithState operators) must produce identical output under
# the default HDFS-backed provider and RocksDB. State-size behavior: the
# default provider holds each store's full map in executor heap (caps
# dedup at O(keys-in-horizon) x heap); RocksDB spills to local disk with
# a block-cache working set, so state is disk-bounded — the scale
# configuration for B44/B45. See windows.state_store_provider.

_STATEFUL_SURFACES = {
    "dedup": (lambda ev: SW.dedup_stream(ev.union(ev), watermark="365 days"),
              "append"),
    "dedup_wm": (lambda ev: SW.dedup_within_watermark_stream(
        ev.union(ev), watermark="365 days"), "append"),
    "user_totals": (SW.stateful_user_totals, "update"),
    "ewma": (SW.ewma_stream, "update"),
}


@pytest.mark.parametrize("name", sorted(_STATEFUL_SURFACES))
def test_stateful_surface_rocksdb_equivalence(spark, replay, name):
    fn, mode = _STATEFUL_SURFACES[name]
    results = {}
    for tag in ("default", "rocksdb"):
        tbl = f"t_ss_{name}_{tag}"
        if tag == "rocksdb":
            with SW.state_store_provider(spark, SW.ROCKSDB_PROVIDER):
                SW.run_to_memory(fn(SW.read_event_stream(spark, replay)),
                                 tbl, mode=mode)
        else:
            SW.run_to_memory(fn(SW.read_event_stream(spark, replay)),
                             tbl, mode=mode)
        results[tag] = _rows(spark.table(tbl))
    assert results["rocksdb"] == results["default"], name
    assert results["rocksdb"], name  # non-vacuous


# --- round-9: bulk_load backfill ------------------------------------------

def _mk_docs(tables, lo, hi):
    return tables["documents"].filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"))


def test_bulk_load_backfill_then_incremental(spark, tables, tmp_path):
    """bulk_load lands corpus + IVF state without edges; a later
    process_batch sees bulk-loaded docs as dedup state AND as KNN
    candidates; re-loading the same docs adds nothing."""
    pipe = IngestPipeline(spark, str(tmp_path / "bl"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    key = pipe.bulk_load(_mk_docs(tables, 0, 60))
    assert key == "l0"
    assert pipe.corpus().count() == 60
    assert pipe.edges().count() == 0  # contract: no edges until a graph pass
    # IVF bootstrapped over the bulk corpus: every doc assigned, once
    assert pipe.ivf_index().count() == 60
    assert pipe.ivf_index().select("doc_id").distinct().count() == 60
    # serving works immediately
    q = _mk_docs(tables, 0, 1).first().text
    rows = pipe.search_ivf(q, k=4).collect()
    assert rows and rows[0].s == 1.0
    # idempotent: same docs again -> nothing fresh
    pipe.bulk_load(_mk_docs(tables, 0, 60))
    assert pipe.corpus().count() == 60
    # incremental batch on top: only ITS docs get edges, and its neighbors
    # may include bulk-loaded docs
    pipe.process_batch(_mk_docs(tables, 60, 70), 0)
    assert pipe.corpus().count() == 70
    e = pipe.edges()
    assert e.count() > 0
    new_ids = set(range(60, 70))
    touched = {v for r in e.select("src", "dst").collect() for v in (r.src, r.dst)}
    assert touched - new_ids, "bulk-loaded docs never appear as neighbors"


def test_bulk_load_same_key_retry_exactly_once(spark, tables, tmp_path):
    pipe = IngestPipeline(spark, str(tmp_path / "bl2"), k=4)
    pipe.bulk_load(_mk_docs(tables, 0, 30), key="l7")
    pipe.bulk_load(_mk_docs(tables, 0, 30), key="l7")  # retry, same key
    assert pipe.corpus().count() == 30
    assert pipe.torn_batch_keys() == set()
    # compact folds the bulk key like any committed batch
    pipe.compact()
    assert pipe.corpus().count() == 30


def test_auto_ivf_lloyd_recall_and_determinism(spark, tables, tmp_path):
    """Auto-sized serving quality contract: Lloyd-refined cells +
    2·√ncent auto-probing hold recall@10 at-or-above the dq120 gauge
    class (≥0.8 asserted; measured 0.95+ at the 5k corpus), and the
    refinement is REPLAY-EXACT — two independent builds over the same
    corpus produce bit-identical centroids (integer-lane sums, no
    double-summation order dependence)."""
    docs = _mk_docs(tables, 0, 80)
    cents = []
    for i in range(2):
        pipe = IngestPipeline(spark, str(tmp_path / f"lr{i}"), k=4,
                              maintain_ivf=True, n_centroids=None,
                              ivf_bootstrap=16)
        pipe.bulk_load(docs)
        cents.append(sorted((r.cid, tuple(r.cvec))
                            for r in pipe.centroids().collect()))
    assert cents[0] == cents[1]

    ncent = len(cents[0])
    import math

    from multi_model_vectorsearch_spark.streaming.ingest import IVF_PROBES
    assert pipe._auto_probes(ncent) == max(
        IVF_PROBES, 2 * math.isqrt(ncent))

    queries = [r.text for r in docs.orderBy("doc_id").limit(5).collect()]
    hits = 0
    for q in queries:
        exact = {r.doc_id for r in
                 pipe.search_ivf(q, k=10, probes=ncent).collect()}
        approx = {r.doc_id for r in pipe.search_ivf(q, k=10).collect()}
        hits += len(exact & approx)
    assert hits / (10 * len(queries)) >= 0.8


def test_build_graph_exact_equals_single_batch_edges(spark, tables, tmp_path):
    """bulk_load + build_graph (exact route, no index) must produce
    edge-for-edge the same graph as process_batch ingesting the same docs
    in ONE batch: both run knn_against_corpus over identical corpus and
    query sets, so the backfill contract 'graph built afterwards in one
    pass' is exact parity, not an approximation."""
    docs = _mk_docs(tables, 0, 50)
    a = IngestPipeline(spark, str(tmp_path / "a"), k=4)
    a.bulk_load(docs)
    assert a.edges().count() == 0
    gkey = a.build_graph()
    assert gkey == "g0"
    b = IngestPipeline(spark, str(tmp_path / "b"), k=4)
    b.process_batch(docs, 0)
    ea = sorted((r.src, r.dst, r.score) for r in a.edges().collect())
    eb = sorted((r.src, r.dst, r.score) for r in b.edges().collect())
    assert ea == eb and ea
    # the serving path consumes them: /graph-data hydrates
    nodes, kept = a.graph_data()
    assert nodes.count() > 0 and kept.count() == len(ea)


def test_build_graph_ivf_route_probed(spark, tables, tmp_path):
    """With a live auto-sized index build_graph takes the probed cell
    build (each doc queries its own cell and its next-nearest ones):
    canonical invariants hold, every scored pair shared with the exact
    graph carries the identical snapped score, and overlap with the
    exact edge set is high (the probed route is approximate exactly as
    search_ivf is)."""
    docs = _mk_docs(tables, 0, 80)
    pipe = IngestPipeline(spark, str(tmp_path / "ivf"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    pipe.build_graph()
    e = {(r.src, r.dst): r.score for r in pipe.edges().collect()}
    assert e
    assert all(s < d for (s, d) in e)
    exact = IngestPipeline(spark, str(tmp_path / "ex"), k=4)
    exact.bulk_load(docs)
    exact.build_graph()
    ee = {(r.src, r.dst): r.score for r in exact.edges().collect()}
    shared = set(e) & set(ee)
    assert len(shared) / len(ee) >= 0.5
    assert all(e[p] == ee[p] for p in shared)


def test_build_graph_torn_key_detected_and_preserved(spark, tables, tmp_path):
    import os
    docs = _mk_docs(tables, 0, 30)
    pipe = IngestPipeline(spark, str(tmp_path / "t"), k=4)
    pipe.bulk_load(docs)
    pipe.build_graph()
    # simulate a graph build killed mid-write: edges/g1 without _SUCCESS
    torn_dir = os.path.join(pipe.edges_dir, "g1")
    os.makedirs(torn_dir)
    committed = pipe.edges().count()
    import shutil as _sh
    src = next(f for f in os.listdir(os.path.join(pipe.edges_dir, "g0"))
               if f.endswith(".parquet"))
    _sh.copy(os.path.join(pipe.edges_dir, "g0", src),
             os.path.join(torn_dir, src))
    assert "g1" in pipe.torn_batch_keys()
    pipe.compact()
    # the torn key is preserved verbatim, not folded into flat state
    assert os.path.isdir(os.path.join(pipe._phys(pipe.edges_dir), "g1"))
    assert "g1" in pipe.torn_batch_keys()
    # repair = rerun with the same key; the overwrite commits it
    pipe.build_graph(key="g1")
    assert "g1" not in pipe.torn_batch_keys()
    assert pipe.edges().count() >= committed
    # the g-sequence is derived from the EDGES store (g-keys never write
    # corpus rows): the next auto key advances past both committed builds
    assert pipe._next_key("g", root=pipe.edges_dir) == "g2"


def _assign_join_oracle(docs, cents):
    """The JVM assignment plan the engine no longer runs, kept as the
    kernel's oracle: broadcast the centroid set, score each doc × centroid
    pair with the snapped JVM cosine, and fold each doc's candidates with
    ``max_by`` over (snapped cosine, -cid) — highest score, lowest cid."""
    from multi_model_vectorsearch_spark.functions.fixedpoint import (
        snap_double,
    )
    from multi_model_vectorsearch_spark.functions.vector import (
        cosine_similarity,
    )

    sims = docs.select("doc_id", "embedding").crossJoin(
        F.broadcast(cents)).select(
        "doc_id", "cid",
        snap_double(cosine_similarity(F.col("embedding"), F.col("cvec")))
        .alias("cs"),
    )
    return sims.groupBy("doc_id").agg(
        F.max_by("cid", F.struct(F.col("cs"), (-F.col("cid")).alias("nc")))
        .alias("cid"))


def _routed_assign_oracle(pipe, docs, crows):
    """Assignment as the relational upkeep routed it: the JVM plan below
    64 centroids, the numpy kernel from 64 up."""
    from multi_model_vectorsearch_spark.streaming.ingest import (
        CENTROID_SCHEMA,
    )

    if len(crows) >= 64:
        return pipe._assign(docs, crows)
    return _assign_join_oracle(docs, pipe.spark.createDataFrame(
        [(r.cid, list(r.cvec)) for r in crows], CENTROID_SCHEMA))


def _lloyd_relational_oracle(pipe, corpus, cents):
    """The relational Lloyd plan the fused pass replaced, kept as its
    oracle: per iteration, assign (routed as above), join back to the
    corpus, ``posexplode`` each embedding into lanes, sum the 1e-9-grid
    int64 lanes and count per (cid, pos), divide ``sx / n / 1e9``, and
    keep the previous vector of every cell that lost all members."""
    from multi_model_vectorsearch_spark.streaming.ingest import LLOYD_ITERS

    for _ in range(LLOYD_ITERS):
        assigned = _routed_assign_oracle(pipe, corpus, cents.collect()).join(
            corpus.select("doc_id", "embedding"), "doc_id")
        lanes = assigned.select(
            "cid", F.posexplode("embedding").alias("pos", "x"))
        sums = lanes.groupBy("cid", "pos").agg(
            F.sum(F.floor(F.col("x") * 1e9 + F.lit(0.5)).cast("bigint"))
            .alias("sx"),
            F.count("*").alias("n"),
        )
        new = (
            sums.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct(
                "pos",
                (F.col("sx") / F.col("n") / F.lit(1e9)).alias("m"),
            ))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s.m).alias("cvec"))
        )
        cents = new.unionByName(
            cents.join(new.select("cid"), "cid", "left_anti")
        ).localCheckpoint(eager=True)
    return cents


def _embedded(docs):
    from multi_model_vectorsearch_spark.functions.embedding import (
        route_embedding,
    )

    return docs.select(
        "doc_id",
        route_embedding(F.col("text"), F.col("modality")).alias("embedding"),
    ).localCheckpoint(eager=True)


def _seed_plan_oracle(emb, ncent):
    """The Spark seed plan ``_seed_centroids`` replaced, kept as the
    oracle: TakeOrdered by (xxhash64(doc_id), doc_id), then cids numbered
    by a doc_id ``row_number`` window over the ``ncent`` seed rows."""
    from pyspark.sql import Window

    seeds = (emb.select("doc_id", "embedding")
             .orderBy(F.xxhash64("doc_id"), "doc_id").limit(ncent))
    return seeds.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .cast("int").alias("cid"),
        F.col("embedding").alias("cvec"))


def _cent_bytes(rows):
    import numpy as np

    return sorted((r.cid, np.asarray(r.cvec, dtype=np.float64).tobytes())
                  for r in rows)


def test_assign_kernel_matches_join(spark, tables, tmp_path):
    """The numpy-kernel assignment is row-identical to the JVM expression
    plan (``_assign_join_oracle``) on the fixture corpus (snap-absorbed
    ulp contract — see _assign's docstring), including the equal-score →
    lowest-cid tie-break, at a centroid count (80) on the kernel side of
    the old 64-centroid route split, and whatever order the rows arrive
    in.

    FIXTURE DEPENDENCY: matmul vs sequential-fold summation differ by a
    few ulps; byte-identity holds because no fixture score lands exactly
    on a 1e-6 snap-bucket boundary. On another corpus this equality
    could legitimately differ by one snap bucket (1e-6)."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4)
    emb = _embedded(_moddocs(tables, 300))
    crows = pipe._seed_centroids(emb, 80)
    cents = pipe._centroid_frame(crows)
    assert len(crows) >= 64
    jvm = sorted(map(tuple, _assign_join_oracle(emb, cents).collect()))
    ker = sorted(map(tuple, pipe._assign(emb, crows).collect()))
    assert jvm == ker
    routed = sorted(map(tuple, pipe._assign(emb, crows[::-1]).collect()))
    assert routed == ker
    # duplicate centroid vectors force exact snapped-score ties: both
    # paths must break toward the LOWEST cid
    dup = spark.createDataFrame(
        [(i, crows[0].cvec) for i in range(70)], "cid int, cvec array<double>")
    ker_dup = pipe._assign(emb, dup.collect()[::-1]).collect()
    assert {r.cid for r in ker_dup} == {0}
    jvm_dup = _assign_join_oracle(emb, dup).collect()
    assert {r.cid for r in jvm_dup} == {0}


@pytest.mark.parametrize("route", ["jvm", "kernel"])
def test_lloyd_fused_pass_matches_relational_plan(spark, tables, tmp_path,
                                                  route):
    """The fused Lloyd pass (one ``mapInPandas`` per iteration, int64
    lane partials folded by one cid-keyed aggregation) yields centroids
    byte-identical to the relational ``posexplode`` plan it replaced, and
    the refined set assigns every doc to the same cell as the old routed
    assignment did. Both sides of the old route split: ~9 cells on 80
    docs (the JVM plan's side, below 64) and 80 seeds on 300 docs (the
    kernel's side). A duplicate of cid 0's seed under a high cid wins no
    doc in the first iteration (lowest-cid tie-break), so that iteration
    exercises the empty-cell rule: the vector stays as it was. The seeds,
    numbered on the driver, equal the old window-numbered seed plan
    (``_seed_plan_oracle``) byte for byte."""
    from pyspark.sql import Row

    from multi_model_vectorsearch_spark.streaming import ingest
    from multi_model_vectorsearch_spark.streaming.ingest import (
        CENTROID_SCHEMA,
    )

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    if route == "jvm":
        emb = _embedded(_mk_docs(tables, 0, 80))
        ncent = pipe._target_centroids(80)
        assert ncent < 64
    else:
        emb = _embedded(_moddocs(tables, 300))
        ncent = 80
    seeds = pipe._seed_centroids(emb, ncent)
    assert _cent_bytes(seeds) == _cent_bytes(
        _seed_plan_oracle(emb, ncent).collect())
    seeds.append(Row(cid=1000, cvec=seeds[0].cvec))
    want = _lloyd_relational_oracle(
        pipe, emb, spark.createDataFrame(
            [(r.cid, list(r.cvec)) for r in seeds], CENTROID_SCHEMA)
    ).collect()
    got = pipe._lloyd_refine(emb, seeds)
    assert [r.cid for r in got] == sorted(r.cid for r in seeds)
    assert _cent_bytes(got) == _cent_bytes(want)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ingest, "LLOYD_ITERS", 1)
        first = pipe._lloyd_refine(emb, seeds)
    assert _cent_bytes(first[-1:]) == _cent_bytes(seeds[-1:])
    assert _cent_bytes(first[:1]) != _cent_bytes(seeds[:1])
    assert (sorted(map(tuple, pipe._assign(emb, got).collect()))
            == sorted(map(tuple, _routed_assign_oracle(
                pipe, emb, want).collect())))


# Spark jobs per IVF upkeep call on the fixture below, as this engine
# measures them. The relational upkeep ran 33 (bootstrap), 9 (steady
# batch) and 30 (retrain()) at the benchmark's 100-doc size; the steady
# batch ran 4 while it counted the corpus itself (process_batch now hands
# its one count down). Raise a budget only with a note in CHANGES.md
# saying why.
UPKEEP_JOB_BUDGET = {"bootstrap": 11, "batch": 2, "retrain": 9}


def test_ivf_upkeep_job_budget(spark, tables, tmp_path):
    """Per-call Spark job counts of the IVF upkeep stay within
    ``UPKEEP_JOB_BUDGET``: ``_update_index`` at bootstrap (100 docs) and
    on a steady-state 30-doc batch, and an operator ``retrain()``. Jobs
    are counted from each call's job group."""
    sc = spark.sparkContext
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    jobs: list[int] = []

    def counted(fn, *args, **kwargs):
        group = f"upkeep-budget-{len(jobs)}"
        sc.setJobGroup(group, "IVF upkeep job budget")
        try:
            fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    update = pipe._update_index
    pipe._update_index = lambda *a, **kw: counted(update, *a, **kw)
    pipe.bulk_load(_mk_docs(tables, 0, 100))
    pipe.process_batch(_mk_docs(tables, 100, 130), 0)
    del pipe._update_index
    assert pipe.centroids().count() == pipe._target_centroids(100)
    counted(pipe.retrain)
    got = dict(zip(("bootstrap", "batch", "retrain"), jobs))
    assert got.keys() == UPKEEP_JOB_BUDGET.keys()
    for call, budget in UPKEEP_JOB_BUDGET.items():
        assert got[call] <= budget, (call, got)


# Spark jobs per call on the fixture below, as this engine measures
# them. Before serving pooled with the kernel and finished on the driver,
# a warm search ran 4 and an 8-query search_many 11; before process_batch
# shared its corpus count with the index upkeep, a 30-doc batch ran 16,
# and 14 before its fresh-row cut materialized in its count; before the
# warm corpus carried each row's cid, the probed search_many broadcast
# its cells' members in a job of its own and ran 3. "submit" is a
# one-doc process_batch whose pinned neighbour rows are its answer (22
# when it scored its doc a second time). "warm" holds one copy: one
# union count sizes it, and under DRIVER_TIER_BYTES it is collected to
# the driver with no executor cache (13 when it cached every store and
# then collected from the caches); the warm driver tier answers search,
# search_many and search_ivf with none. The spark_* entries are the same
# calls on the Spark route (DRIVER_TIER_BYTES at 0): the re-warm that
# caches the corpus and edges (11 when it also pinned the index), pool
# and seed edges for search/search_many, the pool alone for search_ivf.
# Raise a budget only with a note in CHANGES.md saying why.
SERVE_JOB_BUDGET = {"process_batch": 13, "submit": 15, "warm": 6,
                    "search": 0, "search_many": 0, "search_ivf": 0,
                    "spark_warm": 8, "spark_search": 2,
                    "spark_search_many": 2, "spark_search_ivf": 1}


def test_serve_job_budget(spark, tables, tmp_path, monkeypatch):
    """Per-call Spark job counts stay within ``SERVE_JOB_BUDGET``: a
    30-doc ``process_batch`` on an auto-sized IVF pipeline, one
    collected ``submit()``, ``warm()``, then, warm, one exact
    ``search``, an 8-query ``search_many`` on the auto route and one
    ``search_ivf``, each collected — on the driver tier, and again on
    the Spark route after a re-warm with ``DRIVER_TIER_BYTES`` at 0.
    Jobs are counted from each call's job group."""
    from multi_model_vectorsearch_spark.streaming import ingest

    sc = spark.sparkContext
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=10,
                          maintain_ivf=True, n_centroids=None)
    pipe.bulk_load(_mk_docs(tables, 0, 100))
    pipe.build_graph(method="cells")
    got: dict = {}

    def counted(call, fn):
        group = f"serve-budget-{call}"
        sc.setJobGroup(group, "serving job budget")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[call] = len(sc.statusTracker().getJobIdsForGroup(group))
        return out

    counted("process_batch",
            lambda: pipe.process_batch(_mk_docs(tables, 100, 130), 0))
    assert counted("submit", lambda: pipe.submit(
        "a submitted document about job budgets").collect())
    texts = [r.text for r in _mk_docs(tables, 0, 130)
             .filter(F.col("doc_id") % 16 == 3).limit(8).collect()]
    assert len(texts) == 8

    def serve(tier):
        rows = counted(tier + "search",
                       lambda: pipe.search(texts[0], k=10).collect())
        many = counted(tier + "search_many",
                       lambda: pipe.search_many(texts, k=10).collect())
        ann = counted(tier + "search_ivf",
                      lambda: pipe.search_ivf(texts[1], k=10).collect())
        assert rows and ann and {r.qid for r in many} == set(range(8))

    counted("warm", pipe.warm)
    assert "driver" in pipe._warm
    serve("")
    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    pipe.unwarm()
    counted("spark_warm", pipe.warm)
    assert "driver" not in pipe._warm
    serve("spark_")
    assert got.keys() == SERVE_JOB_BUDGET.keys()
    for call, budget in SERVE_JOB_BUDGET.items():
        assert got[call] <= budget, (call, got)


def test_warm_serving_compiles_nothing(spark, tables, tmp_path, monkeypatch):
    """Warm serving compiles no generated code, route switches included.
    On the driver tier no call reaches Spark, so an interleaved sequence
    — exact ×8, auto, ``search_many``, exact, ``search_ivf``, auto,
    ``search_many``, exact — compiles nothing from its first call. On
    the Spark route (``DRIVER_TIER_BYTES`` at 0), after one warmup call
    of each kind, warm ``search`` on the exact and auto routes and
    ``search_many`` on texts not seen before compile nothing, and
    neither does the same interleaved sequence. Their filters take the
    seed and cell ids as one array literal, which generated code reads
    from its references; an ``IN`` of up to 10 literals put the values
    in the code, so each new query compiled ~2.6 classes (~3 exact,
    ~5.7 auto on this fixture). ``search`` builds its answer directly,
    so the first ``search_many`` after single searches plans no new
    answer shape (it compiled 1 class when ``search`` dropped
    ``qid``)."""
    from multi_model_vectorsearch_spark.streaming import ingest

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=10,
                          maintain_ivf=True, n_centroids=None)
    pipe.bulk_load(_mk_docs(tables, 0, 100))
    pipe.build_graph(method="cells")
    texts = iter(sorted({r.text for r in _mk_docs(tables, 0, 400)
                         .collect()}))
    calls = {
        "exact": lambda: pipe.search(next(texts), route="exact").collect(),
        "auto": lambda: pipe.search(next(texts), route="auto").collect(),
        "many": lambda: pipe.search_many(
            [next(texts) for _ in range(4)]).collect(),
        "ivf": lambda: pipe.search_ivf(next(texts)).collect(),
    }
    compiled = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())

    def interleaved():
        seq = ["exact"] * 8 + ["auto", "many", "exact", "ivf", "auto",
                               "many", "exact"]
        before = compiled.getCount()
        answered = sum(bool(calls[c]()) for c in seq)
        return compiled.getCount() - before, answered == len(seq)

    pipe.warm()
    assert "driver" in pipe._warm
    assert interleaved() == (0, True)

    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    pipe.unwarm()
    pipe.warm()
    assert "driver" not in pipe._warm
    for call in calls.values():
        call()
    got = {}
    for name in ("exact", "auto", "many"):
        before = compiled.getCount()
        answered = sum(bool(calls[name]()) for _ in range(5))
        got[name] = (compiled.getCount() - before, answered)
    got["interleaved"] = interleaved()
    assert got == {"exact": (0, 5), "auto": (0, 5), "many": (0, 5),
                   "interleaved": (0, True)}, got


# Spark jobs per build_graph call on the fixture below, as this engine
# measures them: the within-cell build ("cells") and the default route
# with a live index ("auto", the probed build). Both budgets are the
# counts measured before the probed build moved from its JVM pair join
# to the cell-group kernel (it now runs 10). Raise a budget only with a
# note in CHANGES.md saying why.
GRAPH_JOB_BUDGET = {"cells": 10, "auto": 12}


def test_graph_job_budget(spark, tables, tmp_path):
    """Per-call Spark job counts of ``build_graph`` stay within
    ``GRAPH_JOB_BUDGET`` on a 100-doc auto-sized IVF pipeline. Jobs are
    counted from each call's job group."""
    sc = spark.sparkContext
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=10,
                          maintain_ivf=True, n_centroids=None)
    pipe.bulk_load(_mk_docs(tables, 0, 100))
    got: dict = {}

    def counted(call, fn):
        group = f"graph-budget-{call}"
        sc.setJobGroup(group, "graph build job budget")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[call] = len(sc.statusTracker().getJobIdsForGroup(group))

    counted("cells", lambda: pipe.build_graph(method="cells"))
    counted("auto", lambda: pipe.build_graph())
    assert got.keys() == GRAPH_JOB_BUDGET.keys()
    for call, budget in GRAPH_JOB_BUDGET.items():
        assert got[call] <= budget, (call, got)


def test_search_many_collect_bound(spark, tmp_path):
    """``search_many`` ships its query vectors in the kernel closure and
    collects up to P × pool_k × M pool rows, so more than ``max_collect``
    texts raise — through the serving facade too — instead of silently
    falling back."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), max_collect=2)
    with pytest.raises(ValueError, match="max_collect"):
        pipe.search_many(["a", "b", "c"])
    with pytest.raises(ValueError, match="max_collect"):
        pipe.serve_search_many(["a", "b", "c"])


def test_build_graph_method_override(spark, tables, tmp_path):
    """method='exact' on an indexed pipeline produces the exact-kernel
    graph byte-identically to the index-free pipeline; method='ivf'
    without an index fails fast; unknown methods are rejected."""
    docs = _mk_docs(tables, 0, 60)
    pipe = IngestPipeline(spark, str(tmp_path / "ivf"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    pipe.build_graph(method="exact")
    got = sorted(map(tuple, pipe.edges().collect()))

    ref = IngestPipeline(spark, str(tmp_path / "ex"), k=4)
    ref.bulk_load(docs)
    ref.build_graph()
    assert got == sorted(map(tuple, ref.edges().collect()))

    import pytest as _pytest
    with _pytest.raises(ValueError, match="requires a live IVF index"):
        ref.build_graph(method="ivf")
    with _pytest.raises(ValueError, match="unknown method"):
        pipe.build_graph(method="bogus")


def test_search_route_ivf_lossless_at_full_probing(spark, tables, tmp_path):
    """search(route='ivf', probes=n_centroids) is row-identical to the
    exact route (probing every cell degenerates to the full scan), the
    default-probe route returns the same shape, and bad routes fail."""
    docs = _mk_docs(tables, 0, 80)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    pipe.build_graph()
    ncent = pipe.centroids().count()
    q = docs.orderBy("doc_id").first().text

    exact = sorted(map(tuple, pipe.search(q, k=4).collect()))
    full = sorted(map(tuple,
                      pipe.search(q, k=4, route="ivf",
                                  probes=ncent).collect()))
    assert exact == full
    probed = pipe.search(q, k=4, route="ivf").collect()
    assert len(probed) == len(exact)
    auto = sorted(map(tuple, pipe.search(q, k=4, route="auto",
                                         probes=ncent).collect()))
    assert auto == exact
    # warm state serves the probed route too, identically
    pipe.warm()
    try:
        warm_full = sorted(map(tuple,
                               pipe.search(q, k=4, route="ivf",
                                           probes=ncent).collect()))
        assert warm_full == exact
    finally:
        pipe.unwarm()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown route"):
        pipe.search(q, route="bogus")


def _probe_selection_oracle(cents, qv, probes):
    """The JVM probe-selection plan serving used before every route
    picked its cells on the driver: top-``probes`` centroids by
    (cosine desc, cid asc)."""
    from multi_model_vectorsearch_spark.functions.vector import (
        cosine_similarity,
    )

    return (cents.select("cid", cosine_similarity(F.col("cvec"), qv)
                         .alias("cs"))
            .orderBy(F.desc("cs"), F.asc("cid")).limit(probes)
            .select("cid"))


def test_warm_probe_selection_matches_cold(spark, tables, tmp_path):
    """Serving picks probe cells with a driver-side numpy argsort over
    the centroid rows (``_probe_cids_local``: warm reads use the rows
    ``warm()`` collected, cold reads collect their bracket's view). Same
    (cos desc, cid asc) rule as the JVM plan it replaced
    (``_probe_selection_oracle``) — pinned cid-identical at DEFAULT
    probes on the fixture corpus (full probing would mask a selection
    difference), and cold and warm ``search_ivf`` answer alike.
    FIXTURE DEPENDENCY: dot-product summation-order ulps could reorder
    near-equal centroids off this fixture (the documented _assign-class
    contract)."""
    docs = _moddocs(tables, 200)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    queries = [r.text for r in docs.orderBy("doc_id").limit(6).collect()]
    cents = pipe.centroids()
    crows = cents.collect()
    probes = pipe._auto_probes(len(crows))
    assert probes < len(crows)
    for q in queries:
        vec = pipe._query_vec(q, "text")
        want = [r.cid for r in _probe_selection_oracle(
            cents, F.lit(vec), probes).collect()]
        assert pipe._probe_cids_local(crows, vec, probes) == want
    cold = [sorted(map(tuple, pipe.search_ivf(q, k=6).collect()))
            for q in queries]
    pipe.warm()
    try:
        assert "cent_rows" in pipe._warm
        warm = [sorted(map(tuple, pipe.search_ivf(q, k=6).collect()))
                for q in queries]
    finally:
        pipe.unwarm()
    assert warm == cold


def test_search_route_ivf_media_queries(spark, tables, tmp_path):
    """r9 verdict item 7 (serving-route matrix closed): the `/search`
    media path — the reference's temp-write → embed → search file flow
    (main.py:102-111), here ``search(content, modality=...)`` — gets the
    probed route too. Image and audio queries must (a) route through the
    same probed plan SHAPE as a text query (node-class sequence equal up
    to the query literal), (b) be lossless at probes = n_centroids
    against the exact route, and (c) keep the audio-through-image
    embedding quirk (vec.py:20-21): the identical audio document is the
    top hit at s = 1.0."""
    docs = _moddocs(tables, 120)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    pipe.build_graph()
    ncent = pipe.centroids().count()
    by_mod = {r.modality: r.text for r in docs.orderBy("doc_id").collect()}

    def node_classes(df):
        out = []

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.initialPlan())
                return
            out.append(cls)
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return out

    text_plan = node_classes(pipe.search(by_mod["text"], k=6, route="ivf"))
    for modality in ("image", "audio"):
        q = by_mod[modality]
        exact = sorted(map(tuple,
                           pipe.search(q, k=6, modality=modality).collect()))
        full = sorted(map(tuple,
                          pipe.search(q, k=6, modality=modality,
                                      route="ivf", probes=ncent).collect()))
        assert full == exact and len(exact) > 0
        probed = pipe.search(q, k=6, modality=modality, route="ivf")
        assert node_classes(probed) == text_plan
        rows = probed.collect()
        assert rows and rows[0].score == 1.0  # the identical doc, probed


def test_search_route_ivf_requires_live_index(spark, tables, tmp_path):
    """An EXPLICIT route='ivf' on an index-less pipeline raises (same
    contract as build_graph(method='ivf')) instead of silently paying
    the full-scan latency the route exists to avoid; route='auto' keeps
    the silent fallback and matches the exact route row-for-row."""
    import pytest as _pytest

    docs = _mk_docs(tables, 0, 30)
    pipe = IngestPipeline(spark, str(tmp_path / "noivf"), k=4)
    pipe.bulk_load(docs)
    pipe.build_graph()
    q = docs.orderBy("doc_id").first().text
    with _pytest.raises(ValueError, match="no live IVF index"):
        pipe.search(q, k=4, route="ivf")
    exact = sorted(map(tuple, pipe.search(q, k=4).collect()))
    auto = sorted(map(tuple, pipe.search(q, k=4, route="auto").collect()))
    assert auto == exact


def test_build_graph_cells_method(spark, tables, tmp_path):
    """method='cells': canonical edge invariants hold, every pair shared
    with the exact graph carries the identical snapped score, overlap is
    meaningful (cells capture near neighbors), and a one-cell index
    makes the within-cell build EQUAL the exact build (the whole corpus
    is the cohort, so nothing is pruned). Probing every cell
    (``method="ivf"``, ``probes`` = the centroid count) makes the cell
    build EQUAL the exact build too: each query scores every doc, one
    cell group at a time, and the merged group pools are its global pool.

    FIXTURE DEPENDENCY: shared-pair score equality relies on no fixture
    score landing exactly on a 1e-6 snap-bucket boundary (matmul vs
    fold ulp difference — see _assign's docstring); off this fixture a
    one-bucket (1e-6) difference would be within contract. The same
    holds for the two exact equalities (dgemm block shapes differ
    between a cell group and the exact build's corpus pass)."""
    docs = _mk_docs(tables, 0, 80)
    pipe = IngestPipeline(spark, str(tmp_path / "c"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(docs)
    assert pipe.centroids().count() > 1
    pipe.build_graph(method="cells")
    cells = {(r.src, r.dst): r.score for r in pipe.edges().collect()}
    assert cells and all(s < d for (s, d) in cells)

    exact = IngestPipeline(spark, str(tmp_path / "e"), k=4)
    exact.bulk_load(docs)
    exact.build_graph()
    ee = {(r.src, r.dst): r.score for r in exact.edges().collect()}
    shared = set(cells) & set(ee)
    assert shared, "within-cell graph shares edges with the exact graph"
    assert all(cells[p] == ee[p] for p in shared)

    # one cell = no pruning: within-cell build == exact build exactly
    one = IngestPipeline(spark, str(tmp_path / "o"), k=4,
                         maintain_ivf=True, n_centroids=1,
                         ivf_bootstrap=16)
    one.bulk_load(docs)
    one.build_graph(method="cells")
    got = {(r.src, r.dst): r.score for r in one.edges().collect()}
    assert got == ee

    # every cell probed: the probed build == exact build exactly
    full = IngestPipeline(spark, str(tmp_path / "f"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    full.bulk_load(docs)
    full.build_graph(method="ivf", probes=full.centroids().count())
    got = {(r.src, r.dst): r.score for r in full.edges().collect()}
    assert got == ee


def test_bulk_then_ingest_edge_freshness_contract(spark, tables, tmp_path):
    """r9 verdict item 8: the edge store is append-only across a
    bulk-build → incremental-ingest → re-train sequence. Pins: (a) the
    cells-built edges survive verbatim (never retroactively refreshed by
    the later ingest or the re-train it triggers), (b) every edge added
    after the build touches a freshly ingested doc — new docs get exact
    per-doc KNN edges regardless of index generation, (c) re-running
    build_graph appends a new generation's edges under a fresh g<n> key
    rather than rewriting history."""
    docs = _moddocs(tables, 360)
    base = docs.filter(F.col("doc_id") < 60)
    fresh = docs.filter(F.col("doc_id") >= 60)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.bulk_load(base)
    pipe.build_graph(method="cells")
    bulk_edges = {(r.src, r.dst, r.score) for r in pipe.edges().collect()}
    c0 = pipe.centroids().count()
    assert bulk_edges

    pipe.process_batch(fresh, 0)  # 360 docs total: triggers the re-train
    assert pipe.centroids().count() >= 2 * c0, "sequence must re-train"
    after = {(r.src, r.dst, r.score) for r in pipe.edges().collect()}
    assert bulk_edges <= after, "bulk edges are immutable history"
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    for src, dst, _s in after - bulk_edges:
        assert src in fresh_ids or dst in fresh_ids, (
            "post-build edges may only involve freshly ingested docs")

    key2 = pipe.build_graph(method="cells")  # operator-requested refresh
    assert key2.startswith("g")
    refreshed = {(r.src, r.dst, r.score) for r in pipe.edges().collect()}
    assert after <= refreshed, "refresh appends; history still intact"
    # the new pass covers the re-trained cells: old+new docs now co-edge
    assert any(src not in fresh_ids and dst in fresh_ids
               for src, dst, _s in refreshed - after)


def test_build_graph_cells_blocked_matches_single_task(
        spark, tables, tmp_path):
    """r9 verdict item 2: the forced-skew fixture — ONE cell holding the
    whole corpus with ``cell_rows_cap`` far below it — must build through
    the r² block-pair decomposition (no task sees more than ~cap rows per
    side) and emit the exact edge set the single-task kernel produces.
    A mixed fixture (some cells above cap, some below) pins the union of
    the two paths too, and so does a probed build (``probes=2``), whose
    visiting queries split by the visited cell's blocks."""
    docs = _mk_docs(tables, 0, 120)

    def edges_of(tag, n_centroids, cap, method="cells", probes=None):
        # cell_rows_cap is a constructor parameter (r10 verdict item 7):
        # an instance-scoped override that can't leak across pipelines
        kw = {} if cap is None else {"cell_rows_cap": cap}
        pipe = IngestPipeline(spark, str(tmp_path / tag), k=4,
                              maintain_ivf=True, n_centroids=n_centroids,
                              ivf_bootstrap=16, **kw)
        pipe.bulk_load(docs)
        pipe.build_graph(method=method, probes=probes)
        return {(r.src, r.dst): r.score for r in pipe.edges().collect()}

    # max skew: one 120-row cell, cap 25 -> r = 5 -> 25 block tasks
    whole = edges_of("one", 1, None)
    blocked = edges_of("blk", 1, 25)
    assert blocked == whole and len(whole) > 0

    # mixed: auto-sized cells, cap 12 splits only the oversized ones
    auto_whole = edges_of("aw", None, None)
    auto_blocked = edges_of("ab", None, 12)
    assert auto_blocked == auto_whole and len(auto_whole) > 0

    # probed: each doc also queries its next-nearest cell
    probed_whole = edges_of("pw", None, None, "ivf", 2)
    probed_blocked = edges_of("pb", None, 12, "ivf", 2)
    assert probed_blocked == probed_whole and len(probed_whole) > 0


def test_serve_during_mutate_linearizable(spark, tables, tmp_path):
    """r10 verdict item 1 (serve-during-mutate): continuous ``search_ivf``
    clients run WHILE a writer ingests batches (one of which forces an
    IVF re-train) and finally compacts — the reference interleaves
    /search and /submit freely, so the engine must too. Contract: zero
    failed queries, and every response equals the exact response over
    SOME committed-batch prefix of the writer's sequence (linearizable
    at batch granularity). The valid-response set comes from a
    sequential twin run over the same batches — process_batch is
    deterministic, so the twin's per-prefix responses are byte-identical
    to what the live state serves at each boundary."""
    import threading
    import time

    from pyspark import InheritableThread

    batches = [_mk_docs(tables, 0, 48),     # b0: bootstraps the IVF index
               _mk_docs(tables, 48, 68),
               _mk_docs(tables, 68, 88),
               _mk_docs(tables, 88, 240)]   # b3: crosses the 2x re-train

    def mk(d):
        return IngestPipeline(spark, str(d), k=6, maintain_ivf=True,
                              n_centroids=None, ivf_bootstrap=16)

    query = _mk_docs(tables, 0, 1).first().text

    def resp(pipe):
        return tuple((r.doc_id, r.s)
                     for r in pipe.search_ivf(query, k=6).collect())

    # sequential twin: the set of valid (prefix-state) responses
    twin = mk(tmp_path / "twin")
    valid = set()
    for i, b in enumerate(batches):
        twin.process_batch(b, i)
        valid.add(resp(twin))
    twin.compact()
    valid.add(resp(twin))  # content-neutral; pins the post-compact read
    c_twin = twin.centroids().count()
    assert c_twin >= 2 * twin._target_centroids(48) - 2, \
        "fixture must actually have re-trained"

    # live run: writer mutates while two reader pipelines serve
    writer = mk(tmp_path / "live")
    writer.process_batch(batches[0], 0)

    stop = threading.Event()
    results: list[tuple] = []
    errors: list[Exception] = []

    def serve():
        reader = mk(tmp_path / "live")  # own pipeline object, cold reads
        while not stop.is_set():
            try:
                results.append(resp(reader))
            except Exception as e:  # noqa: BLE001 - collecting for assert
                errors.append(e)
                return

    threads = [InheritableThread(target=serve) for _ in range(2)]
    for t in threads:
        t.start()
    for i, b in enumerate(batches[1:], start=1):
        writer.process_batch(b, i)
    writer.compact()
    time.sleep(2.0)  # a few post-mutation queries
    stop.set()
    for t in threads:
        t.join(timeout=120)

    assert not errors, f"queries failed during mutation: {errors[:3]}"
    assert len(results) >= 4, "readers must have actually served"
    invalid = [r for r in set(results) if r not in valid]
    assert not invalid, (
        f"{len(invalid)} response(s) match no committed-batch prefix: "
        f"{invalid[:2]} — valid prefixes: {sorted(valid)[:2]}...")


def test_warm_reader_rewarm_across_writer_flips(spark, tables, tmp_path):
    """A WARM serving reader polling ``maybe_rewarm()`` while a separate
    writer pipeline (same process here; the cross-process twin is
    scripts/probe_multi_driver.py) lands batches, a re-train, and a
    compact over the same state root: every response must be a committed
    prefix's response, the reader must converge to the final state, and
    the retention contract must keep the reader's cached lineage alive
    across the writer's flips."""
    batches = [_mk_docs(tables, 0, 48),
               _mk_docs(tables, 48, 88),
               _mk_docs(tables, 88, 240)]  # crosses the 2x re-train

    def mk(d):
        return IngestPipeline(spark, str(d), k=6, maintain_ivf=True,
                              n_centroids=None, ivf_bootstrap=16)

    query = _mk_docs(tables, 0, 1).first().text

    def resp(pipe):
        return tuple((r.doc_id, r.s)
                     for r in pipe.search_ivf(query, k=6).collect())

    twin = mk(tmp_path / "twin")
    valid = set()
    for i, b in enumerate(batches):
        twin.process_batch(b, i)
        valid.add(resp(twin))
    twin.compact()
    valid.add(resp(twin))
    assert twin._gen_num(twin.index_dir) >= 1, "fixture must re-train"

    writer = mk(tmp_path / "live")
    writer.process_batch(batches[0], 0)
    reader = mk(tmp_path / "live")
    reader.warm()
    rewarms = 0
    seen = [resp(reader)]
    for i, b in enumerate(batches[1:], start=1):
        writer.process_batch(b, i)
        # stale warm read BEFORE the poll: must still be a valid prefix
        # (the writer's flips must not kill the cached lineage)
        seen.append(resp(reader))
        if reader.maybe_rewarm():
            rewarms += 1
        seen.append(resp(reader))
    writer.compact()
    if reader.maybe_rewarm():
        rewarms += 1
    final = resp(reader)
    seen.append(final)

    assert rewarms >= 2, "the poll must have observed the writer's commits"
    bad = [r for r in seen if r not in valid]
    assert not bad, f"{len(bad)} warm response(s) match no prefix: {bad[:1]}"
    assert final == resp(twin), "converges to the writer's final state"
    # a second poll with no writer activity is a no-op
    assert reader.maybe_rewarm() is False


def test_stable_read_raises_on_flapping_state(spark, tables, tmp_path):
    """The strict bracket (``fallback=False`` — warm()'s mode) must fail
    LOUDLY with the typed error if the commit fingerprint changes on
    every backoff-spaced attempt; the serving paths (``fallback=True``)
    must instead ANSWER from the last torn-excluded view — the
    reference's always-answers contract under pathological churn."""
    from multi_model_vectorsearch_spark.streaming.ingest import (
        StateCommitStormError,
    )

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 10), 0)
    tick = [0]
    orig = pipe._commit_fingerprint

    def flapping():
        tick[0] += 1
        return (tick[0],) + tuple(orig())

    pipe._commit_fingerprint = flapping
    with pytest.raises(StateCommitStormError, match="consistent-read"):
        pipe._stable_read(lambda torn: None)
    # the serving path still answers (fallback view: torn-excluded,
    # per-store consistent) under the same churn
    q = _mk_docs(tables, 0, 1).first().text
    rows = pipe.search(q, k=5).collect()
    assert rows and rows[0].score == 1.0


def test_commit_fingerprint_sees_success_transition(spark, tables,
                                                    tmp_path):
    """The fingerprint must move when a batch's ``_SUCCESS`` lands in an
    ALREADY-LISTED directory — the hazardous transition a name-only
    listing token misses (files appear at task commit, the marker at
    job commit)."""
    import os

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 10), 0)
    fp0 = pipe._commit_fingerprint()
    marker = pipe.fs.join(pipe._bdir(pipe.corpus_dir, "b0"), "_SUCCESS")
    os.rename(marker, marker + ".hide")
    try:
        assert pipe._commit_fingerprint() != fp0, \
            "same names, different commit status -> must differ"
    finally:
        os.rename(marker + ".hide", marker)
    assert pipe._commit_fingerprint() == fp0


# --- round-12: writer fencing, retention SLA, freshness, atomic warm -------


def test_writer_fence_second_writer_fences_first(spark, tables, tmp_path):
    """The single-writer contract, ENFORCED: writer A acquires the lease
    and ingests; writer B (a second process in production) acquires the
    same root's lease; A's next mutation must raise WriterFencedError —
    before writing anything — while B proceeds, and the state stays a
    clean committed prefix throughout."""
    from multi_model_vectorsearch_spark.streaming.ingest import (
        WriterFencedError,
    )

    root = str(tmp_path / "st")
    a = IngestPipeline(spark, root, k=5)
    b = IngestPipeline(spark, root, k=5)
    e1 = a.acquire_writer(owner="writer-a")
    a.process_batch(_mk_docs(tables, 0, 20), 0)
    assert a.corpus().count() == 20

    e2 = b.acquire_writer(owner="writer-b")
    assert e2 == e1 + 1, "acquisition bumps the epoch"
    before = sorted(map(tuple, a.corpus().collect()))
    with pytest.raises(WriterFencedError, match="usurped"):
        a.process_batch(_mk_docs(tables, 20, 40), 1)
    # the fenced writer wrote NOTHING (check runs before any state write)
    assert sorted(map(tuple, a.corpus().collect())) == before
    with pytest.raises(WriterFencedError):
        a.compact()
    with pytest.raises(WriterFencedError):
        a.build_graph()

    b.process_batch(_mk_docs(tables, 20, 40), 1)
    assert b.corpus().count() == 40
    assert b.torn_batch_keys() == set()
    b.compact()
    assert b.corpus().count() == 40

    # a clean release makes later accidental writes from A's object
    # still fail (lease content is no longer A's), while an UNFENCED
    # pipeline (never acquired) keeps the legacy free pass
    c = IngestPipeline(spark, root, k=5)
    c.process_batch(_mk_docs(tables, 40, 50), 2)
    assert c.corpus().count() == 50


def test_writer_fence_acquire_race_single_winner(spark, tmp_path):
    """Two acquirers racing to the SAME epoch: the lease file holds one
    owner-tagged content, so exactly one read-back validates."""
    from multi_model_vectorsearch_spark.streaming.ingest import (
        WriterFencedError,
    )

    root = str(tmp_path / "st")
    a = IngestPipeline(spark, root, k=5)
    b = IngestPipeline(spark, root, k=5)
    # simulate the interleaving: A reads (no lease), B reads (no lease),
    # A writes epoch 1, B writes epoch 1 — B's PUT lands last and wins
    a.fs.write_text(a._lease_path, "1 writer-a")
    with pytest.raises(WriterFencedError, match="race|usurped"):
        # A's read-back sees B's content
        b.fs.write_text(b._lease_path, "1 writer-b")
        a._writer_epoch, a._writer_lease = 1, "1 writer-a"
        a.check_writer_fence()
    # and the loser cannot mutate
    b._writer_epoch, b._writer_lease = 1, "1 writer-b"
    b.check_writer_fence()  # the winner passes


def test_retention_sla_slow_reader(spark, tables, tmp_path):
    """The retention SLA, pinned (r11 verdict item 1): a cold reader's
    plan pins one epoch's physical paths; with retain_generations=1 the
    paths survive exactly ONE later flip — a scan that outlives TWO
    flips reads swept files and fails. Sizing retention to the flip
    count (retain_generations=2) keeps the same slow scan alive, and
    the serving facade (serve_search) answers either way by re-planning.
    The slow reader is a cold kernel pool plan (``_search_pool``, the
    one serving DataFrame Spark executes; on this index-less state a
    full scan): ``search()`` and ``search_ivf()`` answer eagerly, so
    their scans end inside the call."""
    docs = _mk_docs(tables, 0, 40)
    q = _mk_docs(tables, 0, 1).first().text

    def cold_plan(pipe):
        return pipe._search_pool([pipe._query_vec(q, "text")], 5)[0]

    def top(rows):
        return max(r.s for r in rows)

    def flips(pipe, n, start=100):
        # each compact() under pointer commit is one flip per store
        for i in range(n):
            pipe.process_batch(_mk_docs(tables, 60 + 5 * i, 65 + 5 * i),
                               start + i)
            pipe.compact()

    # retain_generations=1: plan, survive one flip, die after the second
    p1 = IngestPipeline(spark, str(tmp_path / "r1"), k=5,
                        retain_generations=1)
    p1.process_batch(docs, 0)
    p1.compact()  # move past gen 0 so later sweeps hit .gen-N dirs
    plan = cold_plan(p1)  # cold plan: pins current generation paths
    one_flip = IngestPipeline(spark, str(tmp_path / "r1"), k=5,
                              retain_generations=1)
    flips(one_flip, 1)
    rows = plan.collect()  # within SLA: one flip of headroom
    assert rows and top(rows) == 1.0
    plan2 = cold_plan(p1)
    flips(one_flip, 2, start=200)
    with pytest.raises(Exception) as exc_info:
        plan2.collect()
        pytest.skip("filesystem kept swept files alive (cached listing)")
    assert p1._is_stale_scan_error(exc_info.value), exc_info.value
    # the facade answers anyway: re-plan + retry against the live epoch
    rows = p1.serve_search(q, k=5)
    assert rows and rows[0].score == 1.0

    # retain_generations=2 covers the same two-flip scan
    p2 = IngestPipeline(spark, str(tmp_path / "r2"), k=5,
                        retain_generations=2)
    p2.process_batch(docs, 0)
    p2.compact()
    plan3 = cold_plan(p2)
    writer2 = IngestPipeline(spark, str(tmp_path / "r2"), k=5,
                             retain_generations=2)
    flips(writer2, 2, start=300)
    rows = plan3.collect()
    assert rows and top(rows) == 1.0


def test_serve_search_retries_transient_stale_scan(spark, tables,
                                                   tmp_path):
    """_serve retries exactly the two writer-race failure classes and
    propagates everything else."""
    from multi_model_vectorsearch_spark.streaming.ingest import (
        StateCommitStormError,
    )

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 20), 0)
    q = _mk_docs(tables, 0, 1).first().text

    calls = {"n": 0}
    real_search = pipe.search

    def flaky_search(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(
                "java.io.FileNotFoundException: File file:/swept/part-0 "
                "does not exist")
        if calls["n"] == 2:
            raise StateCommitStormError("commits kept landing")
        return real_search(*a, **kw)

    pipe.search = flaky_search
    rows = pipe.serve_search(q, k=5)
    assert rows and rows[0].score == 1.0
    assert calls["n"] == 3, "two retriable failures, then the answer"

    calls["n"] = 0

    def poisoned(*a, **kw):
        calls["n"] += 1
        raise ValueError("a real bug, not a writer race")

    pipe.search = poisoned
    with pytest.raises(ValueError, match="real bug"):
        pipe.serve_search(q, k=5)
    assert calls["n"] == 1, "non-retriable errors propagate immediately"


def test_freshness_gauge_tracks_writer_progress(spark, tables, tmp_path):
    """freshness(): a warm reader reports exactly how far the writer has
    moved past its snapshot, and maybe_rewarm() zeroes the gauge."""
    root = str(tmp_path / "st")
    writer = IngestPipeline(spark, root, k=5)
    writer.process_batch(_mk_docs(tables, 0, 20), 0)
    reader = IngestPipeline(spark, root, k=5)

    cold = reader.freshness()
    assert cold == {"warm": False, "fresh": True,
                    "behind_units": 0, "behind_flips": 0}

    reader.warm()
    assert reader.freshness()["fresh"] is True

    writer.process_batch(_mk_docs(tables, 20, 40), 1)
    g = reader.freshness()
    assert g["warm"] and not g["fresh"]
    assert g["behind_units"] >= 2, "b1 landed in corpus AND edges"
    assert g["behind_flips"] == 0

    writer.compact()  # pointer flips move the epoch distance
    g = reader.freshness()
    assert not g["fresh"] and g["behind_flips"] >= 1

    assert reader.maybe_rewarm() is True
    g = reader.freshness()
    assert g == {"warm": True, "fresh": True,
                 "behind_units": 0, "behind_flips": 0}
    reader.unwarm()


def test_warm_snapshot_atomic_publish_and_shared_cache(spark, tables,
                                                       tmp_path,
                                                       monkeypatch):
    """r11 advice, on the Spark tier (``DRIVER_TIER_BYTES`` at 0, so the
    snapshot is executor caches): (a) a query thread that captured the
    old snapshot dict keeps serving from it across a re-warm (the dict
    is immutable once published — no KeyError window); (b) a no-op
    warm() (state unchanged) must NOT evict its own caches; (c) a
    re-warm whose EDGE store didn't change keeps sharing that cache
    entry instead of evicting it."""
    from multi_model_vectorsearch_spark.streaming import ingest

    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    root = str(tmp_path / "st")
    pipe = IngestPipeline(spark, root, k=5)
    pipe.process_batch(_mk_docs(tables, 0, 20), 0)
    sizes0 = pipe.warm()
    snap0 = pipe._warm
    assert sizes0["corpus_rows"] == 20

    # (b) no-op warm: same snapshot object, caches still pinned
    sizes1 = pipe.warm()
    assert sizes1 == sizes0
    assert pipe._warm is snap0, "unchanged state -> snapshot reused"
    assert snap0["corpus"].storageLevel.useMemory

    # (c) writer lands a batch through a SEPARATE pipeline (the reader's
    # own process_batch would unwarm) and the reader re-warms
    writer = IngestPipeline(spark, root, k=5)
    writer.process_batch(_mk_docs(tables, 20, 40), 1)
    assert pipe.maybe_rewarm() is True
    snap1 = pipe._warm
    assert snap1 is not snap0
    assert snap1["corpus"].count() == 40
    # (a) the OLD captured snapshot still answers (its dict is intact;
    # its plan re-reads files that retention keeps alive)
    assert set(snap0.keys()) >= {"corpus", "edges", "sizes"}
    assert snap0["corpus"].count() == 20
    pipe.unwarm()


# --- round-12: incremental edge refresh ------------------------------------


def test_refresh_edges_diff_equals_full_supersede(spark, tables, tmp_path):
    """refresh_edges() re-scores ONLY changed cells, but its published
    store must equal refresh_edges(force_all=True) — the full supersede
    rebuild over the same index — row for row: unchanged cells keep
    byte-identical edges (same members, same kernel), so diffing loses
    nothing."""
    import shutil

    def mk(d):
        return IngestPipeline(spark, str(d), k=4, maintain_ivf=True,
                              n_centroids=None, ivf_bootstrap=16)

    a_dir = tmp_path / "aged"
    aged = mk(a_dir)
    aged.bulk_load(_mk_docs(tables, 0, 120))
    aged.build_graph(method="cells")
    n_edges_built = aged.edges().count()
    assert n_edges_built > 0
    # +5 docs via bulk_load: assigned to a FEW cells, no edges of their own
    aged.bulk_load(_mk_docs(tables, 120, 125))
    assert aged.corpus().count() == 125

    b_dir = tmp_path / "full"
    shutil.copytree(str(a_dir), str(b_dir))
    full = mk(b_dir)

    stats = aged.refresh_edges()
    assert 0 < stats["changed_cells"] < stats["total_cells"], \
        "a 5-doc trickle must not dirty every cell"
    fstats = full.refresh_edges(force_all=True)
    assert fstats["changed_cells"] == fstats["total_cells"]

    a_rows = sorted(map(tuple, aged.edges().collect()))
    b_rows = sorted(map(tuple, full.edges().collect()))
    assert a_rows == b_rows, (
        f"diff refresh ({stats}) diverged from full supersede ({fstats})")

    # the previously-unlinked docs now have incident edges
    from pyspark.sql import functions as SF
    new_ids = list(range(120, 125))
    incident = aged.edges().filter(
        SF.col("src").isin(new_ids) | SF.col("dst").isin(new_ids)).count()
    assert incident > 0

    # idempotent: nothing moved since, so a second refresh is a no-op
    again = aged.refresh_edges()
    assert again["changed_cells"] == 0
    assert sorted(map(tuple, aged.edges().collect())) == a_rows

    # serving still healthy over the refreshed store
    q = _mk_docs(tables, 120, 121).first().text
    rows = aged.search(q, k=4).collect()
    assert rows and rows[0].score == 1.0


def test_refresh_edges_supersedes_surplus_after_retrain(spark, tables,
                                                        tmp_path):
    """The probe-measured staleness shape: bulk build, then enough
    ingest to cross the re-train threshold. refresh_edges (diff mode)
    must equal the full supersede rebuild even across the re-train's
    cid renumbering — membership hashes identify cells by member SET,
    so clusters the re-train re-derives unchanged are skipped, and
    surplus bulk-era edges of regrouped docs are REMOVED (an
    append-another-pass refresh could not do that)."""
    import shutil

    def mk(d):
        return IngestPipeline(spark, str(d), k=4, maintain_ivf=True,
                              n_centroids=None, ivf_bootstrap=16)

    a_dir = tmp_path / "aged"
    aged = mk(a_dir)
    aged.bulk_load(_mk_docs(tables, 0, 80))
    aged.build_graph(method="cells")
    edges_before = sorted(map(tuple, aged.edges().collect()))
    gen0 = aged._gen_num(aged.index_dir)
    # +400% through bulk_load: sqrt-sizing ideal (sqrt(400)=20) crosses
    # 2x the bootstrap-active count (sqrt(80)~9), forcing the re-train
    aged.bulk_load(_mk_docs(tables, 80, 400))
    assert aged._gen_num(aged.index_dir) > gen0, "fixture must re-train"

    b_dir = tmp_path / "full"
    shutil.copytree(str(a_dir), str(b_dir))
    full = mk(b_dir)

    stats = aged.refresh_edges()
    assert stats["changed_cells"] > 0
    fstats = full.refresh_edges(force_all=True)
    a_rows = sorted(map(tuple, aged.edges().collect()))
    b_rows = sorted(map(tuple, full.edges().collect()))
    assert a_rows == b_rows, (
        f"diff refresh ({stats}) diverged from full supersede ({fstats})")
    # supersede really removed something: the aged store is not simply a
    # superset of the bulk-era edges
    assert not set(edges_before) <= set(a_rows), \
        "refresh must remove displaced bulk-era edges, not only append"


def test_refresh_edges_on_retrain_hook(spark, tables, tmp_path):
    """refresh_edges_on_retrain=True: the re-train tail re-scores moved
    cells automatically, so bulk-loaded docs get graph edges on the
    re-train cadence without an explicit operator call."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16,
                          refresh_edges_on_retrain=True)
    pipe.bulk_load(_mk_docs(tables, 0, 80))
    pipe.build_graph(method="cells")
    gen0 = pipe._gen_num(pipe.index_dir)
    pipe.bulk_load(_mk_docs(tables, 80, 400))  # crosses the 2x threshold
    assert pipe._gen_num(pipe.index_dir) > gen0
    # the hook ran: every committed doc has within-cell edges now
    from pyspark.sql import functions as SF
    linked = (pipe.edges().select(SF.col("src").alias("doc_id"))
              .union(pipe.edges().select(SF.col("dst")))
              .distinct().count())
    # == 400 minus any singleton cell (a lone doc has no within-cell
    # neighbor to link to, same as a fresh cells build)
    assert linked >= 380, "post-retrain refresh must link the bulk docs"


def test_serve_graph_data_retries_and_answers(spark, tables, tmp_path):
    """serve_graph_data: the /graph-data endpoint's always-answers twin —
    a swept-scan failure re-plans BOTH views together."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=4)
    pipe.process_batch(_mk_docs(tables, 0, 20), 0)

    calls = {"n": 0}
    real = pipe.graph_data

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(
                "java.io.FileNotFoundException: swept file does not exist")
        return real()

    pipe.graph_data = flaky
    nodes, kept = pipe.serve_graph_data()
    assert calls["n"] == 2
    assert nodes and kept
    node_ids = {r.doc_id for r in nodes}
    assert all(r.src in node_ids and r.dst in node_ids for r in kept), \
        "every kept edge's endpoints hydrate (same committed prefix)"


# --- round-13: fence re-check, poll guard, governor, observability --------


def test_writer_fence_rechecked_before_each_commit_write(spark, tables,
                                                         tmp_path):
    """Round-12 advice: the fence is re-validated immediately before
    every commit-producing write, not just at mutation entry. A writer
    usurped MID-batch (here: during the KNN stage, after its corpus
    subdirectory landed) raises before its edge write — the exposure is
    the one write already in flight, the batch reads as torn, and the
    usurper heals it by replaying the same key."""
    from multi_model_vectorsearch_spark.streaming.ingest import (
        WriterFencedError,
    )

    root = str(tmp_path / "st")
    a = IngestPipeline(spark, root, k=5)
    b = IngestPipeline(spark, root, k=5)
    a.acquire_writer(owner="writer-a")
    a.process_batch(_mk_docs(tables, 0, 20), 0)

    real_knn = a.knn_against_corpus

    def usurp_then_knn(*args, **kw):
        b.acquire_writer(owner="writer-b")  # lands mid-mutation
        return real_knn(*args, **kw)

    a.knn_against_corpus = usurp_then_knn
    with pytest.raises(WriterFencedError, match="usurped"):
        a.process_batch(_mk_docs(tables, 20, 40), 1)
    # the corpus write (already in flight when B acquired) committed;
    # the edge write did not — exactly the documented one-write window,
    # and the torn-batch machinery reports it for the usurper to heal
    assert a.torn_batch_keys() == {"b1"}
    b.process_batch(_mk_docs(tables, 20, 40), 1)
    assert b.torn_batch_keys() == set()
    assert b.corpus().count() == 40


def test_flip_rate_governor_spaces_flip_groups(spark, tables, tmp_path):
    """Round-12 verdict item 3: min_flip_interval_s bounds the writer's
    flip rate a priori — back-to-back maintenance flips (the
    compact()+re-train burst --flip-spam simulates) are spaced by at
    least the interval, so retain_generations=1 readers get a
    guaranteed scan window; flips WITHIN one group (a re-train's paired
    index+centroid swaps) are never split."""
    import time as _t

    root = str(tmp_path / "st")
    pipe = IngestPipeline(spark, root, k=5, min_flip_interval_s=1.5)
    pipe.process_batch(_mk_docs(tables, 0, 20), 0)
    t0 = _t.monotonic()
    pipe.compact()  # first flip group: ungated (no prior flip)
    first = _t.monotonic() - t0
    assert first < 60, "sanity"
    t1 = _t.monotonic()
    pipe.compact()  # second group must wait out the interval
    assert _t.monotonic() - t1 >= 1.2, \
        "second flip group ran without waiting out min_flip_interval_s"

    # governor off by default: two compacts back-to-back do not sleep
    free = IngestPipeline(spark, str(tmp_path / "free"), k=5)
    free.process_batch(_mk_docs(tables, 0, 10), 0)
    free.compact()
    assert free.min_flip_interval_s == 0.0


def test_serve_counters_and_last_serve_info(spark, tables, tmp_path):
    """Round-12 verdict item 4: the serve_* facade publishes per-query
    retry count + freshness-at-answer and cumulative counters, so an
    operator can tell 'healthy' from 'answering but retrying
    constantly' without log forensics."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 20), 0)
    q = _mk_docs(tables, 0, 1).first().text

    rows = pipe.serve_search(q, k=5)
    assert rows and rows[0].score == 1.0
    assert pipe.serve_counters == {"queries": 1, "retries": 0,
                                   "exhausted": 0}
    assert pipe.last_serve_info["retries"] == 0
    assert pipe.last_serve_info["freshness"]["fresh"] is True

    calls = {"n": 0}
    real = pipe.search

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("java.io.FileNotFoundException: swept")
        return real(*a, **kw)

    pipe.search = flaky
    rows = pipe.serve_search(q, k=5)
    assert rows
    assert pipe.serve_counters["queries"] == 2
    assert pipe.serve_counters["retries"] == 2
    assert pipe.last_serve_info["retries"] == 2

    def dead(*a, **kw):
        raise RuntimeError("[FILE_NOT_FOUND] gone forever")

    pipe.search = dead
    with pytest.raises(RuntimeError, match="FILE_NOT_FOUND"):
        pipe.serve_search(q, k=5, retries=2)
    assert pipe.serve_counters["exhausted"] == 1
    assert pipe.serve_counters["queries"] == 2, \
        "an exhausted query is not counted as answered"


def test_stale_scan_classifier_is_narrow(spark, tmp_path):
    """Round-12 advice: only the swept-file spellings are retriable —
    permanent 'does not exist' failures (missing roots, unknown tables)
    must propagate immediately instead of burning four retry rounds."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    is_stale = pipe._is_stale_scan_error
    assert is_stale(RuntimeError(
        "java.io.FileNotFoundException: File file:/x/part-0 does not "
        "exist"))
    assert is_stale(RuntimeError("[FILE_NOT_FOUND] file gone"))
    assert is_stale(RuntimeError(
        "It is possible the underlying files have been updated. You can "
        "explicitly invalidate the cache by running 'REFRESH TABLE "
        "tableName'"))
    assert not is_stale(RuntimeError(
        "[TABLE_OR_VIEW_NOT_FOUND] The table or view `docs` cannot be "
        "found; it does not exist"))
    assert not is_stale(RuntimeError(
        "AnalysisException: Path does not exist: "
        "file:/misconfigured/state/root"))
    assert not is_stale(ValueError("a real bug"))
    # round-13 advice: the PLAN-TIME spelling — [PATH_NOT_FOUND] raised
    # when a retained generation/batch dir is swept between a bracket's
    # listing and the DataFrame load — is retriable iff the path is
    # under THIS pipeline's state root (or names a .gen- component)
    root = str(tmp_path / "st")
    assert is_stale(RuntimeError(
        f"[PATH_NOT_FOUND] Path does not exist: file:{root}/corpus/b3"))
    assert is_stale(RuntimeError(
        "[PATH_NOT_FOUND] Path does not exist: "
        "file:/elsewhere/corpus/.gen-7/b3"))
    assert not is_stale(RuntimeError(
        "[PATH_NOT_FOUND] Path does not exist: file:/not/our/root")), \
        "a misconfigured root outside the state tree stays fatal"


def test_serve_guards_observability_and_bad_retries(spark, tables,
                                                    tmp_path):
    """Round-13 advice (two low items): (1) a freshness() gauge that
    raises AFTER the query answered must not fail the answer — it
    degrades to freshness=None; (2) retries<=0 must raise ValueError
    up front instead of corrupting serve_counters['retries'] with a
    negative delta and then raising None (TypeError)."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 20), 0)
    q = _mk_docs(tables, 0, 1).first().text

    def exploding_freshness():
        raise OSError("store swept between isdir() and listFiles()")

    pipe.freshness = exploding_freshness
    rows = pipe.serve_search(q, k=5)
    assert rows and rows[0].score == 1.0, \
        "an answered query survives a failing gauge"
    assert pipe.last_serve_info == {"retries": 0, "freshness": None,
                                    "tier": "spark"}
    assert pipe.serve_counters["queries"] == 1

    before = dict(pipe.serve_counters)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="retries"):
            pipe.serve_search(q, k=5, retries=bad)
    assert pipe.serve_counters == before, \
        "a rejected call must not move any counter"


def test_compact_finishes_pending_retrain_before_flip_gate(
        spark, tables, tmp_path, monkeypatch):
    """Round-13 advice: compact() must roll a pending re-train forward
    BEFORE taking the flip gate (retrain()'s ordering) so a crash
    roll-forward flip and compact's own flip group never land inside
    one gated interval — the retention triangle (max scan <=
    retain_generations x min_flip_interval_s) sizes readers on flips
    PER gated group."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 10), 0)

    order = []
    real_finish = pipe._finish_pending_retrain
    real_gate = pipe._flip_gate
    monkeypatch.setattr(
        pipe, "_finish_pending_retrain",
        lambda: (order.append("finish"), real_finish())[1])
    monkeypatch.setattr(
        pipe, "_flip_gate",
        lambda: (order.append("gate"), real_gate())[1])
    pipe.compact()
    assert order[:2] == ["finish", "gate"], order


def test_bracket_scan_memo_is_thread_local(spark, tables, tmp_path):
    """Round-12 advice (medium): two concurrent consistent-read brackets
    on the same pipeline object must not share the scan memo — a
    bracket's closing fingerprint satisfied from ANOTHER thread's
    earlier scan would falsely validate a commit landing mid-bracket."""
    import threading as _th

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.process_batch(_mk_docs(tables, 0, 10), 0)

    seen = {}
    a_opened = _th.Event()
    b_done = _th.Event()

    def bracket_a():
        pipe._scan_cache = {}  # open a bracket on thread A
        pipe._store_scan(pipe.corpus_dir)
        seen["a_memo_len"] = len(pipe._scan_cache)
        a_opened.set()
        b_done.wait(10)
        # thread B's bracket open/close must not have reset A's memo
        seen["a_memo_after_b"] = pipe._scan_cache
        pipe._scan_cache = None

    def bracket_b():
        a_opened.wait(10)
        seen["b_memo_initial"] = pipe._scan_cache  # no bracket here yet
        pipe._scan_cache = {}   # B opens its own bracket...
        pipe._scan_cache = None  # ...and closes it
        b_done.set()

    ta = _th.Thread(target=bracket_a)
    tb = _th.Thread(target=bracket_b)
    ta.start(); tb.start()
    ta.join(20); tb.join(20)
    assert seen["b_memo_initial"] is None, \
        "thread B saw thread A's bracket memo"
    assert seen["a_memo_after_b"] is not None and \
        len(seen["a_memo_after_b"]) == seen["a_memo_len"], \
        "thread B's bracket close reset thread A's memo"


def test_operator_retrain_full_corpus(spark, tables, tmp_path):
    """retrain(): the ops-cadence full re-train. Must re-size to the
    current corpus, keep every committed batch NON-torn (the
    commit-marker subdirectories satisfy the trailing-key index rule),
    stay exactly-once on assignments, keep serving correct — and be
    DETERMINISTIC: the same corpus content yields the same centroids a
    from-scratch bootstrap derives (the premise behind measuring the
    maintenance loop against a from-scratch twin)."""
    root = str(tmp_path / "st")
    pipe = IngestPipeline(spark, root, k=5,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    for i, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        pipe.process_batch(_mk_docs(tables, lo, hi), i)
    before = pipe.centroids().count()

    stats = pipe.retrain()
    assert stats["assigned"] == 120
    assert stats["n_centroids"] == pipe._target_centroids(120)
    assert pipe.centroids().count() == stats["n_centroids"]
    assert pipe.torn_batch_keys() == set(), \
        "markers must keep trailing keys committed after the fold"
    idx = pipe.ivf_index()
    assert idx.count() == 120
    assert idx.select("doc_id").distinct().count() == 120
    q = _mk_docs(tables, 0, 1).first()  # doc 0 routes as text modality
    rows = pipe.search_ivf(q.text, k=5).collect()
    assert rows and rows[0].doc_id == 0 and rows[0].s == 1.0

    # determinism vs a from-scratch bootstrap over the same content
    twin = IngestPipeline(spark, str(tmp_path / "twin"), k=5,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    twin.bulk_load(_mk_docs(tables, 0, 120))
    mine = sorted(map(tuple, pipe.centroids().collect()))
    theirs = sorted(map(tuple, twin.centroids().collect()))
    assert mine == theirs, \
        "retrain() and a fresh bootstrap disagree on the same corpus"

    # a replayable torn batch survives the re-train untouched and its
    # replay lands against the NEW centroids
    pipe2 = IngestPipeline(spark, root, k=5,
                           maintain_ivf=True, n_centroids=None,
                           ivf_bootstrap=16)
    pipe2.process_batch(_mk_docs(tables, 120, 160), 3)
    # tear it: drop the edge _SUCCESS so b3 reads as torn
    pipe2.fs.rmtree(pipe2.fs.join(pipe2._phys(pipe2.edges_dir), "b3"))
    assert pipe2.torn_batch_keys() == {"b3"}
    pipe2.retrain()
    assert pipe2.torn_batch_keys() == {"b3"}, "torn stays torn (no marker)"
    pipe2.process_batch(_mk_docs(tables, 120, 160), 3)  # replay heals
    assert pipe2.torn_batch_keys() == set()
    assert pipe2.corpus().count() == 160
    assert pipe2.ivf_index().count() == 160
    # unchanged `before` silences the linter; re-size is n-driven
    assert before >= 1


def _knn_join(corpus, fresh):
    """The JVM candidate scorer the numpy kernel replaced, kept as the
    kernel's independent semantic reference: corpus × broadcast(batch),
    cosine in the JVM with the norm folds hoisted to one per row
    (``cosine_with_norms``), snapped by ``snap_double``, and each
    candidate whose doc_id equals the query's pinned to 1.0. Emits
    ``CANDIDATE_SCHEMA`` rows for ``_balanced_select``."""
    from multi_model_vectorsearch_spark.functions.fixedpoint import (
        snap_double,
    )
    from multi_model_vectorsearch_spark.functions.vector import (
        cosine_with_norms,
        l2_norm,
    )

    q = F.broadcast(fresh.select(
        F.col("doc_id").alias("qid"),
        F.col("modality").alias("qm"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("_nq"),
    ))
    return (
        corpus.withColumn("_nc", l2_norm(F.col("embedding")))
        .crossJoin(q)
        .select(
            "qid", "qm", "doc_id", "modality",
            F.when(F.col("doc_id") == F.col("qid"), F.lit(1.0))
            .otherwise(snap_double(cosine_with_norms(
                F.col("embedding"), F.col("qv"),
                F.col("_nc"), F.col("_nq")))).alias("s"),
        )
    )


def _search_oracle(pipe, text, k, route="exact", modality="text"):
    """The Spark ``/search`` plan serving ran before its finish moved to
    the driver, kept as the oracle: the JVM cosine scan of the corpus
    (restricted on a probed route to the members of the cells
    ``_probe_selection_oracle`` picks), a TakeOrdered top ``k·OVERFETCH``
    pool, ``_balanced_select``, then ``expand_one_hop`` over the edges.
    Reads the warm snapshot's executor caches when there are some (the
    Spark tier; their corpus carries each row's ``cid``), else the state
    stores. Returns ``[(id, score)]`` in answer order."""
    from multi_model_vectorsearch_spark.functions.fixedpoint import (
        snap_double,
    )
    from multi_model_vectorsearch_spark.functions.vector import (
        cosine_similarity,
    )
    from multi_model_vectorsearch_spark.operators.graph import (
        DECAY,
        expand_one_hop,
    )
    from multi_model_vectorsearch_spark.streaming.ingest import OVERFETCH

    qv = F.lit(pipe._query_vec(text, modality))
    w = pipe._warm
    if "corpus" in w:
        corpus, edges = w["corpus"], w["edges"]
        crows = w.get("cent_rows")
        cents = pipe._centroid_frame(crows) if crows else None
        idx = corpus.select("doc_id", "cid") if crows else None
    else:
        corpus, edges = pipe.corpus(), pipe.edges()
        cents, idx = pipe.centroids(), pipe.ivf_index()
    if route != "exact" and idx is not None and not idx.isEmpty():
        probe_cids = _probe_selection_oracle(
            cents, qv, pipe._auto_probes(cents.count()))
        members = idx.join(F.broadcast(probe_cids), "cid").select("doc_id")
        corpus = corpus.join(F.broadcast(members), "doc_id", "left_semi")
    cand = corpus.select(
        F.lit(-1).cast("bigint").alias("qid"), F.lit(modality).alias("qm"),
        "doc_id", "modality",
        snap_double(cosine_similarity(F.col("embedding"), qv)).alias("s"))
    pool_k = k * OVERFETCH
    pool = cand.orderBy(F.desc("s"), F.asc("doc_id")).limit(pool_k)
    seeds = IngestPipeline._balanced_select(pool, k, pool_k).select(
        F.col("doc_id").alias("vec_id"), "s")
    return [(r.id, r.score)
            for r in expand_one_hop(seeds, edges, k=k, decay=DECAY).collect()]


def test_search_many_matches_per_query_search(spark, tables, tmp_path,
                                              monkeypatch):
    """r13 verdict item 7, on the one serving body: per query,
    ``serve_search_many`` and ``search()`` both equal ``_search_oracle``
    row for row — exact and ivf routes, cold and warm on both tiers (the
    Spark tier with ``DRIVER_TIER_BYTES`` at 0) — including the
    modality-balanced selection and the 1-hop expansion."""
    from multi_model_vectorsearch_spark.streaming import ingest

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5, maintain_ivf=True,
                          n_centroids=None, ivf_bootstrap=16)
    docs = _mk_docs(tables, 0, 90)
    pipe.bulk_load(docs)
    pipe.process_batch(_mk_docs(tables, 90, 120), 0)  # edges exist
    texts = [r.text for r in _mk_docs(tables, 0, 120)
             .filter(F.col("doc_id") % 40 == 0).collect()]
    assert len(texts) >= 3

    def check(tag, routes=("exact", "ivf")):
        for route in routes:
            want = [_search_oracle(pipe, t, 5, route) for t in texts]
            single = [[(r.id, r.score) for r in
                       pipe.search(t, k=5, route=route).collect()]
                      for t in texts]
            many = [[(r.id, r.score) for r in grp] for grp in
                    pipe.serve_search_many(texts, k=5, route=route)]
            assert all(want), f"{tag} {route}: oracle answered nothing"
            assert single == want, f"{tag} {route}: search diverged"
            assert many == want, f"{tag} {route}: search_many diverged"

    check("cold")
    pipe.warm()
    assert "driver" in pipe._warm
    check("warm")
    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    pipe.unwarm()
    pipe.warm()
    assert "corpus" in pipe._warm
    check("warm spark tier")

    # one serve_counters tick per batched CALL, not per query
    before = pipe.serve_counters["queries"]
    pipe.serve_search_many(texts, k=5)
    assert pipe.serve_counters["queries"] == before + 1

    # an unembeddable query (unknown modality -> vec None, the
    # reference rejects those submits) answers [] in position per the
    # qid contract, not a crash: batch one good text under a modality
    # nothing embeds
    grps = pipe.serve_search_many([texts[0]], k=5, modality="smell")
    assert grps == [[]]


def _tier_answers(pipe, texts, k, routes=("exact", "ivf", "auto")):
    """Every serving answer for ``texts``: per route, ``search`` per text
    and one ``search_many`` of all of them; then ``search_ivf`` per
    text."""
    out = {}
    for route in routes:
        out[route] = [[(r.id, r.score) for r in
                       pipe.search(t, k=k, route=route).collect()]
                      for t in texts]
        out["many_" + route] = [
            [(r.id, r.score) for r in grp]
            for grp in pipe.serve_search_many(texts, k=k, route=route)]
    out["search_ivf"] = [[tuple(r) for r in
                          pipe.search_ivf(t, k=k).collect()]
                         for t in texts]
    return out


def _driver_and_spark(pipe, texts, k, monkeypatch, routes):
    """``_tier_answers`` warm on the driver tier, then again after a
    re-warm with ``DRIVER_TIER_BYTES`` at 0 (the Spark route), with
    ``_search_oracle``'s answer per route taken on the Spark-tier
    snapshot of the same state."""
    from multi_model_vectorsearch_spark.streaming import ingest

    pipe.warm()
    assert "driver" in pipe._warm
    assert pipe._warm["sizes"]["driver_rows"] == pipe._warm["sizes"][
        "corpus_rows"]
    drv = _tier_answers(pipe, texts, k, routes)
    assert pipe.serve_search(texts[0], k=k) is not None
    assert pipe.last_serve_info["tier"] == "driver"
    with monkeypatch.context() as m:
        m.setattr(ingest, "DRIVER_TIER_BYTES", 0)
        pipe.unwarm()
        sizes = pipe.warm()
        assert "driver" not in pipe._warm
        assert (sizes["driver_bytes"], sizes["driver_rows"]) == (0, 0)
        spk = _tier_answers(pipe, texts, k, routes)
        pipe.serve_search(texts[0], k=k)
        assert pipe.last_serve_info["tier"] == "spark"
        want = {r: [_search_oracle(pipe, t, k, r) for t in texts]
                for r in routes}
    return drv, spk, want


def test_driver_tier_matches_spark_route_and_oracle(spark, tables, tmp_path,
                                                    monkeypatch):
    """The driver tier — ``warm()``'s driver copy, kept while it fits
    ``DRIVER_TIER_BYTES`` — answers exactly what the Spark route answers
    with the budget at 0, and what ``_search_oracle`` answers: ``search``
    on the exact, ivf and auto routes, an 8-text ``search_many`` per
    route, and ``search_ivf``. Four text docs embed exactly as four
    media docs do (the media embedding is the text embedding of the
    ``media:``-salted text), so their scores tie on the 1e-6 grid and
    rank by doc_id on both tiers."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    docs = _mk_docs(tables, 0, 90)
    pipe.bulk_load(docs)
    media = (docs.filter(F.col("modality") != "text").orderBy("doc_id")
             .limit(4).collect())
    twins = spark.createDataFrame(
        [(10_000 + r.doc_id, f"media:{r.text}", "text") for r in media],
        "doc_id bigint, text string, modality string")
    pipe.process_batch(_mk_docs(tables, 90, 120).unionByName(twins), 0)
    texts = [r.text for r in _mk_docs(tables, 0, 120)
             .filter(F.col("doc_id") % 17 == 2).limit(6).collect()]
    texts += [f"media:{media[0].text}", "nothing stored reads like this"]
    assert len(texts) == 8

    drv, spk, want = _driver_and_spark(pipe, texts, 5, monkeypatch,
                                       ("exact", "ivf", "auto"))
    assert drv == spk
    for route in ("exact", "ivf", "auto"):
        assert all(want[route]), route
        assert drv[route] == want[route], route
        assert drv["many_" + route] == want[route], route
    tie = drv["exact"][6]
    assert tie[:2] == [(media[0].doc_id, 1.0),
                       (10_000 + media[0].doc_id, 1.0)], tie
    assert all(len(a) == 5 for a in drv["search_ivf"])


def test_driver_tier_small_corpus_no_edges_unembeddable(spark, tables,
                                                        tmp_path,
                                                        monkeypatch):
    """A 12-doc corpus (k·OVERFETCH = 30 pools every doc), an empty edge
    store (``bulk_load`` with no graph build) and no IVF index: the
    driver tier answers as the budget-0 Spark route and
    ``_search_oracle`` do, ``route="ivf"`` raises on both tiers, and an
    unembeddable modality answers no rows."""
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5)
    pipe.bulk_load(_mk_docs(tables, 0, 12))
    texts = [r.text for r in _mk_docs(tables, 0, 12).limit(3).collect()]
    drv, spk, want = _driver_and_spark(pipe, texts, 5, monkeypatch,
                                       ("exact", "auto"))
    assert drv == spk
    assert drv["exact"] == want["exact"] == drv["auto"]
    assert drv["many_exact"] == want["exact"]
    # k // 2 of each modality split, and no edge to expand through
    assert all(len(a) == 4 for a in drv["exact"])
    assert all(len(a) == 5 for a in drv["search_ivf"])
    pipe.unwarm()
    pipe.warm()
    assert pipe._warm["sizes"]["edge_rows"] == 0 and "driver" in pipe._warm
    with pytest.raises(ValueError, match="no live IVF"):
        pipe.search(texts[0], route="ivf")
    assert pipe.search(texts[0], modality="smell").collect() == []
    assert pipe.search_many(texts, modality="smell").collect() == []
    assert pipe.search_ivf(texts[0], modality="smell").collect() == []
    assert pipe.serve_search_many(texts, modality="smell") == [[]] * 3
    assert pipe.last_serve_info["tier"] == "driver"


def test_zero_row_index_serves_as_no_index(spark, tables, tmp_path,
                                           monkeypatch):
    """A committed index that assigns no row (a bootstrap whose only
    data batch is torn) serves as no index — cold, on the driver tier
    and on the Spark tier (``DRIVER_TIER_BYTES`` at 0):
    ``route="auto"`` answers the full scan's rows and ``route="ivf"``
    raises. Warm, the copy's own ``cid`` values show it: ``warm()``
    keeps no centroid rows and reports no ``index_rows``."""
    from multi_model_vectorsearch_spark.streaming import ingest

    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=5,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    key = pipe.bulk_load(_mk_docs(tables, 0, 60))
    pipe.build_graph(method="cells")
    # fold the assignment store to zero rows, keeping the batch's commit
    # record so the corpus batch still reads as committed
    pipe._publish_folded_store(pipe.index_dir,
                               pipe._empty(ingest.INDEX_SCHEMA), set(), 1,
                               markers={key})
    _corpus, cents, idx = pipe._probed_views(set())
    assert cents is not None and idx is not None and idx.isEmpty()
    texts = [r.text for r in _mk_docs(tables, 0, 60).limit(3).collect()]

    def check(tier):
        exact = [[(r.id, r.score) for r in pipe.serve_search(
            t, k=5, route="exact")] for t in texts]
        auto = [[(r.id, r.score) for r in pipe.serve_search(
            t, k=5, route="auto")] for t in texts]
        assert pipe.last_serve_info["tier"] == tier
        assert all(exact) and auto == exact, tier
        with pytest.raises(ValueError, match="no live IVF"):
            pipe.search(texts[0], k=5, route="ivf")
        return exact

    cold = check("spark")
    sizes = pipe.warm()
    assert "driver" in pipe._warm and "cent_rows" not in pipe._warm
    assert "index_rows" not in sizes and sizes["corpus_rows"] == 60
    assert check("driver") == cold
    monkeypatch.setattr(ingest, "DRIVER_TIER_BYTES", 0)
    pipe.unwarm()
    sizes = pipe.warm()
    assert "corpus" in pipe._warm and "cent_rows" not in pipe._warm
    assert "index_rows" not in sizes
    assert check("spark") == cold
    pipe.unwarm()


def test_driver_tier_never_answers_stale(spark, tables, tmp_path,
                                         monkeypatch):
    """Whatever drops the warm snapshot drops its driver copy:
    ``process_batch``, ``compact``, ``unwarm`` and a re-warm over
    ``DRIVER_TIER_BYTES`` (onto the Spark tier), and ``maybe_rewarm``
    replaces it (back on the driver tier). After each, a doc just
    ingested ranks first on the next read — by this pipeline, or by a
    second writer on the same state root, which leaves this pipeline's
    snapshot in place until one of those calls."""
    from multi_model_vectorsearch_spark.streaming import ingest as mod

    root = str(tmp_path / "st")
    pipe = IngestPipeline(spark, root, k=5, maintain_ivf=True,
                          n_centroids=None, ivf_bootstrap=16)
    other = IngestPipeline(spark, root, k=5, maintain_ivf=True,
                           n_centroids=None, ivf_bootstrap=16)
    pipe.bulk_load(_mk_docs(tables, 0, 60))
    pipe.build_graph(method="cells")
    ids = iter(range(5_000, 5_100))

    def ingest(writer):
        doc = next(ids)
        text = f"freshly ingested document {doc} about zebras"
        writer.process_batch(spark.createDataFrame(
            [(doc, text, "text")],
            "doc_id bigint, text string, modality string"), doc)
        return doc, text

    def ranks_first(doc, text, tier):
        rows = pipe.serve_search(text, k=5)
        assert (rows[0].id, rows[0].score) == (doc, 1.0), (doc, rows)
        assert pipe.last_serve_info["tier"] == tier

    pipe.warm()
    doc, text = ingest(pipe)
    assert not pipe._warm
    ranks_first(doc, text, "spark")

    pipe.warm()
    doc, text = ingest(other)
    pipe.compact()
    ranks_first(doc, text, "spark")

    pipe.warm()
    doc, text = ingest(other)
    pipe.unwarm()
    ranks_first(doc, text, "spark")

    pipe.warm()
    doc, text = ingest(other)
    with monkeypatch.context() as m:
        m.setattr(mod, "DRIVER_TIER_BYTES", 0)
        pipe.warm()
    assert "driver" not in pipe._warm and "corpus" in pipe._warm
    ranks_first(doc, text, "spark")

    doc, text = ingest(other)
    assert pipe.maybe_rewarm() is True
    assert "driver" in pipe._warm and "corpus" not in pipe._warm
    ranks_first(doc, text, "driver")


def test_answer_frame_collect_equals_spark(spark, tmp_path):
    """``_answer_frame``'s ``collect()`` returns, with no JVM call, the
    rows Spark's collect of its ``VALUES`` relation returns: the same
    fields, Python types and values (a double through its repr, strings
    with quotes and backslashes), and an empty answer keeps its
    schema."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    pipe = IngestPipeline(spark, str(tmp_path / "st"))
    rows = [(3, "te'xt", 0.1 + 0.2), (-7, "a\\b\\'c", 1e-06),
            (2**62, "", -0.5), (0, "image", 1.0)]
    for got, schema in ((rows, "doc_id bigint, modality string, s double"),
                        ([], "id bigint, score double")):
        frame = pipe._answer_frame(got, schema)
        local = frame.collect()
        assert frame._plan is None, "collect() made a JVM call"
        spark_rows = ClassicFrame.collect(frame)
        assert local == spark_rows
        assert [r.asDict() for r in local] == [r.asDict()
                                               for r in spark_rows]
        assert [[type(v) for v in r] for r in local] == [
            [type(v) for v in r] for r in spark_rows]
        assert frame.schema.simpleString() == (
            "struct<" + ",".join(":".join(c.split())
                                 for c in schema.split(", ")) + ">")


def test_driver_snapshot_of_arrow_tables():
    """``_DriverSnapshot.of`` reads the collected Arrow tables as they
    are: rows sorted by doc_id, the embedding matrix normalized once
    (bit-equal to ``_top_pool``'s own normalization, an all-zero row
    kept zero), a null ``cid`` as -1, every edge in both directions
    sorted by ``src``; embeddings of another width raise."""
    import numpy as np
    import pyarrow as pa

    from multi_model_vectorsearch_spark.streaming.ingest import (
        _DriverSnapshot,
        _top_pool,
        _unit_rows,
    )

    emb = [[3.0, 4.0], [0.0, 0.0], [1.0, -2.0]]
    corpus = pa.table({"doc_id": pa.array([9, 2, 5], pa.int64()),
                       "modality": ["text", "image", "audio"],
                       "embedding": pa.array(emb, pa.list_(pa.float64())),
                       "cid": pa.array([1, None, 0], pa.int32())})
    edges = pa.table({"src": pa.array([2, 5], pa.int64()),
                      "dst": pa.array([9, 2], pa.int64()),
                      "score": [0.5, 0.25]})
    snap = _DriverSnapshot.of(corpus, edges, 2)
    assert snap.ids.tolist() == [2, 5, 9]
    assert snap.mods.tolist() == ["image", "audio", "text"]
    assert snap.cid.tolist() == [-1, 0, 1]
    raw = np.array([emb[1], emb[2], emb[0]])
    assert np.array_equal(snap.unit, _unit_rows(raw))
    assert snap.unit[0].tolist() == [0.0, 0.0]
    q, qids = np.array([[1.0, 1.0]]), np.array([-1])
    for got, want in zip(_top_pool(q, qids, snap.unit, snap.ids, 3, True),
                         _top_pool(q, qids, raw, snap.ids, 3)):
        assert np.array_equal(got, want)
    assert list(zip(snap.src.tolist(), snap.dst.tolist(),
                    snap.w.tolist())) == [
        (2, 9, 0.5), (2, 5, 0.25), (5, 2, 0.25), (9, 2, 0.5)]
    assert snap.adjacency({2, 7}) == {2: [(9, 0.5), (5, 0.25)]}
    ragged = corpus.set_column(
        2, "embedding", pa.array([[1.0, 0.0], [1.0], [0.0, 1.0, 0.0]],
                                 pa.list_(pa.float64())))
    with pytest.raises(ValueError, match="not all 2 wide"):
        _DriverSnapshot.of(ragged, edges, 2)
