"""StateFS adapter + generation-pointer commit protocol.

The ingest state machine's seven FS primitives route through one adapter
(streaming/statefs.py) so the exactly-once protocol runs unchanged on
local disk, HDFS, or an object store. These tests pin (a) op-level parity
between the POSIX and Hadoop backends over the same tree, (b) the
generation-pointer commit (where no directory rename is ever trusted)
publishing the same logical state it folded, on its retention schedule,
and (c) the re-train flip seam rolling forward after a crash.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from multi_model_vectorsearch_spark.streaming.ingest import IngestPipeline
from multi_model_vectorsearch_spark.streaming.statefs import (
    HadoopStateFS,
    LocalStateFS,
    statefs_for,
)


def _moddocs(tables, n):
    return tables["documents"].limit(n).select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("text"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
    )


def test_backend_op_parity(spark, tmp_path):
    """Every adapter primitive agrees between the POSIX backend and the
    Hadoop backend resolved over the same local tree."""
    root = str(tmp_path / "tree")
    lfs = LocalStateFS()
    hfs = HadoopStateFS(spark, root)
    assert hfs.scheme == "file" and hfs.atomic_rename

    spark.range(3).write.parquet(lfs.join(root, "b0"))
    os.makedirs(lfs.join(root, "empty"))
    lfs.write_text(lfs.join(root, "_CURRENT"), ".gen-2")

    for fs in (lfs, hfs):
        assert fs.isdir(root) and fs.isdir(fs.join(root, "b0"))
        assert not fs.isdir(fs.join(root, "nope"))
        assert fs.isfile(fs.join(root, "_CURRENT"))
        assert not fs.isfile(fs.join(root, "b0"))
        assert fs.listdir(root) == ["_CURRENT", "b0", "empty"]
        assert fs.listdir(fs.join(root, "nope")) == []
        assert fs.has_parquet(fs.join(root, "b0"))
        assert fs.has_parquet(root)  # via the non-hidden child
        assert not fs.has_parquet(fs.join(root, "empty"))
        assert fs.read_text(fs.join(root, "_CURRENT")) == ".gen-2"
        assert fs.read_text(fs.join(root, "nope")) is None

    # hidden subtrees don't count as readable state, on either backend
    spark.range(2).write.parquet(lfs.join(root, ".gen-3", "b0"))
    for fs in (lfs, hfs):
        assert not fs.has_parquet(fs.join(root, "empty"))
        assert fs.has_parquet(fs.join(root, ".gen-3"))  # explicit root ok

    # rename + recursive delete round-trip through the Hadoop API
    hfs.rename(hfs.join(root, "b0"), hfs.join(root, "b1"))
    assert lfs.isdir(lfs.join(root, "b1"))
    assert not lfs.isdir(lfs.join(root, "b0"))
    hfs.rmtree(hfs.join(root, "b1"))
    assert not lfs.isdir(lfs.join(root, "b1"))
    hfs.write_text(hfs.join(root, "ptr"), "x\ny")
    assert lfs.read_text(lfs.join(root, "ptr")) == "x\ny"
    hfs.rmtree(hfs.join(root, "ptr"))  # plain-file delete, both backends
    assert lfs.read_text(lfs.join(root, "ptr")) is None


def test_scan_tree_parity_and_contract(spark, tmp_path):
    """scan_tree — the bulk-metadata primitive consistent reads are built
    on — returns every file (hidden included) as sorted relative paths,
    identically on both backends, and [] for a missing directory."""
    root = str(tmp_path / "tree")
    lfs = LocalStateFS()
    hfs = HadoopStateFS(spark, root)

    spark.range(3).coalesce(1).write.parquet(lfs.join(root, "b0"))
    spark.range(2).coalesce(1).write.parquet(
        lfs.join(root, "b1", ".staged"))
    lfs.write_text(lfs.join(root, "_CURRENT"), ".gen-1")
    os.makedirs(lfs.join(root, "empty"))

    local = lfs.scan_tree(root)
    hadoop = hfs.scan_tree(root)
    # Hadoop's create() writes CRC sidecars on file:// that os-level
    # writes don't — compare on the non-CRC view, which is all the
    # protocol reads
    assert [p for p in hadoop if ".crc" not in p] \
        == [p for p in local if ".crc" not in p]
    assert local == sorted(local)
    assert "_CURRENT" in local
    assert any(p.startswith("b0/") and p.endswith(".parquet")
               for p in local)
    assert "b0/_SUCCESS" in local
    assert any(p.startswith("b1/.staged/") for p in local), \
        "hidden subtrees are scanned (the caller filters)"
    assert not any(p.startswith("empty") for p in local), \
        "empty dirs hold no files, so they don't appear"
    for fs in (lfs, hfs):
        assert fs.scan_tree(fs.join(root, "nope")) == []


def test_statefs_routing_and_pointer_commit(spark, tmp_path, tables):
    """Bare paths get the POSIX backend; URI schemes go through Hadoop.
    A default POSIX pipeline publishes its compact by generation
    pointer, like every other backend."""
    assert isinstance(statefs_for(spark, str(tmp_path)), LocalStateFS)
    assert isinstance(statefs_for(spark, "file:///tmp/x"), HadoopStateFS)

    pipe = IngestPipeline(spark, str(tmp_path / "a"), k=5)
    assert isinstance(pipe.fs, LocalStateFS)
    pipe.process_batch(_moddocs(tables, 20), 0)
    pipe.compact()
    assert pipe.fs.read_text(
        pipe.fs.join(pipe.corpus_dir, "_CURRENT")) == ".gen-1"


def test_pointer_compact_matches_precompact_snapshot(spark, tables,
                                                     tmp_path):
    """The generation-pointer compact publishes exactly the logical state
    it folded, flips atomically (a _CURRENT file names the live
    generation), and sweeps superseded generations on the RETENTION
    schedule: the just-superseded generation survives one more flip (so
    in-flight concurrent readers finish their scans), older ones go."""
    docs = _moddocs(tables, 40)
    b0 = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter(F.col("doc_id") >= 20)

    def snap(pipe):
        return (sorted(map(tuple, pipe.corpus().collect())),
                sorted(map(tuple, pipe.edges().collect())))

    ptr = IngestPipeline(spark, str(tmp_path / "ptr"), k=5)
    ptr.process_batch(b0, 0)
    ptr.process_batch(b1, 1)
    before = snap(ptr)
    assert ptr.compact().get("corpus") == 1
    assert snap(ptr) == before
    cur = ptr.fs.read_text(ptr.fs.join(ptr.corpus_dir, "_CURRENT"))
    assert cur == ".gen-1"
    # retention (default 1): the superseded root-level gen-0 state is
    # KEPT through this flip — an in-flight reader may still be scanning
    # it — and logical reads resolve through the pointer regardless
    visible = [e for e in ptr.fs.listdir(ptr.corpus_dir)
               if not e.startswith(("_", "."))]
    assert visible != [], "gen-0 retained for in-flight readers"
    assert ptr.corpus().count() == 40  # reads resolve to .gen-1 only
    # a second compact advances the generation; gen-0 (two flips old) is
    # now swept, .gen-1 enters its retention window
    ptr.process_batch(b0.limit(5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))), 2)
    ptr.compact()
    assert ptr.fs.read_text(
        ptr.fs.join(ptr.corpus_dir, "_CURRENT")) == ".gen-2"
    assert ptr.fs.isdir(ptr.fs.join(ptr.corpus_dir, ".gen-1"))
    visible = [e for e in ptr.fs.listdir(ptr.corpus_dir)
               if not e.startswith(("_", "."))]
    assert visible == [], "gen-0 root-level state swept at the 2nd flip"
    assert ptr.corpus().count() == 45

    # retain_generations=0 restores the immediate sweep (single-actor)
    imm = IngestPipeline(spark, str(tmp_path / "imm"), k=5,
                         retain_generations=0)
    imm.process_batch(b0, 0)
    imm.compact()
    assert [e for e in imm.fs.listdir(imm.corpus_dir)
            if not e.startswith(("_", "."))] == []
    imm.process_batch(b1, 1)
    imm.compact()
    assert not imm.fs.isdir(imm.fs.join(imm.corpus_dir, ".gen-1"))
    assert imm.corpus().count() == 40


def test_pointer_torn_batch_survives_compact_and_replays(
        spark, tables, tmp_path):
    """Pointer-mode twin of the r8 kill-compact pin: a torn batch's
    subdirectories are carried into the new generation BEFORE the flip,
    so a post-compact replay still excludes its own partial writes and
    finishes the batch with state identical to an uninterrupted run."""
    docs = _moddocs(tables, 40)
    b0 = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter(F.col("doc_id") >= 20)

    ref = IngestPipeline(spark, str(tmp_path / "ref"), k=5)
    ref.process_batch(b0, 0)
    ref.process_batch(b1, 1)

    ptr = IngestPipeline(spark, str(tmp_path / "ptr"), k=5)
    ptr.process_batch(b0, 0)
    orig = ptr.knn_against_corpus

    def dying(*a, **kw):
        raise RuntimeError("injected crash after corpus write")

    ptr.knn_against_corpus = dying
    with pytest.raises(RuntimeError, match="injected"):
        ptr.process_batch(b1, 1)
    ptr.knn_against_corpus = orig
    assert ptr._torn_batch_keys() == {"b1"}

    ptr.compact()
    key_dir = ptr._bdir(ptr.corpus_dir, "b1")
    assert ptr.fs.isdir(key_dir), "torn subdir must ride into the new gen"
    assert ptr._torn_batch_keys() == {"b1"}

    ptr.process_batch(b1, 1)  # the checkpoint replay
    def snap(pipe):
        return (sorted(map(tuple, pipe.corpus().collect())),
                sorted(map(tuple, pipe.edges().collect())))

    assert snap(ptr) == snap(ref)


def test_pointer_retrain_seam_rolls_forward(spark, tables, tmp_path):
    """The re-train's one non-atomic seam — between the index flip and
    the centroid flip: a crash there leaves the index pointer advanced
    with the committed next-generation centroids still staged, and any
    writer entry point must finish the flip, restoring a matched
    centroid/assignment pair (test_retrain_swap_seam_rolls_forward pins
    the same seam with the crash state built by hand)."""
    docs = _moddocs(tables, 360)
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16)
    pipe.process_batch(docs.filter(F.col("doc_id") < 20), 0)
    c0 = pipe.centroids().count()
    assert c0 > 1

    orig_swap = pipe._swap_dir
    calls = {"n": 0}

    def crash_on_second_flip(live, nxt):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between the two flips")
        return orig_swap(live, nxt)

    pipe._swap_dir = crash_on_second_flip
    with pytest.raises(RuntimeError, match="injected"):
        pipe.process_batch(docs.filter(F.col("doc_id") >= 20), 1)
    pipe._swap_dir = orig_swap
    # crash window: index flipped to the new generation, centroids stale
    assert pipe._gen_num(pipe.index_dir) == 1
    assert pipe._gen_num(pipe.centroids_dir) == 0
    assert pipe.centroids().count() == c0  # the degraded (old) set

    # a fresh pipeline object (the restarted process) rolls it forward
    pipe2 = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                           maintain_ivf=True, n_centroids=None,
                           ivf_bootstrap=16)
    pipe2.compact()  # any writer entry point
    assert pipe2._gen_num(pipe2.centroids_dir) >= 1
    c1 = pipe2.centroids().count()
    assert c1 >= 2 * c0, "rolled-forward pair must be the re-trained one"
    n = pipe2.corpus().count()
    idx = pipe2.ivf_index()
    assert idx.count() == n
    assert idx.select("doc_id").distinct().count() == n
    # serving works against the converged pair
    sample = docs.orderBy("doc_id").first()
    rows = pipe2.search_ivf(sample.text, k=6, probes=c1).collect()
    assert rows[0].s == 1.0


def test_has_parquet_under_hidden_prefixed_root(spark, tmp_path):
    """r10-advisor pin: listFiles returns scheme-qualified URIs even for a
    bare-path base, so a string-prefix slice misaligns and runs the hidden
    check over the ROOT's own components — a state root under a '_'- or
    '.'-prefixed parent (a perfectly legal deploy path) then reads as
    permanently empty. Both backends must see state under such a root."""
    root = str(tmp_path / "_state" / ".area" / "corpus")
    spark.range(3).write.parquet(LocalStateFS.join(root, "b0"))
    lfs = LocalStateFS()
    hfs = HadoopStateFS(spark, root)
    for fs in (lfs, hfs):
        assert fs.has_parquet(root), type(fs).__name__
        assert fs.has_parquet(fs.join(root, "b0")), type(fs).__name__
    # hidden pruning still works for children below the root
    spark.range(2).write.parquet(LocalStateFS.join(root, "b0", ".staged"))
    import shutil

    shutil.rmtree(LocalStateFS.join(root, "b0"))
    spark.range(2).write.parquet(LocalStateFS.join(root, "b0", ".staged"))
    for fs in (lfs, hfs):
        assert not fs.has_parquet(fs.join(root, "b0")), type(fs).__name__


def test_write_text_pointer_never_missing(spark, tmp_path, monkeypatch):
    """r10 verdict item 3: the pointer commit on rename-capable stores must
    be ONE atomic step — the old delete-then-rename dance had a window
    where a concurrent reader (or a crash) observed no ``_CURRENT`` at all
    and resolved state to the swept root. Interleave a reader at every
    seam of the overwrite and require the pointer to always resolve."""
    root = str(tmp_path)
    hfs = HadoopStateFS(spark, root)
    ptr = hfs.join(root, "_CURRENT")
    hfs.write_text(ptr, ".gen-1")

    seen: list[tuple[str, str | None]] = []
    orig_ow = HadoopStateFS._overwrite_rename
    orig_rename = HadoopStateFS.rename

    def spying_ow(self, src, dst):
        seen.append(("pre-commit", LocalStateFS.read_text(ptr)))
        orig_ow(self, src, dst)
        seen.append(("post-commit", LocalStateFS.read_text(ptr)))

    def spying_rename(self, src, dst):
        # the delete+rename fallback would route through here
        seen.append(("fallback-rename", LocalStateFS.read_text(ptr)))
        orig_rename(self, src, dst)

    monkeypatch.setattr(HadoopStateFS, "_overwrite_rename", spying_ow)
    monkeypatch.setattr(HadoopStateFS, "rename", spying_rename)
    hfs.write_text(ptr, ".gen-2")

    assert ("pre-commit", ".gen-1") in seen
    assert ("post-commit", ".gen-2") in seen
    assert not any(e[0] == "fallback-rename" for e in seen), \
        "one-step overwrite must not fall back on file://"
    assert all(v is not None for _, v in seen), \
        "a reader must NEVER observe the pointer missing"
    assert LocalStateFS.read_text(ptr) == ".gen-2"


def test_write_text_fallback_when_filecontext_unavailable(
        spark, tmp_path, monkeypatch):
    """Schemes without an AbstractFileSystem binding can't build a
    FileContext (the probe caches False); write_text must degrade to
    delete+rename there and still land the new content."""
    root = str(tmp_path)
    hfs = HadoopStateFS(spark, root)
    ptr = hfs.join(root, "_CURRENT")
    hfs.write_text(ptr, ".gen-1")

    def no_fc(self, path):
        self._fc_available = False
        return None

    monkeypatch.setattr(HadoopStateFS, "_file_context", no_fc)
    hfs.write_text(ptr, ".gen-2")
    assert hfs.read_text(ptr) == ".gen-2"
    assert not hfs.isfile(ptr + ".tmp")


def test_write_text_transient_failure_propagates(
        spark, tmp_path, monkeypatch):
    """On a scheme WHERE FileContext exists, a transient failure of the
    one-step overwrite must PROPAGATE — the old bare-except fallback
    silently downgraded the commit protocol to delete+rename exactly when
    the filesystem was flaky, reopening the missing-_CURRENT window (and
    after its delete, a second failure would lose the destination)."""
    root = str(tmp_path)
    hfs = HadoopStateFS(spark, root)
    ptr = hfs.join(root, "_CURRENT")
    hfs.write_text(ptr, ".gen-1")

    def flaky_ow(self, src, dst):
        raise RuntimeError("transient store hiccup")

    monkeypatch.setattr(HadoopStateFS, "_overwrite_rename", flaky_ow)
    with pytest.raises(RuntimeError, match="transient store hiccup"):
        hfs.write_text(ptr, ".gen-2")
    # the destination was never deleted: readers still resolve the OLD
    # pointer, which is the whole point of refusing the downgrade
    assert hfs.read_text(ptr) == ".gen-1"


def test_filecontext_probe_classifier_and_stickiness(spark, tmp_path):
    """Only UnsupportedFileSystemException may demote the probe to the
    fallback; the verdict is cached so the probe runs once."""
    root = str(tmp_path)
    hfs = HadoopStateFS(spark, root)

    class _FakeUnsupported(Exception):
        def __str__(self):
            return ("org.apache.hadoop.fs.UnsupportedFileSystemException: "
                    "No AbstractFileSystem for scheme: fake")

    assert hfs._is_unsupported_fs(_FakeUnsupported())
    assert not hfs._is_unsupported_fs(RuntimeError("transient hiccup"))

    # a cached False verdict keeps write_text on the fallback without
    # ever re-probing (the probe is the only place that sets the flag)
    hfs._fc_available = False
    ptr = hfs.join(root, "_CURRENT")
    hfs.write_text(ptr, ".gen-1")
    hfs.write_text(ptr, ".gen-2")
    assert hfs.read_text(ptr) == ".gen-2"
    assert hfs._fc_available is False


class _CrashError(RuntimeError):
    pass


class _CrashFS(LocalStateFS):
    """LocalStateFS that raises on the k-th MUTATING adapter op (rename /
    rmtree / write_text) — every such op is a potential crash seam in the
    commit protocol, and the sweep below exercises all of them."""

    def __init__(self, crash_at: int):
        self.crash_at = crash_at
        self.n = 0

    def _tick(self):
        self.n += 1
        if self.n == self.crash_at:
            raise _CrashError(f"injected crash at mutation {self.n}")

    def rename(self, src, dst):
        self._tick()
        super().rename(src, dst)

    def rmtree(self, path):
        self._tick()
        super().rmtree(path)

    def write_text(self, path, content):
        self._tick()
        super().write_text(path, content)


def test_exhaustive_crash_sweep_over_retrain_batch(spark, tables, tmp_path):
    """Exhaustive crash-point sweep of the exactly-once machine: a
    re-train micro-batch performs every class of state-FS mutation the
    protocol has (staging cleanup, the two swaps, post-flip sweeps), and
    the stream contract says an uncommitted batch replays. For EVERY
    mutating-op index k, crash there, then recover the real way — a
    fresh pipeline replays the batch — and require the final LOGICAL
    state (corpus, edges, index, centroids) to equal the uninterrupted
    run's. This is the property all the individual
    seam tests (torn batch, swap seam, roll-forward) are instances of."""
    import shutil

    docs = _moddocs(tables, 360)
    b0 = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter(F.col("doc_id") >= 20)

    def mk(state, fs=None):
        return IngestPipeline(spark, state, k=6, maintain_ivf=True,
                              n_centroids=None, ivf_bootstrap=16,
                              fs=fs)

    def snap(pipe):
        return (sorted(map(tuple, pipe.corpus().collect())),
                sorted(map(tuple, pipe.edges().collect())),
                sorted(map(tuple, pipe.ivf_index().collect())),
                sorted((r.cid, tuple(r.cvec))
                       for r in pipe.centroids().collect()))

    base = str(tmp_path / "base")
    mk(base).process_batch(b0, 0)

    ref_state = str(tmp_path / "ref")
    shutil.copytree(base, ref_state)
    ref = mk(ref_state)
    ref.process_batch(b1, 1)
    want = snap(ref)
    assert want[3], "fixture must have re-trained centroids"

    k = 0
    while True:
        k += 1
        state = str(tmp_path / f"crash{k}")
        shutil.copytree(base, state)
        crashfs = _CrashFS(k)
        try:
            mk(state, fs=crashfs).process_batch(b1, 1)
        except _CrashError:
            pass
        else:
            # k exceeded the batch's mutation count: no crash fired —
            # the sweep has covered every seam
            assert snap(mk(state)) == want
            break
        recovered = mk(state)  # the restarted process
        recovered.process_batch(b1, 1)  # at-least-once replay
        assert snap(recovered) == want, f"divergence at crash point {k}"
    # a re-train batch mutates at least 4 times (staging cleanup + two
    # pointer writes; the retention-scheduled sweep keeps gen-0 in place
    # on a first flip)
    assert k >= 4, \
        "sweep must have exercised the full mutation sequence"


class _FlakyObjectFS(LocalStateFS):
    """Object-store semantics emulated over a local tree (r10 verdict
    item 4 — real S3/HDFS is unavailable offline, so fault injection at
    the adapter seam is the testable proxy):

    - ``atomic_rename = False``, exactly as for ``s3a://`` roots;
    - ``write_text`` is a direct single-object overwrite PUT (the same
      branch HadoopStateFS takes on those schemes) — no rename involved;
    - ``rename`` is the store's true shape — a non-atomic copy-then-
      delete — and can be forced to fail outright or die midway, leaving
      a partial destination and an intact source;
    - ``listdir`` can serve one stale (pre-recorded) snapshot per path,
      modelling an eventually-consistent listing on a read path.
    """

    atomic_rename = False

    def __init__(self, rename_mode: str = "ok"):
        self.rename_mode = rename_mode
        self.renames = 0
        self.stale: dict[str, list[str]] = {}

    def rename(self, src, dst):
        import shutil

        self.renames += 1
        if self.rename_mode == "fail":
            raise OSError("injected: object-store rename unavailable")
        if self.rename_mode == "partial":
            # copy-and-delete that dies midway: dst holds a partial copy,
            # src survives (nothing was deleted yet)
            files = []
            for root, _dirs, fs in os.walk(src):
                files += [os.path.join(root, f) for f in sorted(fs)]
            for f in files[: max(len(files) // 2, 1)]:
                rel = os.path.relpath(f, src)
                tgt = os.path.join(dst, rel)
                os.makedirs(os.path.dirname(tgt), exist_ok=True)
                shutil.copy2(f, tgt)
            raise OSError("injected: copy-rename died midway")
        super().rename(src, dst)

    def listdir(self, path):
        if path in self.stale:
            return self.stale.pop(path)
        return super().listdir(path)

    @staticmethod
    def write_text(path, content):
        # single-object overwrite PUT: atomic per object, no rename
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf8") as f:
            f.write(content)


def test_pointer_protocol_never_trusts_rename(spark, tables, tmp_path):
    """The full writer lifecycle — bootstrap ingest, IVF re-train,
    compact, probed serving — must succeed on a store whose rename
    ALWAYS fails: the pointer protocol's only commit primitive is the
    atomic small-object PUT of ``_CURRENT``. (Renames appear in the
    pointer path solely as compact's torn-directory carry, exercised in
    the partial-rename test below.)"""
    docs = _moddocs(tables, 360)
    fs = _FlakyObjectFS(rename_mode="fail")
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6,
                          maintain_ivf=True, n_centroids=None,
                          ivf_bootstrap=16, fs=fs)
    pipe.process_batch(docs.filter(F.col("doc_id") < 20), 0)
    pipe.process_batch(docs.filter(F.col("doc_id") >= 20), 1)  # re-trains
    assert pipe._gen_num(pipe.index_dir) >= 1, "re-train flipped by PUT"
    pipe.compact()
    assert pipe._gen_num(pipe.corpus_dir) >= 1
    n = pipe.corpus().count()
    assert n == 360
    sample = docs.orderBy("doc_id").first()
    rows = pipe.search_ivf(sample.text, k=6).collect()
    assert rows[0].s == 1.0
    assert fs.renames == 0, "no state op may even ATTEMPT a rename"


def test_pointer_compact_partial_carry_recovers(spark, tables, tmp_path):
    """compact()'s one rename — carrying a torn batch's
    subdirectory into the staged generation — dying midway on a
    copy-based store: the pointer never flipped, so live state is
    untouched; the batch replays against the CURRENT generation and the
    next compact re-stages from scratch (its rmtree clears the partial
    litter), converging to the uninterrupted run's state without ever
    needing a working rename again."""
    docs = _moddocs(tables, 40)
    b0 = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter(F.col("doc_id") >= 20)

    ref = IngestPipeline(spark, str(tmp_path / "ref"), k=5)
    ref.process_batch(b0, 0)
    ref.process_batch(b1, 1)
    ref.compact()

    fs = _FlakyObjectFS(rename_mode="partial")
    pipe = IngestPipeline(spark, str(tmp_path / "obj"), k=5, fs=fs)
    pipe.process_batch(b0, 0)
    orig = pipe.knn_against_corpus

    def dying(*a, **kw):
        raise RuntimeError("injected crash after corpus write")

    pipe.knn_against_corpus = dying
    with pytest.raises(RuntimeError, match="injected"):
        pipe.process_batch(b1, 1)
    pipe.knn_against_corpus = orig
    assert pipe._torn_batch_keys() == {"b1"}

    with pytest.raises(OSError, match="midway"):
        pipe.compact()  # the torn-dir carry rename dies
    # pointer never flipped; live state intact and b1 still replayable
    # (the raw corpus accessor shows b1's committed corpus store — 40
    # rows — while the consistent serving view still excludes the torn
    # batch entirely)
    assert pipe._gen_num(pipe.corpus_dir) == 0
    assert pipe.corpus().count() == 40
    q0 = b0.orderBy("doc_id").first()
    served = {r.id for r in pipe.search(q0.text, k=5).collect()}
    assert served and all(v < 20 for v in served), \
        "serving must exclude the torn batch's docs"
    pipe.process_batch(b1, 1)  # the checkpoint replay
    assert pipe._torn_batch_keys() == set()
    pipe.compact()  # no torn dirs left -> no carry -> no rename needed

    def snap(p):
        return (sorted(map(tuple, p.corpus().collect())),
                sorted(map(tuple, p.edges().collect())))

    assert snap(pipe) == snap(ref)
    assert pipe._gen_num(pipe.corpus_dir) == 1


def test_stale_listing_on_reader_degrades_to_prefix(spark, tables,
                                                    tmp_path):
    """A stale (eventually-consistent) LISTING on a serving read may hide
    the newest committed batch — the response must then equal the
    previous committed prefix, never an error or a mixture. (Writer-side
    ops require list-after-write consistency — true of today's S3, GCS,
    and ABFS — documented on compact().)"""
    docs = _moddocs(tables, 60)
    b0 = docs.filter(F.col("doc_id") < 30)
    b1 = docs.filter(F.col("doc_id") >= 30)
    fs = _FlakyObjectFS()
    pipe = IngestPipeline(spark, str(tmp_path / "st"), k=6, fs=fs)
    pipe.process_batch(b0, 0)
    q = docs.orderBy("doc_id").first().text
    resp_prefix = [tuple(r) for r in pipe.search(q, k=6).collect()]
    pipe.process_batch(b1, 1)
    resp_full = [tuple(r) for r in pipe.search(q, k=6).collect()]

    # arm a stale bulk listing for every consistent-read scan of the
    # corpus and edge stores: the reader sees the pre-b1 snapshot
    # (consistent-read metadata now flows through scan_tree, the bulk
    # primitive, so the staleness is modelled there)
    real_scan = fs.scan_tree
    hidden = {pipe.corpus_dir, pipe.edges_dir}

    def stale_scan(path):
        out = real_scan(path)
        if path in hidden:
            return [r for r in out
                    if r != "b1" and not r.startswith("b1/")]
        return out

    fs.scan_tree = stale_scan
    try:
        resp_stale = [tuple(r) for r in pipe.search(q, k=6).collect()]
    finally:
        del fs.scan_tree
    assert resp_stale == resp_prefix
    assert [tuple(r) for r in pipe.search(q, k=6).collect()] == resp_full
