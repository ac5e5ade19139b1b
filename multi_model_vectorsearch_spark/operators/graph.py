"""Semantic-graph operators (SURVEY.md B51-B52, DQ-33..35).

The reference maintains an undirected NetworkX graph whose edges carry
similarity scores (main.py:258-279) and re-ranks search results by traversing
it with multiplicative score decay (search.py:5-43). Here the graph is a
DataFrame of canonicalized edges ``(src < dst, score)`` — appendable,
partitionable, and joinable at any scale, instead of a whole-graph pickle
rewritten on every ingest (main.py:278).

Operators:

- edge build with cross-modal boost ``score = max(score, 0.8)`` when endpoint
  modalities differ (main.py:272-273);
- 1-hop expansion re-rank: ``new_score = parent * edge * 0.9`` (search.py:28-31),
  deduped per node keeping the best path, global top-k;
- node hydrate + edge endpoint filtering (main.py:170-202): semi-joins against
  the surviving document set.

The generalized expansion expands *all* seeds; the reference's loop quirk
(search.py:10-14 pops a single node per depth iteration, so depth=1 expands
only the top-1 seed) is available as ``expand_top1_only`` and covered by t1
tests. Multi-hop = iterating the 1-hop join with a checkpoint between hops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multi_model_vectorsearch_spark.checkpointing import pin, pin_lazy
from multi_model_vectorsearch_spark.functions.fixedpoint import snap, snap_double
from multi_model_vectorsearch_spark.functions.vector import cosine_similarity
from multi_model_vectorsearch_spark.operators.vector_ops import (
    dq29_knn_topk,
    similarity_scan,
)

Tables = dict

CROSS_MODAL_FLOOR = 0.8  # main.py:273 (serving path, float scores)
CROSS_MODAL_FLOOR_MICRO = 800_000  # same floor on the micro-unit grid
DECAY = 0.9  # search.py:29


_EDGE_CACHE: dict = {}


def dq33_build_edges(t: Tables, n_queries: int = 20, k: int = 5) -> DataFrame:
    """B51/A18-A19: KNN-graph edge build with cross-modal boost.

    Pairs come from the top-k similarity join (self excluded, as the reference
    skips ``neighbor == key``, main.py:264-267); edges are canonicalized
    ``(least, greatest)`` and deduped keeping the max boosted score.
    Session-cached: the edge list seeds every graph entry (expansion,
    triangles, degree, pagerank, BFS), each registered standalone.

    Intentional divergence: this declared query isolates the *edge-build*
    stage over a plain top-k neighbor list so the oracle stays a pure-SQL
    window. The reference's full submit path feeds edge build from the
    modality-balanced ``search_knn`` selection (k*6 pool → k//2 per split,
    main.py:206-253); that composition is what ``IngestPipeline.
    knn_against_corpus`` + ``build_edges`` (streaming/ingest.py) implement
    and test end-to-end.
    """
    from multi_model_vectorsearch_spark.operators.textpipe import (
        _session_cached,
    )

    return _session_cached(
        _EDGE_CACHE, t,
        lambda tt: _build_edges_impl(tt, n_queries, k),
        extra=(n_queries, k), table="embeddings")


def _build_edges_impl(t: Tables, n_queries: int, k: int) -> DataFrame:
    from pyspark.sql import Window

    sims = similarity_scan(t, f"vec_id < {n_queries}", pin_self=True)
    w = Window.partitionBy("qid").orderBy(F.desc("s_micro"), F.asc("vec_id"))
    ranked = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & (F.col("vec_id") != F.col("qid")))
    )
    boosted = ranked.select(
        F.least("qid", "vec_id").alias("src"),
        F.greatest("qid", "vec_id").alias("dst"),
        F.when(F.col("qm") != F.col("modality"),
               F.greatest(F.col("s_micro"), F.lit(CROSS_MODAL_FLOOR_MICRO)))
        .otherwise(F.col("s_micro"))
        .alias("score_micro"),
    )
    return boosted.groupBy("src", "dst").agg(
        F.max("score_micro").alias("score_micro")
    )


def expand_one_hop_micro(seeds: DataFrame, edges: DataFrame, k: int = 10,
                         decay: float = DECAY) -> DataFrame:
    """Micro-unit twin of :func:`expand_one_hop` for the oracle-hashed
    registry path: seeds are ``(vec_id, s_micro)``, edges carry
    ``score_micro``, and each hop score is
    ``floor(s_micro · score_micro · decay / 1e6 + 0.5)`` — the bigint
    product is exact (≤1e12 < 2^53), the decay multiply and divide are
    the same IEEE ops in both engines, so hop scores are engine-identical
    integers end to end (no round(), SURVEY §5.3 rule 6).
    """
    hop = F.floor(
        F.col("s_micro") * F.col("score_micro") * F.lit(decay)
        / F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    fwd = seeds.join(edges, seeds.vec_id == edges.src).select(
        F.col("dst").alias("id"), hop.alias("score_micro"))
    bwd = seeds.join(edges, seeds.vec_id == edges.dst).select(
        F.col("src").alias("id"), hop.alias("score_micro"))
    own = seeds.select(
        F.col("vec_id").alias("id"), F.col("s_micro").alias("score_micro"))
    return (
        own.unionAll(fwd).unionAll(bwd)
        .groupBy("id")
        .agg(F.max("score_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("id"))
        .limit(k)
    )


def expand_one_hop(seeds: DataFrame, edges: DataFrame, k: int = 10,
                   decay: float = DECAY) -> DataFrame:
    """Generalized 1-hop expansion re-rank over canonicalized edges.

    ``seeds`` is ``(vec_id, s)``; traversal follows both edge directions
    (edges are stored canonicalized). Dedup keeps the best-scoring path per
    node (reference keeps first-seen, search.py:6,27 — max is the
    order-independent, hence distributed-safe, generalization). Serving
    runs the same rule on the driver over its seeds' gathered edges
    (``streaming/ingest._expand``).
    """
    fwd = seeds.join(edges, seeds.vec_id == edges.src).select(
        F.col("dst").alias("id"),
        snap_double(F.col("s") * F.col("score") * decay).alias("score"),
    )
    bwd = seeds.join(edges, seeds.vec_id == edges.dst).select(
        F.col("src").alias("id"),
        snap_double(F.col("s") * F.col("score") * decay).alias("score"),
    )
    own = seeds.select(F.col("vec_id").alias("id"), F.col("s").alias("score"))
    return (
        own.unionAll(fwd).unionAll(bwd)
        .groupBy("id")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def dq34_expand(t: Tables, query_vec_id: int = 0, k: int = 10,
                n_queries: int = 20) -> DataFrame:
    """B52/A20: seeds = exact-KNN top-10, expanded 1 hop over DQ-33 edges.

    ``n_queries`` sizes the underlying edge graph (default = the dq33
    registry graph); the scale probe grows it with the corpus so the
    expansion exponent reflects a graph that grows too."""
    seeds = dq29_knn_topk(t, query_vec_id, k)
    edges = dq33_build_edges(t, n_queries=n_queries)
    return expand_one_hop_micro(seeds, edges, k)


def expand_top1_only(t: Tables, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Quirk-compatible expansion: only the best seed expands (search.py:10-14).

    At depth=1 the reference pops exactly one node from its priority queue, so
    only the top-1 KNN result contributes neighbors.
    """
    # seeds feed both the top-1 selection and the rest-union: materialize
    # once instead of running the KNN scan twice
    seeds = dq29_knn_topk(t, query_vec_id, k).transform(pin)
    top1 = seeds.orderBy(F.desc("s_micro"), F.asc("vec_id")).limit(1)
    edges = dq33_build_edges(t)
    expanded = expand_one_hop_micro(top1, edges, k=1 << 30)
    rest = seeds.select(
        F.col("vec_id").alias("id"), F.col("s_micro").alias("score_micro"))
    return (
        rest.unionAll(expanded.select("id", "score_micro"))
        .groupBy("id")
        .agg(F.max("score_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("id"))
        .limit(k)
    )


def dq54_expand_top1(t: Tables, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Registry entry for the quirk-compatible top-1-only expansion."""
    return expand_top1_only(t, query_vec_id, k)


def dq55_expand_2hop(t: Tables, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Multi-hop generalization (depth=2) of the A20 re-rank.

    The reference caps at depth=1 (search.py:5); deeper traversal is the same
    1-hop join iterated, with lineage truncation between hops. Edges are
    materialized once (eager checkpoint) — every hop joins against them, and
    recomputing the KNN edge build per hop costs more than storing it.
    """
    seeds = dq29_knn_topk(t, query_vec_id, k)
    edges = dq33_build_edges(t)  # session-cached + persisted
    frontier = seeds
    for _ in range(2):
        frontier = expand_one_hop_micro(frontier, edges, k=1 << 30)
        frontier = frontier.select(
            F.col("id").alias("vec_id"), F.col("score_micro").alias("s_micro")
        ).transform(pin_lazy)
    return (
        frontier.select(F.col("vec_id").alias("id"),
                        F.col("s_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("id"))
        .limit(k)
    )


def expand_multi_hop(seeds: DataFrame, edges: DataFrame, depth: int,
                     k: int = 10, decay: float = DECAY) -> DataFrame:
    """Bounded-depth traversal: iterate the 1-hop join ``depth`` times.

    Each hop re-feeds the frontier; ``localCheckpoint`` truncates lineage so
    plan size stays constant across hops (iterative-join hygiene at scale).
    """
    frontier = seeds
    for _ in range(depth):
        frontier = expand_one_hop(frontier, edges, k=1 << 30, decay=decay)
        frontier = frontier.select(
            F.col("id").alias("vec_id"), F.col("score").alias("s")
        ).transform(pin_lazy)
    return (
        frontier.select(F.col("vec_id").alias("id"), F.col("s").alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def dq35_hydrate_filter(t: Tables, exclude_label: int = 9) -> DataFrame:
    """A21/A22: node hydrate + edge endpoint filter via semi-joins.

    Valid nodes are embeddings whose document survives (surrogate: label !=
    ``exclude_label``, standing in for the reference's drop-if-missing
    ``data``/``type`` hydrate check, main.py:184-193). Edges survive iff both
    endpoints do (main.py:195-202).
    """
    edges = dq33_build_edges(t)
    valid = t["embeddings"].filter(F.col("label") != exclude_label).select("vec_id")
    return (
        edges.join(F.broadcast(valid), edges.src == valid.vec_id, "left_semi")
        .join(F.broadcast(valid), edges.dst == valid.vec_id, "left_semi")
        .select("src", "dst", "score_micro")
    )


MODALITY_COLORS = {"text": "#4f8cc9", "image": "#c94f4f", "audio": "#4fc98a"}


def graph_render_payload(t: Tables) -> tuple[DataFrame, DataFrame]:
    """A23: vis.js-shaped render projection of the semantic graph.

    The reference serializes nodes (label, color by modality) and edges
    (width ∝ score) for its UI (main.py:128-168, index.html:663-823). Here
    it's a pair of projections over the hydrated graph — pure select/alias,
    no extra shuffles beyond dq35's endpoint filtering.
    """
    edges = dq35_hydrate_filter(t)
    e = t["embeddings"]
    color = F.coalesce(
        *[F.when(F.col("modality") == m, F.lit(c))
          for m, c in MODALITY_COLORS.items()],
        F.lit("#999999"),
    )
    node_ids = (
        edges.select(F.col("src").alias("vec_id"))
        .union(edges.select(F.col("dst")))
        .distinct()
    )
    nodes = node_ids.join(e, "vec_id").select(
        F.col("vec_id").alias("id"),
        F.concat(F.lit("doc:"), F.col("vec_id")).alias("label"),
        color.alias("color"),
        "modality",
    )
    rendered_edges = edges.select(
        F.col("src").alias("from"), F.col("dst").alias("to"),
        # snap, not F.round: width is UI-only payload (never hashed or
        # ranked), but the repo-wide convention is ONE rounding mode —
        # the half-up floor snap — so no half-to-even call survives anywhere
        snap_double(F.col("score_micro") / 1_000_000.0 * 5.0).alias("width"),
    )
    return nodes, rendered_edges


def dq104_triangles(t: Tables) -> DataFrame:
    """Per-node triangle participation counts over the semantic edge graph.

    Classic two-join triangle enumeration on the canonical (src < dst)
    dq33 edge list: (a,b)⨝(b,c)⨝(a,c) with a < b < c finds each triangle
    exactly once. Edges are materialized once and reused by all three scan
    legs; at scale the joins shuffle on the shared vertex, and the a<b<c
    canonicalization means no post-hoc dedup pass. Nodes in no triangle
    report 0 via the left join against the node set.
    """
    edges = dq33_build_edges(t).select("src", "dst")
    ab = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id").agg(F.count("*").alias("n_tri"))
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select("dst")).distinct()
    )
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce("n_tri", F.lit(0)).alias("n_tri")
    )


def dq105_degree_histogram(t: Tables) -> DataFrame:
    """Degree distribution of the semantic graph: degree → node count.

    The profiling query run before choosing a partitioning strategy for
    graph joins — a heavy skew tail here is what motivates salting. Two
    tiny aggregations; the doubled-edge view avoids a union-distinct.
    """
    edges = dq33_build_edges(t)
    adj = edges.select(F.col("src").alias("v")).union(
        edges.select(F.col("dst")))
    deg = adj.groupBy("v").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def dq72_pagerank(t: Tables, iters: int = 3, damping: float = 0.85,
                  n_queries: int = 20) -> DataFrame:
    """Graph analytics beyond the reference: PageRank over the edge graph.

    Fixed-iteration power method on the undirected dq33 graph:
    ``pr' = (1-d)/N + d * Σ pr(u)/deg(u)`` over neighbors. Each iteration is
    one join + one aggregation with the rank vector checkpointed between
    rounds (constant plan size); edges and degrees are materialized once.
    Deterministic for a fixed iteration count, so it is oracle-checkable by
    unrolling the same iterations as SQL CTEs. ``n_queries`` sizes the
    underlying edge graph (probe knob; default = the registry graph).
    """
    edges = dq33_build_edges(t, n_queries=n_queries)
    adj = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .union(edges.select(F.col("dst"), F.col("src")))
        .transform(pin)
    )
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    n_nodes = adj.select("v").distinct().count()
    pr = adj.select("v").distinct().withColumn("p", F.lit(1.0 / n_nodes))
    for i in range(iters):
        contrib = (
            adj.join(pr.withColumnRenamed("v", "n"), "n")
            .join(deg, "n")
            .groupBy("v")
            .agg(F.sum(F.col("p") / F.col("d")).alias("mass"))
        )
        pr = contrib.select(
            "v",
            (F.lit((1.0 - damping) / n_nodes)
             + F.lit(damping) * F.col("mass")).alias("p"),
        )
        # lineage only needs truncating on long runs: a 3-iteration unroll
        # is a shallow plan, and each eager checkpoint is a full extra job
        if (i + 1) % 4 == 0:
            pr = pr.transform(pin)
    return pr.select(F.col("v").alias("id"), snap(F.col("p")).alias("pr_micro"))


# --- connected components ---------------------------------------------------

def _neighbors(edges: DataFrame) -> DataFrame:
    """Undirected adjacency (u, v) from an (src, dst) edge list."""
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )


def _star_round(nbrs: DataFrame, small: bool) -> DataFrame:
    """One large-star (small=False) or small-star (small=True) step.

    Kiveris et al., "Connected Components in MapReduce and Beyond":
    large-star(u) links every neighbor v > u to min(N(u) ∪ {u});
    small-star(u) links u and its neighbors v < u to their minimum.
    Alternating the two converges to component-min stars in O(log²) rounds
    on any graph — the bound min-label propagation lacks on deep chains.
    """
    if small:
        side = nbrs.filter(F.col("v") < F.col("u"))
        grouped = side.groupBy("u").agg(F.collect_set("v").alias("vs"))
        m = F.array_min(F.col("vs"))
        out = grouped.select(
            F.explode(F.array_union("vs", F.array(F.col("u")))).alias("a"),
            m.alias("b"),
        )
    else:
        grouped = nbrs.groupBy("u").agg(F.collect_set("v").alias("vs"))
        m = F.least(F.array_min("vs"), F.col("u"))
        out = grouped.select(
            F.explode(F.expr("filter(vs, x -> x > u)")).alias("a"),
            m.alias("b"),
        )
    return out.filter(F.col("a") != F.col("b")).distinct()


def star_contract(pairs: DataFrame, max_rounds: int = 30
                  ) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction → (labels, rounds).

    ``pairs`` is an (src, dst) candidate-pair list; the result maps every
    non-isolated vertex to its component minimum. Each round rewrites the
    edge set (two shuffles) but the round count is O(log² n) even on
    adversarial chains, versus O(diameter) for label propagation. The
    fixed-point test is a (count, hash-sum) checksum of the edge set — one
    tiny aggregate per round instead of a set-difference join.
    """
    nbrs = _neighbors(pairs).transform(pin)
    prev_sig = None
    rounds = 0
    for _ in range(max_rounds):
        big = _star_round(nbrs, small=False)
        small = _star_round(
            big.union(big.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .select(F.col("a").alias("u"), F.col("b").alias("v")),
            small=True,
        )
        nbrs = (
            small.union(
                small.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .transform(pin)
        )
        rounds += 1
        sig = nbrs.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("u", "v").cast("bigint")).alias("h"),
        ).first()
        if prev_sig == (sig.n, sig.h):
            break
        prev_sig = (sig.n, sig.h)
    labels = (
        nbrs.filter(F.col("v") < F.col("u"))
        .groupBy(F.col("u").alias("v"))
        .agg(F.min("v").alias("comp"))
    )
    roots = (
        _neighbors(pairs).select("u").distinct()
        .join(labels.select(F.col("v").alias("u")), "u", "left_anti")
        .select(F.col("u").alias("v"), F.col("u").alias("comp"))
    )
    return labels.union(roots), rounds


def connected_components(pairs: DataFrame, max_prop_rounds: int = 12,
                         max_star_rounds: int = 30,
                         max_driver_edges: int = 1_000_000) -> DataFrame:
    """Component labels (v, comp=min id) for an (src, dst) pair list.

    Three-phase, cheapest first. The edge list of a near-dup graph is
    orders of magnitude smaller than the corpus (it exists *because* LSH
    pruned the pair space), so when it fits under ``max_driver_edges`` the
    exact answer is a driver-side union-find — microseconds of CPU versus
    5-10 multi-job Spark rounds, and the bound caps driver memory the same
    way ``max_collect`` guards the ingest path. Above the bound:
    min-label propagation with pointer jumping (converges in ~diameter
    rounds, right for shallow dup clusters), and if that misses its round
    budget, alternating star contraction with the O(log² n) worst-case
    bound.
    """
    spark = pairs.sparkSession
    # one job, not count-then-collect (r14): limit(max+1) returns EVERY
    # pair when the edge list fits the driver bound (the limit can only
    # truncate past it), so the size probe and the edge fetch share one
    # materialization; an over-bound list comes back truncated at max+1
    # rows, which is all the Spark fallback path needs to know
    rows = pairs.select("src", "dst").limit(max_driver_edges + 1).collect()
    if len(rows) <= max_driver_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the component label
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(v, find(v)) for v in parent]
        return spark.createDataFrame(rows, "v bigint, comp bigint")
    adj = (
        pairs.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .union(pairs.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct()
        .transform(pin)
    )
    labels = adj.select("v").distinct().withColumn("comp", F.col("v"))

    def step(lbl: DataFrame) -> DataFrame:
        neighbor_labels = adj.join(
            lbl.withColumnRenamed("v", "n"), "n"
        ).select("v", "comp")
        jumped = (
            lbl.alias("l1")
            .join(lbl.alias("l2"), F.col("l1.comp") == F.col("l2.v"))
            .select(F.col("l1.v").alias("v"), F.col("l2.comp").alias("comp"))
        )
        return (
            lbl.union(neighbor_labels).union(jumped)
            .groupBy("v")
            .agg(F.min("comp").alias("comp"))
        )

    for _ in range(max_prop_rounds):
        # two propagate+jump steps per materialization: the label tables are
        # tiny relative to the fixed cost of a round-trip (checkpoint +
        # changed-count job), so halving the number of round-trips — not
        # shrinking the per-round plan — is what cuts wall time
        new_labels = step(step(labels)).transform(pin)
        changed = (
            new_labels.withColumnRenamed("comp", "nc")
            .join(labels, "v")
            .filter(F.col("nc") != F.col("comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    labels, _ = star_contract(pairs, max_rounds=max_star_rounds)
    return labels


def dq121_bfs_layers(t: Tables, max_depth: int = 3,
                     n_queries: int = 20) -> DataFrame:
    """BFS layer sizes from node 0 over the semantic KNN graph — the
    reachability profile that tells you how fast dq34-style expansion
    saturates (and therefore what expansion depth is worth paying for).

    Statically unrolled frontier expansion: each round is
    frontier ⨝ adjacency, anti-joined against the visited set. Rounds are
    data-independent joins so AQE plans each with actual frontier sizes;
    at 100 TB graph scale the visited set stays partitioned by node id and
    only frontiers (small) move. ``n_queries`` sizes the underlying edge
    graph (probe knob; default = the registry graph).
    """
    edges = dq33_build_edges(t, n_queries=n_queries).select("src", "dst")
    # checkpoint: adj is re-read every unrolled round (and the visited
    # accumulator references it transitively) — without this the KNN
    # edge-build lineage re-executes per layer (measured 8.5 s -> ~2 s)
    adj = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct()
        .transform(pin)
    )
    visited = adj.select("v").distinct().filter(F.col("v") == 0) \
        .withColumn("d", F.lit(0))
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            adj.join(frontier.select(F.col("v").alias("fv")),
                     F.col("v") == F.col("fv"))
            .select(F.col("n").alias("v")).distinct()
            .join(visited.select("v"), "v", "left_anti")
            .withColumn("d", F.lit(depth))
        )
        visited = visited.union(nxt)
        frontier = nxt
    return (
        visited.groupBy("d").agg(F.count("*").alias("n_nodes")).orderBy("d")
    )


def dq165_graph_ann(t: Tables, query_vec_id: int = 0, beam: int = 16,
                    rounds: int = 2, k: int = 10,
                    n_entries: int = 8, n_queries: int = 20) -> DataFrame:
    """Graph-based ANN (the HNSW/NSG family, single-layer): beam search
    over the semantic KNN graph. Seed the beam with the fixed entry-point
    vectors, then for a fixed number of rounds expand the beam's
    neighbors, score them against the query, and keep the best ``beam``
    candidates; answer is the final beam's top-k.

    The search touches only entry points + visited neighborhoods — never
    the corpus — so query cost is O(rounds x beam x degree) regardless of
    corpus size; the graph itself is the dq33 edge list the ingest
    pipeline already maintains. Fixed rounds + lexicographic tie-breaks
    make the walk deterministic, so unlike production HNSW this variant
    is oracle-checkable by unrolling the rounds as SQL CTEs.
    """
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv"))
    edges = dq33_build_edges(t, n_queries=n_queries)
    adj = (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
    )

    def score(cands: DataFrame) -> DataFrame:
        return (
            cands.join(e, "vec_id")
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                snap(cosine_similarity(
                    F.col("embedding").cast("array<double>"),
                    F.col("qv").cast("array<double>"))).alias("s_micro"),
            )
        )

    frontier = (
        score(e.filter(F.col("vec_id") < n_entries).select("vec_id"))
        .orderBy(F.desc("s_micro"), F.asc("vec_id")).limit(beam)
    )
    for _ in range(rounds):
        cand = (
            adj.join(frontier.select(F.col("vec_id").alias("v")), "v")
            .select(F.col("n").alias("vec_id"))
            .union(frontier.select("vec_id"))
            .distinct()
        )
        frontier = (
            score(cand).orderBy(F.desc("s_micro"), F.asc("vec_id")).limit(beam)
        )
    return frontier.orderBy(F.desc("s_micro"), F.asc("vec_id")).limit(k)


def dq166_graph_ann_recall(t: Tables, query_vec_id: int = 0,
                           k: int = 10) -> DataFrame:
    """Recall of the graph-ANN walk against the exact KNN answer — the
    dq120-style audit that decides whether the graph (and its beam/round
    budget) is good enough to serve. One row: k, hits, recall.
    """
    approx = dq165_graph_ann(t, query_vec_id, k=k).select("vec_id")
    exact = dq29_knn_topk(t, query_vec_id, k).select("vec_id")
    hits = approx.join(exact, "vec_id", "left_semi")
    return (
        hits.agg(F.count("*").cast("bigint").alias("hits"))
        .select(
            F.lit(k).cast("int").alias("k"), "hits",
            snap(F.col("hits") / F.lit(float(k))).alias("recall_micro"),
        )
    )


def dq190_kcore(t: Tables, k: int = 2, rounds: int = 3) -> DataFrame:
    """k-core decomposition of the semantic edge graph by ``rounds``
    unrolled peeling iterations: repeatedly delete nodes of degree < k
    (with their edges), then report each original node's surviving degree
    and core membership — the standard "dense part of the graph" filter a
    graph-ANN index build runs before committing to neighbor lists.

    Same fixed-round unrolling contract as dq72's PageRank and dq121's
    BFS: each round is degree-aggregate + two vertex-key joins (a shuffle
    on the vertex id, no driver iteration), so ``rounds`` is a static
    plan-depth knob, not a convergence loop — at 100 TB each extra round
    is one more join stage over an always-shrinking edge list. The small
    fixture graph converges well inside 3 rounds; the oracle replays the
    identical unrolled rounds.
    """
    edges0 = dq33_build_edges(t).select("src", "dst")
    alive = edges0
    for _ in range(rounds):
        # each round references `alive` three times (two degree legs + the
        # restriction join) — checkpoint so the plan stays one round deep
        # instead of exploding 3^rounds scan legs
        alive = alive.transform(pin_lazy)
        deg = (
            alive.select(F.col("src").alias("v"))
            .unionAll(alive.select(F.col("dst").alias("v")))
            .groupBy("v").agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        alive = (
            alive.join(keep.withColumnRenamed("v", "src"), "src")
            .join(keep.withColumnRenamed("v", "dst"), "dst")
            .select("src", "dst")
        )
    fdeg = (
        alive.select(F.col("src").alias("v"))
        .unionAll(alive.select(F.col("dst").alias("v")))
        .groupBy("v").agg(F.count("*").alias("core_deg"))
    )
    nodes = (
        edges0.select(F.col("src").alias("id"))
        .union(edges0.select("dst")).distinct()
    )
    return nodes.join(fdeg, nodes.id == fdeg.v, "left").select(
        "id",
        F.coalesce("core_deg", F.lit(0)).cast("bigint").alias("core_deg"),
        F.col("core_deg").isNotNull().alias("in_kcore"),
    )


def dq214_link_prediction(t: Tables) -> DataFrame:
    """Common-neighbor link prediction over the semantic KNN graph: for
    every NON-adjacent node pair sharing at least one neighbor, the
    neighborhood-Jaccard score |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    'edges that should exist' recommender used to densify a similarity
    graph before expansion re-ranking.

    Wedge join on the shared neighbor (two shuffles on vertex ids, the
    same legs dq104's triangle count uses), canonical a < b so each
    candidate appears once, existing edges removed by a left-anti join
    against the canonical edge list, degrees broadcast back. Score is an
    exact integer ratio: one IEEE division.
    """
    edges = dq33_build_edges(t).select("src", "dst")
    adj = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    l1 = adj.select(F.col("src").alias("a"), F.col("dst").alias("x"))
    l2 = adj.select(F.col("src").alias("x"), F.col("dst").alias("b"))
    wedges = (
        l1.join(l2, "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    cand = wedges.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"], "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("degb"))
    return (
        cand.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
        .select(
            "a", "b", "cn",
            snap(
                F.col("cn").cast("double")
                / (F.col("dega") + F.col("degb") - F.col("cn")))
            .alias("score_micro"),
        )
    )


def dq215_local_clustering(t: Tables) -> DataFrame:
    """Per-node local clustering coefficient over the semantic KNN graph:
    2·triangles(v) / (deg(v)·(deg(v)−1)) — 'how clique-like is each
    node's neighborhood', the structural signal that separates dense
    topical pockets (high LCC → aggressive graph-expansion re-ranking is
    safe) from hub nodes bridging topics (low LCC → expansion drifts).

    Reuses dq104's canonical a<b<c triangle enumeration legs and the
    doubled-edge degree count (all on the session-cached edge list); the
    coefficient is an exact integer ratio with one shared IEEE division.
    Nodes of degree < 2 report 0 by definition.
    """
    edges = dq33_build_edges(t).select("src", "dst")
    ab = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id").agg(F.count("*").alias("n_tri"))
    )
    adj = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id")))
    deg = adj.groupBy("id").agg(F.count("*").alias("deg"))
    return (
        deg.join(per_node, "id", "left")
        .select(
            "id", "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                snap(
                    2.0 * F.coalesce("n_tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1))),
            ).otherwise(F.lit(0).cast("bigint")).alias("lcc_micro"),
        )
    )


def dq237_assortativity(t: Tables) -> DataFrame:
    """Degree assortativity of the semantic KNN graph: Pearson
    correlation of endpoint degrees over edges (both orientations) —
    positive means hubs link hubs (expansion re-ranking compounds),
    negative means hubs bridge the periphery (expansion diversifies).
    The one-number structural summary read next to dq105's degree
    histogram and dq215's local clustering.

    Exact bigint sufficient statistics (dq193/dq231's pattern) over the
    doubled edge list joined to the degree table twice — degree tables
    broadcast, sums exact, one sqrt+division at the end written
    identically on both engines.
    """
    edges = dq33_build_edges(t).select("src", "dst")
    adj = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("dy"))
    pairs = (
        adj.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    )
    s = pairs.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.filter((den_x > 0) & (den_y > 0))
        .select(
            "m",
            snap(
                num.cast("double")
                / F.sqrt(den_x.cast("double") * den_y.cast("double")))
            .alias("assortativity_micro"),
        )
    )
