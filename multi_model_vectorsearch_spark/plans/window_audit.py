"""Partitionless-window audit (round-8 verdict item 1).

A ``Window`` with an empty ``PARTITION BY`` executes as a SINGLE task:
every input row shuffles to one partition and the whole window state sits
in one executor — the textbook 100 TB scale-killer, and the source of
Spark's "No Partition Defined for Window operation" warnings in the bench
tail. This module makes every such window in the registry *accounted for*:

- :func:`partitionless_windows` finds them structurally (walking the
  optimized logical plan, not grepping warning text), so the plan test in
  ``tests/test_plans.py`` can fail the registry the moment a new entry
  introduces an unclassified global window.
- :data:`GLOBAL_WINDOW_CLASS` is the 1:1 classification the round-8
  verdict demanded: each entry that legitimately plans a partitionless
  window is declared either **domain-bounded** (the window input provably
  collapses to a bounded distinct-value table first — e.g. dq225's
  distinct-cents table: row count is bounded by the value domain, not the
  fact table, so the single task holds KBs at any corpus size) or
  **global-order** (the query's declared semantics ARE a total order over
  a driver-bounded result — e.g. a top-N re-rank after a LIMIT; the
  single task sees ≤ N rows by construction). Anything else must migrate
  to the dq171 range-partition + offset-broadcast pattern.

Entries NOT in the classification must plan zero partitionless windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def partitionless_windows(df: DataFrame) -> list[str]:
    """Window nodes in ``df``'s optimized logical plan whose partition
    spec is empty — each returned string is the node's one-line form.

    Structural (py4j tree walk), not textual: warning-log greps miss
    windows that never execute and match unrelated text; the optimized
    plan is exactly what the physical ``WindowExec`` is planned from.
    """
    out: list[str] = []

    from py4j.protocol import Py4JError

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls in ("Window", "WindowGroupLimit"):
            # NOTE: hasattr() on a py4j JavaObject is always True (member
            # resolution is lazy), so it cannot guard this call — catch
            # the resolution error instead, should the class list ever
            # grow a node without partitionSpec()
            try:
                empty = node.partitionSpec().isEmpty()
            except Py4JError:
                empty = False
            if empty:
                out.append(node.simpleString(120))
        # children() covers the main tree; subqueries are inlined by the
        # optimizer before this runs
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


# name -> (class, justification). Classes:
#   "domain-bounded": window input is a bounded distinct-value/aggregate
#       table — single-task state is O(domain), independent of fact size.
#   "driver-bounded": window input is post-LIMIT (TakeOrderedAndProject) —
#       the single task sees ≤ N rows by construction.
#   "global-order": the query's declared contract IS a global total order
#       over an unbounded input; a documented scale-safe twin exists.
# Round-8 audit result. Entries NOT listed here must plan ZERO
# partitionless windows (tests/test_plans.py enforces exhaustiveness).
# Migrated OFF the list via operators.scale.global_order_scalable
# (sampled-boundary range + offset broadcast, output-identical):
# r8: dq227 (vocab rank+cumsum — a 100 TB whitespace vocab is billions of
# tokens), dq238 (3 ntiles over the unbounded user dimension), dq243's
# user ntile. r15: dq18 (NTILE over raw customers — the last raw-row
# funnel), dq236 (cumulative count over near-unique per-user spend sums),
# dq197 (running min over distinct prices, via cum_mins).
# r15: EMPTY — the last five classified entries were migrated too
# (dq64/dq149: sorted-array posexplode ranks over the ≤50-row pools;
# dq233: broadcast one-row total; dq243: 10-row broadcast self-join;
# dq201: global_order_scalable cumulative). The registry now plans ZERO
# partitionless windows; any new one fails tests/test_plans.py until it
# is either migrated or classified here.
GLOBAL_WINDOW_CLASS: dict[str, tuple[str, str]] = {}


# --- serving/ingest plan audit (round-9 verdict item 3) ---------------------
# The registry loop above only walks dq.queries(); the serving and ingest
# paths plan their own windows. serving_plan_suite builds the
# representative DataFrames (without executing them) and the enforcement
# test in tests/test_plans.py applies the same classified-or-fail rule.
# Classes as above, plus:
#   "trigger-bounded": window input is one streaming MICRO-BATCH — bounded
#       by ingest trigger configuration, never by corpus size.
# (``/search`` plans no window: its pool is one kernel pass and its
# modality finish and expansion run on the driver.)
SERVING_WINDOW_CLASS: dict[str, tuple[str, str]] = {
    "knn.fat_batch_chunking": (
        "trigger-bounded",
        "row_number chunking of a fat batch into max_collect query chunks "
        "runs over the MICRO-BATCH (trigger-sized, ingest configuration), "
        "never the corpus — ingest._chunk_ranked; the window executes in "
        "the kernel's per-chunk driver collect, so the returned candidate "
        "plan (knn.fat_batch, audited at zero windows) does not carry it"),
}


def serving_plan_suite(pipe, query_text: str) -> dict[str, "DataFrame"]:
    """Representative serving/ingest DataFrames for the audit — covers the
    paths the r8 audit missed: the `/search` kernel pool on the exact and
    probed routes (cold or warm per the pipeline's current state — the
    one serving DataFrame Spark executes; ``search()`` itself returns a
    driver-built answer), probed `search_ivf`'s pool, the ingest KNN on
    both physical routes (kernel ≤ max_collect and the chunked
    fat-batch), and the graph build on every route (cells, probed, and
    both skew-split). Builds plans only (collect-free except the bounded
    jobs those calls themselves run)."""
    from multi_model_vectorsearch_spark.streaming.ingest import IVF_PROBES

    corpus = pipe.corpus()
    qv = [pipe._query_vec(query_text, "text")]
    fresh = corpus.limit(3)
    # force the fat-batch chunking route via the per-call override — no
    # shared-state mutation (r9 advisor nit: a concurrent pipeline user
    # must never observe a transiently-shrunk max_collect)
    fat = pipe.knn_against_corpus(fresh, n_queries=3, max_collect=1)
    return {
        "search.pool": pipe._search_pool(qv, 4)[0],
        # search_ivf's pool: the same kernel pass, pool_k = k, auto route
        "search_ivf.probed": pipe._search_pool(qv, 4, route="auto")[0],
        "knn.kernel": pipe.knn_against_corpus(fresh, n_queries=3),
        "knn.fat_batch": fat,
        "knn.fat_batch_chunking": pipe._chunk_ranked(fresh),
        # bulk graph build (round-9): every window is qid-partitioned —
        # expected to contribute ZERO partitionless windows
        "build_graph.neighbors": pipe._build_graph_neighbors(),
        # probed graph build: the same cell-group kernel, each doc also
        # querying its next-nearest cells — expected ZERO partitionless
        "build_graph.ivf": pipe._build_graph_neighbors(method="ivf"),
        # probed /search route: the same kernel pass over the probed
        # cells' members
        "search.pool_routed": pipe._search_pool(qv, 4, route="ivf")[0],
        # within-cell bulk build: the applyInPandas cell groups emit the
        # per-query pool; the only windows are _balanced_select's
        # qid-partitioned ones — expected ZERO partitionless
        "build_graph.cells": pipe._within_cell_neighbors(corpus),
        # the skew split (cap=1 forces every cell through the r²
        # decomposition), unprobed and probed: still only
        # _balanced_select's windows — the block reduce is
        # argpartition-in-kernel + the same qid-partitioned selection,
        # expected ZERO partitionless
        "build_graph.cells_blocked": pipe._within_cell_neighbors(
            corpus, cap=1),
        "build_graph.ivf_blocked": pipe._within_cell_neighbors(
            corpus, cap=1, probes=IVF_PROBES, crows=pipe._centroid_rows()),
    }
