"""Cross-shard θ-refinement + direct phase-2 probe: the 10^12-doc scale
properties of the WAND pipeline (plans/wand.py).

Phase-1 emission floors at ~k rows per shard holding a query term, so on a
many-shard index the raw candidate set is O(k·n_shards) per query — the
round-2 scale finding. The θ-refinement must collapse that to
O(k·boost-margin) BEFORE any doc metadata is touched, and the phase-2
metadata fetch must stay exchange-free on docs in BOTH join modes:

* broadcast: BroadcastHashJoin probing the refined candidates (docs side is
  the streamed scan) — asserted in tests/test_explain_plans;
* direct: the docs table never enters the Spark plan at all (per-shard
  pyarrow probe with row-group pruning) — asserted here.

Reference semantics anchor: SearchIndexer.search / _calculate_bm25_scores
(indexer.py:280-342, 376-443) — both modes must stay rank- and
score-identical to the exhaustive Catalyst engine.
"""

import math

import pytest

from searchengine_spark.operators import shards
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 400
N_SHARDS = 64  # shard_size ~6 docs: every query term touches most shards
TOP_K = 5


@pytest.fixture(scope="module")
def many_shard_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("manyshard"))
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    return shards.build_and_write_sharded(spark, pages, path, n_shards=N_SHARDS)


@pytest.fixture(scope="module")
def engine(spark, many_shard_index):
    return WandSearchEngine(spark, many_shard_index)


def _direct_engine(spark, index):
    """An engine whose phase-2 gate always picks the direct probe."""
    eng = WandSearchEngine(spark, index)
    eng.BROADCAST_CAND_CEILING = 0
    return eng


def _results(df):
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
        .collect()
    ]


def _volumes(spark, index, queries):
    from searchengine_spark.config import DEFAULT_STOPWORDS

    eng = WandSearchEngine(spark, index)
    qinfo, term_list = eng._analyze(queries, DEFAULT_STOPWORDS)
    raw = eng._candidates(qinfo, term_list, TOP_K, prune=True)
    return raw.count(), eng._refine(raw, TOP_K).count(), len(qinfo)


def test_refined_volume_is_shard_count_independent(
    spark, many_shard_index, tmp_path_factory
):
    """THE round-3 scale property: phase-1 emission grows with shard count
    (each shard holding a query term emits up to its shard-local margin
    set — O(k·n_shards) in the worst case), but the θ-refined volume is the
    per-query GLOBAL boost-margin set, so it must stay flat as the same
    corpus is cut into 16× more shards. This is what makes the phase-2
    fetch O(k·margin) per query at 10^12 docs instead of a
    k·n_shards·|batch| driver-side broadcast (the round-2 verdict's
    perf-weak finding)."""
    path4 = str(tmp_path_factory.mktemp("fewshard"))
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    few = shards.build_and_write_sharded(spark, pages, path4, n_shards=4)
    queries = webgen.reference_queries()[:4]
    pre_few, post_few, n_q = _volumes(spark, few, queries)
    pre_many, post_many, _ = _volumes(spark, many_shard_index, queries)
    # pre-refinement emission grows with shard count…
    assert pre_many > pre_few, (pre_few, pre_many)
    # …but the refined volume does not (small slack: per-shard θ seeds and
    # shard-local emission filters differ slightly between layouts)
    assert post_many <= post_few * 1.2 + 2 * n_q, (post_few, post_many)
    # and refinement genuinely prunes the many-shard emission
    assert post_many < pre_many, (pre_many, post_many)
    # refinement keeps at least the true top-k of every query
    assert post_many >= min(TOP_K, 1) * n_q


def test_refine_has_no_per_query_sort_task(spark, engine, many_shard_index):
    """Round-3 verdict finding #1: θ must come from a tree aggregation, not
    a Window.partitionBy(query_id) sort — the window concentrated a query's
    FULL pre-refinement emission (O(k·n_shards) rows) in one task. The
    refined plan must contain no Window operator at all (the only window in
    the query path is the post-refinement normalize/top-k over the small
    survivor set, which is not part of _refine's subtree), and the per-level
    truncation must be visible as aggregation, not sort-based ranking."""
    from searchengine_spark.config import DEFAULT_STOPWORDS

    queries = webgen.reference_queries()[:4]
    qinfo, term_list = engine._analyze(queries, DEFAULT_STOPWORDS)
    raw = engine._candidates(qinfo, term_list, TOP_K, prune=True)
    refined = engine._refine(raw, TOP_K, many_shard_index.n_shards)
    plan = refined._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Aggregate" in plan, plan  # the top-k tree is an agg tree
    # θ joins back as a broadcast (|batch| rows), never a shuffled join of
    # the full candidate frame
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_refine_theta_value_matches_full_sort(spark, engine):
    """The tree-agg θ must be bit-identical to a full-sort kth-largest —
    including duplicate lb values straddling the k boundary and queries
    with fewer than k candidates (θ NULL ⇒ keep everything)."""
    rows = []
    # query 0: 7 candidates with duplicate lbs around k=5
    lbs = [9.0, 9.0, 7.0, 7.0, 7.0, 3.0, 1.0]
    for i, lb in enumerate(lbs):
        rows.append((0, i % 3, i, lb + 0.5, lb, lb + 1.0))
    # query 1: only 2 candidates (< k) — refinement must keep both
    rows.append((1, 0, 0, 5.0, 4.0, 6.0))
    rows.append((1, 1, 1, 2.0, 1.0, 3.0))
    cands = spark.createDataFrame(
        rows, "query_id int, shard int, docno long, raw double, lb double, ub double"
    )
    got = engine._refine(cands, 5, n_shards=3).collect()
    # full-sort oracle: kth-largest lb of query 0 is sorted([...])[k-1] = 7.0
    # survivors: ub >= 7.0  ⇒ lbs {9,9,7,7,7} (ub = lb+1) plus none of {3,1}
    q0 = sorted(r["docno"] for r in got if r["query_id"] == 0)
    assert q0 == [0, 1, 2, 3, 4], got
    q1 = sorted(r["docno"] for r in got if r["query_id"] == 1)
    assert q1 == [0, 1], got


def test_refinement_is_exact_vs_exhaustive(spark, engine, many_shard_index):
    """Rank- and score-identity on the reference query set over the
    many-shard index, where the refinement actually drops candidates."""
    queries = webgen.reference_queries()
    exported = shards.export_index(spark, many_shard_index)
    want = _results(BM25SearchEngine(spark, exported).search_batch(queries, top_k=TOP_K))
    got = _results(engine.search_batch(queries, top_k=TOP_K))
    assert [w[:3] for w in want] == [g[:3] for g in got]
    for (_, _, _, s1), (_, _, _, s2) in zip(want, got):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)


def test_direct_probe_matches_broadcast(spark, engine, many_shard_index):
    queries = webgen.reference_queries()[:8]
    bc = _results(engine.search_batch(queries, top_k=TOP_K))
    dp = _results(
        _direct_engine(spark, many_shard_index).search_batch(queries, top_k=TOP_K)
    )
    assert bc == dp
    assert len(bc) > 0


def test_direct_probe_plan_never_scans_docs(spark, many_shard_index):
    """In direct mode the docs table must not appear in the Spark plan at
    all (no scan, no exchange, no broadcast of metadata) — metadata is read
    per-shard through pyarrow with row-group pruning."""
    queries = webgen.reference_queries()[:3]
    out = _direct_engine(spark, many_shard_index).search_batch(
        queries, top_k=TOP_K, with_metadata=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "docs_sharded" not in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "title" not in line and "content_snippet" not in line, line


def test_auto_gate_picks_direct_past_ceiling(spark, many_shard_index):
    """The gate must switch to the direct probe when the pre-refinement
    candidate ceiling (k·n_shards·|batch|) exceeds the broadcast cap."""
    eng = WandSearchEngine(spark, many_shard_index)
    eng.BROADCAST_CAND_CEILING = 10  # force the ceiling branch
    queries = webgen.reference_queries()[:2]
    out = eng.search_batch(queries, top_k=TOP_K, with_metadata=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "docs_sharded" not in plan, plan


def test_direct_probe_empty_and_sparse_results(spark, many_shard_index):
    """Direct mode must survive queries with zero candidates and queries
    with fewer than k matches (θ is NULL — nothing may be dropped)."""
    res = _direct_engine(spark, many_shard_index).search_batch(
        [(0, "zzzzunseen qqqtokens"), (1, webgen.reference_queries()[0][1])],
        top_k=TOP_K,
    )
    rows = res.collect() if res is not None else []
    assert all(r["query_id"] == 1 for r in rows)


def test_lazy_persist_lifecycle_is_bounded(spark, many_shard_index):
    """Repeated with_metadata=False batches must not accumulate cache
    entries: each lazy plan's phase-1 persist is handed to the engine and
    dropped by the NEXT batch (or release()), so an engine holds at most
    one entry however many batches it serves; the eager path (and any
    failing path) leaves nothing behind."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    eng = WandSearchEngine(spark, many_shard_index)
    baseline_empty = cm.isEmpty()
    batch = webgen.reference_queries()[:8]  # produces rows on this corpus
    for _ in range(3):
        out = eng.search_batch(batch, top_k=TOP_K, with_metadata=False)
        assert len(out.collect()) > 0  # full path, not an early return
        assert eng._lazy_cands is not None
    eng.release()
    assert eng._lazy_cands is None
    # eager path cleans up inside search_batch itself
    eng.search_batch(webgen.reference_queries()[:1], top_k=TOP_K).collect()
    if baseline_empty:  # don't assert global emptiness if other suites cached
        assert cm.isEmpty(), "search_batch leaked a cache entry"
