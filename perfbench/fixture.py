"""The cached fixture: corpus pages, the served index and expected answers.

Built once per checkout (``python3 perfbench/run.py --prepare``, which the
first run starts in a child process of its own, so no run inherits its
warm JVM) into a temporary directory that is renamed into place when
complete. Expected answers come from the exhaustive ``BM25SearchEngine``
over logical index tables built straight from the pages: a path that
shares no code with ``plans.wand`` beyond query analysis and the boost
chain, the same oracle the repository's tests use.
"""

from __future__ import annotations

import os
import shutil
import time

import common
import queries

LIMIT = 10  # /api/search default limit; the endpoint over-fetches 2x
BATCH_TOPK = 10


def planted_terms() -> list[str]:
    from searchengine_spark.sources import webgen

    return [webgen.planted_term(k) for k in range(webgen.N_PLANTED)]


def serve_pool() -> list[tuple[str, str]]:
    from searchengine_spark.sources import webgen

    return queries.pool(webgen.vocabulary(common.CORPUS_SEED), planted_terms())


def batch_pool() -> list[str]:
    from searchengine_spark.sources import webgen

    return queries.batch_pool(webgen.vocabulary(common.CORPUS_SEED))


def endpoint_view(rows: list, limit: int = LIMIT) -> list[list]:
    """What ``/api/search?limit=`` returns for engine rows ranked by
    (query_id, rank): the excluded-domain filter, then the first ``limit``
    — as ``SearchService.api_search`` post-processes them."""
    from searchengine_spark.plans.classify import EXCLUDED_DOMAINS

    out = []
    for r in rows:
        url = (r["url"] or "").lower()
        if any(d in url for d in EXCLUDED_DOMAINS):
            continue
        out.append([r["doc_id"], float(r["score"])])
    return out[:limit]


def ranked_by_query(df, n_queries: int) -> list[list]:
    """Collect a search_batch result into per-query ranked row lists."""
    by_q: list[list] = [[] for _ in range(n_queries)]
    if df is not None:
        for r in df.orderBy("query_id", "rank").collect():
            by_q[int(r["query_id"])].append(r)
    return by_q


def _oracle(spark, pages):
    from searchengine_spark.operators import index_build
    from searchengine_spark.plans.bm25 import BM25SearchEngine

    tables = index_build.build_index(index_build.extract_documents(pages))
    return BM25SearchEngine(spark, tables)


def prepare() -> None:
    """Build the shared fixture if it is missing."""
    final = common.cache_dir()
    if os.path.exists(os.path.join(final, "fixture.json")):
        return
    from searchengine_spark.operators import shards
    from searchengine_spark.sources import webgen

    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    spark = common.start_spark("perfbench-prepare")
    try:
        webgen.generate_spark(
            spark, common.N_DOCS, seed=common.CORPUS_SEED, partitions=common.nproc()
        ).write.parquet(f"{tmp}/pages")
        pages = spark.read.parquet(f"{tmp}/pages")
        # the served index (and, via its tokenized/ stage output, the base
        # the churn workload re-shards arrivals onto)
        shards.build_and_write_sharded(
            spark, pages, f"{tmp}/index", n_shards=common.n_shards()
        )
        pool = serve_pool()
        oracle = _oracle(spark, pages)
        res = oracle.search_batch(
            [(i, q) for i, (_k, q) in enumerate(pool)], top_k=2 * LIMIT
        )
        by_q = ranked_by_query(res, len(pool))
        expected = {q: endpoint_view(by_q[i]) for i, (_k, q) in enumerate(pool)}
        bpool = batch_pool()
        res = oracle.search_batch(
            list(enumerate(bpool)), top_k=BATCH_TOPK, with_metadata=False
        )
        by_q = ranked_by_query(res, len(bpool))
        batch_expected = {
            q: [[r["doc_id"], float(r["score"])] for r in by_q[i]]
            for i, q in enumerate(bpool)
        }
        # the fast kinds must really be fast (no hit passes the threshold)
        for kind, q in pool:
            if kind in queries.FAST_KINDS and expected[q]:
                raise RuntimeError(f"{kind} query {q!r} has hits: not a fast query")
    finally:
        common.stop_spark(spark)
    common.write_json(
        f"{tmp}/fixture.json",
        {
            "n_docs": common.N_DOCS,
            "corpus_seed": common.CORPUS_SEED,
            "n_shards": common.n_shards(),
            "serve_expected": expected,
            "batch_expected": batch_expected,
            "prepare_s": time.perf_counter() - t0,
        },
    )
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def load() -> dict:
    return common.read_json(os.path.join(common.cache_dir(), "fixture.json"))


def same_answer(got: list, want: list, tol: float = 1e-9) -> bool:
    """Same doc_ids in the same rank order, scores within ``tol``."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(float(g[1]) - float(w[1])) <= tol
        for g, w in zip(got, want)
    )
