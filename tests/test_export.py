"""Layout export: compressed sharded index → logical IndexTables.

``shards.export_index`` must be the exact inverse of the build's logical→
sharded conversion: exporting a sharded index yields the same postings
multiset, doc_stats, term_stats, and stats as building the logical tables
directly from the corpus — and the exhaustive BM25 engine over exported
tables is rank-identical to WAND over the blocks it came from.
"""

import pandas as pd
import pytest

from searchengine_spark.operators import index_build, shards
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 400
N_SHARDS = 4


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(webgen.generate_pandas(N_DOCS))


@pytest.fixture(scope="module")
def sharded(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sharded"))
    return shards.build_and_write_sharded(spark, pages, path, n_shards=N_SHARDS)


@pytest.fixture(scope="module")
def exported(spark, sharded, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("exported"))
    return shards.export_and_write_index(spark, sharded, path, postings_partitions=4)


@pytest.fixture(scope="module")
def direct_tables(spark, pages):
    return index_build.build_index(pages)


def _postings_pdf(tables) -> pd.DataFrame:
    cols = ["term", "doc_id", "tf", "doc_len"]
    return (
        tables.postings.select(*cols)
        .toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )


def test_exported_postings_match_direct_build(exported, direct_tables):
    pd.testing.assert_frame_equal(
        _postings_pdf(exported), _postings_pdf(direct_tables)
    )


def test_exported_doc_stats_and_stats(exported, direct_tables):
    a = {r["doc_id"]: r["doc_len"] for r in exported.doc_stats.collect()}
    b = {r["doc_id"]: r["doc_len"] for r in direct_tables.doc_stats.collect()}
    assert a == b
    sa = exported.stats.collect()[0]
    sb = direct_tables.stats.collect()[0]
    assert sa["n_docs"] == sb["n_docs"]
    assert sa["avgdl"] == pytest.approx(sb["avgdl"], abs=1e-9)


def test_exported_term_stats(exported, direct_tables):
    a = {r["term"]: (r["df"], round(r["idf"], 9)) for r in exported.term_stats.collect()}
    b = {r["term"]: (r["df"], round(r["idf"], 9)) for r in direct_tables.term_stats.collect()}
    assert a == b


def test_exported_docs_metadata(exported, direct_tables):
    cols = ["doc_id", "url", "title", "description", "content_snippet"]
    a = exported.docs.select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = direct_tables.docs.select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_exhaustive_over_export_rank_identical_to_wand(spark, sharded, exported):
    queries = webgen.reference_queries()
    wand = WandSearchEngine(spark, sharded).search_batch(queries, top_k=10)
    exh = BM25SearchEngine(spark, exported).search_batch(queries, top_k=10)
    a = [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
         for r in wand.collect()]
    b = [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
         for r in exh.collect()]
    assert a == b
