"""The one sharded build ≡ the exhaustive reference.

``shards.build_and_write_sharded`` (stage-1 tokenize → the one build,
``shards.shard_and_write_from_tokenized``) never materializes the raw
postings table; this checks its output against the logical index the
exhaustive ``BM25SearchEngine`` reads, built from the same pages:

* decoded blocks == the logical ``postings``, doc_id mapped to docno
  through the index's own ``docs``;
* ``term_stats`` (derived from the written blocks) == the logical
  ``term_stats``; meta (n_docs, avgdl, Σdoc_len) == the logical stats;
* WAND top-k == exhaustive top-k (rank, doc_id; score within 1e-9).

So skipping the intermediate loses nothing.
"""

import math

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
def direct(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("direct"))
    return shards.build_and_write_sharded(spark, pages, path, n_shards=N_SHARDS)


@pytest.fixture(scope="module")
def logical(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plain"))
    return index_build.build_and_write_index(spark, pages, path, postings_partitions=4)


def _decoded(index) -> pd.DataFrame:
    out = shards.decode_blocks_to_postings(index.blocks.toPandas())
    return out.sort_values(["term", "docno"]).reset_index(drop=True)


def test_blocks_equal_logical_postings(direct, logical):
    want = (
        logical.postings.join(direct.docs.select("doc_id", "docno"), "doc_id")
        .select("term", "docno", "tf", "doc_len")
        .toPandas()
        .sort_values(["term", "docno"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        _decoded(direct).astype({"docno": "int64"}), want.astype({"docno": "int64"})
    )


def test_meta_matches_logical_stats(direct, logical):
    st = logical.stats.collect()[0]
    assert direct.n_docs == st["n_docs"] == N_DOCS
    assert direct.avgdl == pytest.approx(st["avgdl"], abs=1e-9)
    assert direct.sum_doc_len == st["sum_doc_len"]
    assert direct.shard_size == math.ceil(N_DOCS / N_SHARDS)
    assert direct.block_size == shards.DEFAULT_BLOCK_SIZE


def test_term_stats_equal_logical(direct, logical):
    a = {r["term"]: (r["df"], round(r["idf"], 9)) for r in direct.term_stats.collect()}
    b = {r["term"]: (r["df"], round(r["idf"], 9)) for r in logical.term_stats.collect()}
    assert a == b


def test_docs_cosharded(direct):
    rows = direct.docs.collect()
    assert len(rows) == N_DOCS
    assert all(r["shard"] == r["docno"] // direct.shard_size for r in rows)


def test_wand_matches_exhaustive_engine(spark, direct, logical):
    queries = webgen.reference_queries()[:6]
    got = WandSearchEngine(spark, direct).search_batch(queries, top_k=10).collect()
    want = BM25SearchEngine(spark, logical).search_batch(queries, top_k=10).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got_t = [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in sorted(got, key=key)]
    want_t = [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in sorted(want, key=key)]
    assert got_t, "reference queries must hit the corpus"
    assert [t[:3] for t in got_t] == [t[:3] for t in want_t]
    for g, w in zip(got_t, want_t):
        assert math.isclose(g[3], w[3], rel_tol=0, abs_tol=1e-9), (g, w)


def test_tiny_corpus_build_and_query(spark, tmp_path_factory):
    """Degenerate sizes: 3 docs across 4 shards (shard_size=1, some shards
    empty), single-block terms, queries with no hits."""
    path = str(tmp_path_factory.mktemp("tiny"))
    pages = spark.createDataFrame(webgen.generate_pandas(3))
    ix = shards.build_and_write_sharded(spark, pages, path, n_shards=4)
    assert ix.n_docs == 3 and ix.shard_size == 1
    assert ix.docs.count() == 3
    eng = WandSearchEngine(spark, ix)
    res = eng.search_batch([(0, "zzzzunseen tokens")], top_k=5)
    assert res is None or res.count() == 0
    res2 = eng.search_batch(webgen.reference_queries()[:3], top_k=5)
    assert res2 is None or res2.count() >= 0


def test_resumable_direct_build_identical_after_kill(spark, pages, tmp_path_factory, direct):
    """Kill the resumable production build mid-tokenize; resume; the final
    compressed index must be identical to the single-shot direct build."""
    from searchengine_spark.operators.checkpoint import SimulatedFailure
    from searchengine_spark.operators import checkpoint

    path = str(tmp_path_factory.mktemp("resume"))
    with pytest.raises(SimulatedFailure):
        checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=4, fail_after=2)
    resumed = shards.build_and_write_sharded(
        spark, pages, path, n_shards=N_SHARDS, resumable=True, n_chunks=4
    )
    pd.testing.assert_frame_equal(_decoded(resumed), _decoded(direct))
    assert resumed.n_docs == direct.n_docs
    assert resumed.avgdl == pytest.approx(direct.avgdl, abs=1e-9)


def test_fractional_boost_fails_loudly(monkeypatch):
    """The int32 tf cast is only sound for integral field boosts; a
    fractional boost config must fail before the cast can truncate."""
    import pytest as _pytest

    from searchengine_spark.operators import shards as _shards

    monkeypatch.setattr(_shards, "TITLE_BOOST", 2.5)
    with _pytest.raises(ValueError, match="integral field boosts"):
        _shards._assert_integral_boosts()


def test_head_term_skew_is_neutralized(spark, direct):
    """Doc-range sharding must spread every head term's postings across
    (almost) all shards with near-uniform per-shard lists — the explicit
    skew handling the north rule demands, measured from block metadata."""
    from searchengine_spark.operators import shards as _shards

    report = _shards.term_skew_report(direct, top_n=5).collect()
    assert report, "no terms in skew report"
    for r in report:
        # head terms (df >> n_shards) must appear in every shard...
        if r["df"] >= 4 * direct.n_shards:
            assert r["n_shards_present"] == direct.n_shards, r
            # ...with no shard holding a disproportionate slice
            assert r["skew"] <= 2.0, r


@pytest.fixture(scope="module")
def cli_built(spark, tmp_path_factory):
    """A small corpus indexed by the CLI's logical `build`, which keeps its
    stage-1 table at {out}/tokenized."""
    from searchengine_spark import cli

    base = tmp_path_factory.mktemp("cli")
    webgen.generate_spark(spark, 120, partitions=2).write.parquet(str(base / "pages"))
    assert cli.main([
        "--shuffle-partitions", "8", "build", "--input", str(base / "pages"),
        "--out", str(base / "logical"), "--partitions", "4",
    ]) == 0
    return base


def test_cli_optimize_matches_exhaustive_engine(spark, cli_built):
    """`build` then `optimize` (the one sharded build over the kept
    tokenized table): WAND top-k over the output equals the exhaustive
    engine over the logical index."""
    from searchengine_spark import cli

    out = str(cli_built / "optimized")
    assert cli.main([
        "--shuffle-partitions", "8", "optimize", "--index", str(cli_built / "logical"),
        "--out", out, "--shards", "3", "--block-size", "16",
    ]) == 0
    idx = shards.read_sharded_index(spark, out)
    assert (idx.n_docs, idx.n_shards, idx.block_size) == (120, 3, 16)
    logical = index_build.read_index(spark, str(cli_built / "logical"))
    queries = webgen.reference_queries()
    cols = ["query_id", "rank", "doc_id", "score"]
    want = [
        tuple(r) for r in BM25SearchEngine(spark, logical)
        .search_batch(queries, top_k=10).select(*cols).orderBy("query_id", "rank").collect()
    ]
    got = [
        tuple(r) for r in WandSearchEngine(spark, idx)
        .search_batch(queries, top_k=10).select(*cols).orderBy("query_id", "rank").collect()
    ]
    assert want, "reference queries must hit the corpus"
    assert [w[:3] for w in want] == [g[:3] for g in got]
    for w, g in zip(want, got):
        assert math.isclose(w[3], g[3], rel_tol=0, abs_tol=1e-9), (w, g)


def test_cli_optimize_refuses_index_without_tokenized(spark, cli_built, capsys):
    """A `merge` output holds only the logical tables: `optimize` must exit
    non-zero, name the missing directory and point to `build --sharded`."""
    from searchengine_spark import cli

    merged = str(cli_built / "merged")
    assert cli.main([
        "--shuffle-partitions", "8", "merge", "--segments", str(cli_built / "logical"),
        "--out", merged, "--partitions", "4",
    ]) == 0
    capsys.readouterr()
    out = cli_built / "never"
    assert cli.main([
        "--shuffle-partitions", "8", "optimize", "--index", merged, "--out", str(out),
    ]) != 0
    err = capsys.readouterr().err
    assert f"{merged}/tokenized" in err and "build --sharded" in err
    assert not out.exists()
