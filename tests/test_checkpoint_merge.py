"""Kill/resume checkpointing and multi-pass segment merge properties
(SURVEY.md §5.4-5.5, north-rule resumability + merge clauses)."""

import math

import pandas as pd
import pytest

from searchengine_spark.operators import checkpoint, index_build, merge, shards
from searchengine_spark.operators.checkpoint import SimulatedFailure
from searchengine_spark.sources import webgen

N_DOCS = 240
N_CHUNKS = 4


@pytest.fixture(scope="module")
def pages_pdf():
    return webgen.generate_pandas(N_DOCS)


@pytest.fixture(scope="module")
def pages(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf)


def _sorted_tokenized(df) -> pd.DataFrame:
    pdf = df.toPandas().sort_values("doc_id").reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


# ------------------------------------------------------------ checkpoint/resume
def test_kill_resume_identical_to_single_shot(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt"))

    with pytest.raises(SimulatedFailure):
        checkpoint.checkpointed_tokenize(
            spark, pages, path, n_chunks=N_CHUNKS, fail_after=2
        )
    assert not checkpoint.is_complete(spark, path, N_CHUNKS)
    partial = checkpoint.lineage(spark, path).collect()
    assert len(partial) == 2
    assert all(r["status"] == "complete" for r in partial)

    # resume: remaining chunks only
    resumed = checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=N_CHUNKS)
    assert checkpoint.is_complete(spark, path, N_CHUNKS)

    single = index_build.tokenize_documents(pages)
    got = _sorted_tokenized(resumed)
    want = _sorted_tokenized(single)
    pd.testing.assert_frame_equal(got, want)


def test_lineage_metrics_cover_corpus(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt2"))
    checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=N_CHUNKS)
    rows = checkpoint.lineage(spark, path).collect()
    assert {int(r["chunk_id"]) for r in rows} == set(range(N_CHUNKS))
    assert sum(int(r["n_docs"]) for r in rows) == N_DOCS
    assert all(r["n_tokens"] > 0 and r["wall_s"] > 0 for r in rows)


def test_resume_is_noop_when_complete(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt3"))
    checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=2)
    before = checkpoint.lineage(spark, path).count()
    checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=2)
    assert checkpoint.lineage(spark, path).count() == before


# ------------------------------------------------------------ segment merge
@pytest.fixture(scope="module")
def full_and_segments(spark, pages):
    from pyspark.sql import functions as F

    tokenized = index_build.tokenize_documents(pages).cache()
    full = index_build.build_index_tables(tokenized)
    seg_col = F.pmod(
        F.conv(F.substring(F.col("doc_id"), 1, 15), 16, 10).cast("long"), F.lit(3)
    ).cast("int")
    segs = [
        index_build.build_index_tables(
            tokenized.withColumn("_s", seg_col).filter(F.col("_s") == i).drop("_s")
        )
        for i in range(3)
    ]
    return full, segs


def test_logical_merge_equals_direct_build(spark, full_and_segments):
    full, segs = full_and_segments
    merged = merge.merge_index_tables(spark, segs)

    want = {(r["term"], r["doc_id"]): r["tf"] for r in full.postings.collect()}
    got = {(r["term"], r["doc_id"]): r["tf"] for r in merged.postings.collect()}
    assert got == want

    w = {r["term"]: (r["df"], r["idf"]) for r in full.term_stats.collect()}
    g = {r["term"]: (r["df"], r["idf"]) for r in merged.term_stats.collect()}
    assert g.keys() == w.keys()
    for t in w:
        assert g[t][0] == w[t][0], t
        assert math.isclose(g[t][1], w[t][1], rel_tol=1e-12), t

    sw, sg = full.stats.collect()[0], merged.stats.collect()[0]
    assert sg["n_docs"] == sw["n_docs"]
    assert math.isclose(sg["avgdl"], sw["avgdl"], rel_tol=1e-12)


def _decoded(blocks_df) -> pd.DataFrame:
    out = shards.decode_blocks_to_postings(blocks_df.toPandas())
    return out.sort_values(["term", "docno"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def block_segments(spark, pages, tmp_path_factory):
    """The global index (8 shards, block size 16) from the one sharded
    build, and its posting-block rows split into 3 segments by
    pmod(xxhash64(term, block_no), 3) — disjoint block sets in one shared
    docno space, the shape segment merge consumes."""
    from pyspark.sql import functions as F

    global_idx = shards.shard_and_write_from_tokenized(
        spark, index_build.tokenize_documents(pages),
        str(tmp_path_factory.mktemp("global")), n_shards=8, block_size=16,
    )
    blocks = global_idx.blocks.cache()
    seg_of = F.pmod(F.xxhash64("term", "block_no"), F.lit(3))
    seg_blocks = [blocks.filter(seg_of == i) for i in range(3)]
    return global_idx, seg_blocks, global_idx.avgdl


def test_block_merge_equals_direct_build(spark, block_segments):
    global_idx, seg_blocks, avgdl = block_segments
    merged = merge.merge_block_segments(seg_blocks, avgdl, block_size=16)
    pd.testing.assert_frame_equal(_decoded(merged), _decoded(global_idx.blocks))


def test_multi_pass_merge_associative(spark, block_segments):
    """1-pass (3-way) ≡ 2-pass (fan_in=2) ≡ direct build."""
    global_idx, seg_blocks, avgdl = block_segments
    one_pass = merge.merge_block_segments(seg_blocks, avgdl, block_size=16)
    two_pass = merge.multi_pass_merge(seg_blocks, avgdl, block_size=16, fan_in=2)
    ref = _decoded(global_idx.blocks)
    pd.testing.assert_frame_equal(_decoded(one_pass), ref)
    pd.testing.assert_frame_equal(_decoded(two_pass), ref)
