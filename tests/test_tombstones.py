"""Deletion/compaction exactness (operators/merge.py:apply_tombstones).

The load-bearing property: querying a tombstone-compacted index is
rank- AND score-identical to querying a fresh build of the surviving
corpus — i.e. deletion really removes the docs' influence on N, avgdl,
df/idf, and every block-max bound, not just their rows."""

import numpy as np
import pytest

from searchengine_spark.functions import fieldsig
from searchengine_spark.operators import codec, merge, shards
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("tomb")
    pages = webgen.generate_spark(spark, n_docs=300, partitions=4)
    # deterministic kill set: every 7th page by URL residue
    from pyspark.sql import functions as F

    kill_urls = pages.filter(F.pmod(F.xxhash64("url"), F.lit(7)) == 0).select("url")
    survivors = pages.join(kill_urls, "url", "left_anti")
    full = shards.build_and_write_sharded(spark, pages, str(base / "full"), n_shards=4)
    full = shards.read_sharded_index(spark, str(base / "full"))
    fresh = shards.build_and_write_sharded(
        spark, survivors, str(base / "fresh"), n_shards=4
    )
    fresh = shards.read_sharded_index(spark, str(base / "fresh"))
    tomb_ids = full.docs.join(
        fresh.docs.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id")
    # the written compaction (rewrite runs once) + read-back
    compacted = shards.write_sharded_index(
        merge.apply_tombstones(spark, full, tomb_ids), str(base / "compacted")
    )
    return full, fresh, compacted, tomb_ids


def test_stats_match_fresh_build(spark, corpora):
    full, fresh, compacted, _ = corpora
    assert compacted.n_docs == fresh.n_docs < full.n_docs
    assert abs(compacted.avgdl - fresh.avgdl) < 1e-9
    a = {r["term"]: (r["df"], round(r["idf"], 9)) for r in compacted.term_stats.collect()}
    b = {r["term"]: (r["df"], round(r["idf"], 9)) for r in fresh.term_stats.collect()}
    assert a == b


def test_no_deleted_docnos_survive(spark, corpora):
    full, _fresh, compacted, tomb_ids = corpora
    killed = {
        r["docno"]
        for r in full.docs.join(tomb_ids, "doc_id").select("docno").collect()
    }
    assert killed
    for row in compacted.blocks.toPandas().itertuples():
        d = np.cumsum(codec.varint_decode(row.gaps), dtype=np.uint64).astype(np.int64)
        assert not (set(d.tolist()) & killed), row.term
        if row.term == fieldsig.SIG_TERM:
            w = codec.varint_decode(row.tfs)
            assert w.size == d.size * fieldsig.SIG_WORDS  # sidecar re-encoded


def test_query_identical_to_fresh_build(spark, corpora):
    _full, fresh, compacted, _ = corpora
    queries = webgen.reference_queries()
    want = WandSearchEngine(spark, fresh).search_batch(queries, top_k=10)
    got = WandSearchEngine(spark, compacted).search_batch(queries, top_k=10)
    cols = ["query_id", "rank", "doc_id", "score"]
    w = [tuple(r) for r in want.select(*cols).orderBy("query_id", "rank").collect()]
    g = [tuple(r) for r in got.select(*cols).orderBy("query_id", "rank").collect()]
    assert [x[:3] for x in w] == [x[:3] for x in g]
    for (_, _, _, s1), (_, _, _, s2) in zip(w, g):
        assert abs(s1 - s2) <= 1e-9 * max(abs(s1), abs(s2), 1.0)


def test_positional_tombstones_preserve_phrases(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from searchengine_spark.plans import phrase

    base = tmp_path_factory.mktemp("tombpos")
    pages = webgen.generate_spark(spark, n_docs=150, partitions=2)
    kill_urls = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0).select("url")
    survivors = pages.join(kill_urls, "url", "left_anti")
    full = shards.build_and_write_sharded(
        spark, pages, str(base / "full"), n_shards=2, with_positions=True
    )
    full = shards.read_sharded_index(spark, str(base / "full"))
    fresh = shards.build_and_write_sharded(
        spark, survivors, str(base / "fresh"), n_shards=2, with_positions=True
    )
    fresh = shards.read_sharded_index(spark, str(base / "fresh"))
    tomb_ids = full.docs.join(
        fresh.docs.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id")
    compacted = merge.apply_tombstones(spark, full, tomb_ids)
    assert compacted.with_positions
    q = "search engine"
    want = {
        (r["doc_id"], r["phrase_tf"])
        for r in phrase.phrase_match_sharded(spark, fresh, q, top_k=50).collect()
    }
    got = {
        (r["doc_id"], r["phrase_tf"])
        for r in phrase.phrase_match_sharded(spark, compacted, q, top_k=50).collect()
    }
    assert want == got


def test_mask_stats_exact(spark, corpora):
    """build_mask derives the surviving N/avgdl arithmetically — they must
    equal a fresh build's stats exactly (meta carries Σdoc_len)."""
    from searchengine_spark.operators import tombstones

    full, fresh, _compacted, tomb_ids = corpora
    mask = tombstones.build_mask(spark, full, tomb_ids)
    assert mask.n_docs == fresh.n_docs
    assert mask.avgdl == pytest.approx(fresh.avgdl, abs=1e-12)
    assert mask.killed.size == full.n_docs - fresh.n_docs > 0


def test_masked_query_identical_to_fresh_build(spark, corpora):
    """THE O(tombstones) delete property: querying the FULL index through a
    tombstone mask — no rewrite, no compaction — is rank- and
    score-identical to a fresh build of the survivors (df/idf/N/avgdl and
    the block bounds all corrected at query time)."""
    from searchengine_spark.operators import tombstones

    full, fresh, _compacted, tomb_ids = corpora
    mask = tombstones.build_mask(spark, full, tomb_ids)
    queries = webgen.reference_queries()
    want = WandSearchEngine(spark, fresh).search_batch(queries, top_k=10)
    got = WandSearchEngine(spark, full, mask=mask).search_batch(queries, top_k=10)
    cols = ["query_id", "rank", "doc_id", "score"]
    w = [tuple(r) for r in want.select(*cols).orderBy("query_id", "rank").collect()]
    g = [tuple(r) for r in got.select(*cols).orderBy("query_id", "rank").collect()]
    assert [x[:3] for x in w] == [x[:3] for x in g]
    for (_, _, _, s1), (_, _, _, s2) in zip(w, g):
        assert abs(s1 - s2) <= 1e-9 * max(abs(s1), abs(s2), 1.0)


def test_mask_cap_enforced(spark, corpora):
    from searchengine_spark.operators import tombstones

    full, _fresh, _compacted, tomb_ids = corpora
    with pytest.raises(ValueError, match="compacted"):
        tombstones.build_mask(spark, full, tomb_ids, max_tombstones=1)


def test_mask_cap_counts_matched_not_raw_tombstones(spark, corpora):
    """Round-3 ADVICE: a replayed kill log can be full of ids that were
    already compacted out of the index — only tombstones PRESENT in the
    index count toward the mask cap. An oversized raw set with few matched
    ids must build the same mask as the matched ids alone (routed through
    the non-broadcast join, with the collect bounded by the cap)."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators import tombstones

    full, _fresh, _compacted, tomb_ids = corpora
    n_matched = tomb_ids.count()
    # pad with 50 ids absent from the index (md5-shaped but unseen)
    stale = spark.range(50).select(
        F.md5(F.concat(F.lit("stale"), F.col("id").cast("string"))).alias(
            "doc_id"
        )
    )
    replayed = tomb_ids.unionByName(stale)
    cap = n_matched + 5  # raw count (n_matched+50) far exceeds the cap
    mask = tombstones.build_mask(
        spark, full, replayed, max_tombstones=cap
    )
    want = tombstones.build_mask(spark, full, tomb_ids)
    assert mask.killed.tolist() == want.killed.tolist()
    assert mask.n_docs == want.n_docs
    assert mask.avgdl == want.avgdl


def test_selective_compaction_touches_only_killed_blocks(spark, corpora):
    """Compaction must pass every block with no masked docno through with
    BYTE-IDENTICAL posting streams — a 100-doc takedown rewrites ~100
    blocks, not the index."""
    full, _fresh, compacted, tomb_ids = corpora
    killed = {
        r["docno"]
        for r in full.docs.join(tomb_ids, "doc_id").select("docno").collect()
    }
    before = {}
    n_dirty = 0
    for r in full.blocks.toPandas().itertuples():
        d = np.cumsum(codec.varint_decode(r.gaps), dtype=np.uint64).astype(np.int64)
        if set(d.tolist()) & killed:
            n_dirty += 1
        else:
            before[(r.shard, r.term, int(d[0]))] = (r.gaps, r.tfs, r.dls)
    assert n_dirty > 0 and before
    matched = 0
    for r in compacted.blocks.toPandas().itertuples():
        d = np.cumsum(codec.varint_decode(r.gaps), dtype=np.uint64).astype(np.int64)
        key = (r.shard, r.term, int(d[0]))
        if key in before:
            assert (r.gaps, r.tfs, r.dls) == before[key], key
            matched += 1
    # every clean block survived verbatim (dirty re-encodes can merge into
    # fresh block cuts, so only clean blocks are asserted one-to-one)
    assert matched == len(before), (matched, len(before))


def test_masked_phrase_matches_fresh(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from searchengine_spark.operators import tombstones
    from searchengine_spark.plans import phrase

    base = tmp_path_factory.mktemp("tombmaskpos")
    pages = webgen.generate_spark(spark, n_docs=150, partitions=2)
    kill_urls = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0).select("url")
    survivors = pages.join(kill_urls, "url", "left_anti")
    full = shards.build_and_write_sharded(
        spark, pages, str(base / "full"), n_shards=2, with_positions=True
    )
    fresh = shards.build_and_write_sharded(
        spark, survivors, str(base / "fresh"), n_shards=2, with_positions=True
    )
    tomb_ids = full.docs.join(
        fresh.docs.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id")
    mask = tombstones.build_mask(spark, full, tomb_ids)
    q = "search engine"
    want = {
        (r["doc_id"], r["phrase_tf"])
        for r in phrase.phrase_match_sharded(spark, fresh, q, top_k=50).collect()
    }
    got = {
        (r["doc_id"], r["phrase_tf"])
        for r in phrase.phrase_match_sharded(
            spark, full, q, top_k=50, mask=mask
        ).collect()
    }
    assert want == got


def test_interleaved_dirty_clean_blocks_stay_nonoverlapping(spark, tmp_path_factory):
    """Kill docs in the FIRST and LAST block of a multi-block term while the
    middle blocks stay clean: the rewritten survivors must re-encode per
    contiguous dirty run, never into blocks spanning a pass-through block's
    docno range — same-term non-overlap is what the WAND kernel's
    searchsorted block pruning assumes."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("tombruns")
    pages = webgen.generate_spark(spark, n_docs=400, partitions=4)
    shards.build_and_write_sharded(
        spark, pages, str(base / "full"), n_shards=1, block_size=8
    )
    full = shards.read_sharded_index(spark, str(base / "full"))
    # the plain build path persists the exact corpus Σdoc_len (tombstone
    # masking's bit-exact avgdl input), not just the rounded avgdl
    assert full.sum_doc_len == full.docs.agg(F.sum("doc_len")).collect()[0][0]
    bl = full.blocks.toPandas()
    bl = bl[~bl["term"].str.startswith("\x00")]
    term = bl.groupby("term").size().idxmax()
    tb = bl[bl["term"] == term].sort_values("min_docno")
    assert len(tb) >= 3, "fixture must yield a >=3-block term"
    k1, k2 = int(tb.iloc[0]["min_docno"]), int(tb.iloc[-1]["max_docno"])
    tomb_ids = full.docs.filter(F.col("docno").isin([k1, k2])).select("doc_id")
    compacted = shards.write_sharded_index(
        merge.apply_tombstones(spark, full, tomb_ids), str(base / "compacted")
    )
    out = compacted.blocks.toPandas()
    out = out[~out["term"].str.startswith("\x00")]
    for t, g in out.groupby("term"):
        g = g.sort_values("min_docno")
        lo, hi = g["min_docno"].to_numpy(), g["max_docno"].to_numpy()
        assert (lo[1:] > hi[:-1]).all(), f"overlapping blocks for term {t!r}"
    # and the compacted index still answers rank+score-identical to a
    # fresh build of the survivors
    kill_urls = full.docs.join(tomb_ids, "doc_id").select("url")
    survivors = pages.join(kill_urls, "url", "left_anti")
    shards.build_and_write_sharded(
        spark, survivors, str(base / "fresh"), n_shards=1, block_size=8
    )
    fresh = shards.read_sharded_index(spark, str(base / "fresh"))
    queries = webgen.reference_queries() + [(900, term)]
    want = WandSearchEngine(spark, fresh).search_batch(queries, top_k=10)
    got = WandSearchEngine(spark, compacted).search_batch(queries, top_k=10)
    cols = ["query_id", "rank", "doc_id", "score"]
    w = [tuple(r) for r in want.select(*cols).orderBy("query_id", "rank").collect()]
    g = [tuple(r) for r in got.select(*cols).orderBy("query_id", "rank").collect()]
    assert [x[:3] for x in w] == [x[:3] for x in g]
    for (_, _, _, s1), (_, _, _, s2) in zip(w, g):
        assert abs(s1 - s2) <= 1e-9 * max(abs(s1), abs(s2), 1.0)
