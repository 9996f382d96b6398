"""Multi-pass segment merge for the inverted index.

A *segment* is an index built over a disjoint subset of the corpus (e.g.
one checkpoint chunk, one Iceberg snapshot increment, one day of crawl).
The reference has no segments — it rebuilds the whole pickle in RAM
(indexer.py:109-167); a 10^12-doc index is necessarily built as segments
that are merged in passes (the classic Lucene/inverted-file strategy).

Two levels:

* **logical merge** (:func:`merge_index_tables`) — segment ``IndexTables``
  → one ``IndexTables``. Doc-disjointness makes postings/doc_stats/docs a
  pure union (no combine); term df re-sums per term and idf/avgdl are
  recomputed from merged totals — so a merge is NOT just a union of
  term_stats, which is what the associativity test pins down.

* **block merge** (:func:`merge_block_segments`) — segment posting-*block*
  tables (operators/shards.py layout, shared docno space) → one block
  table: union → repartition by (shard, term) → per-group decode,
  merge-sort by docno, re-encode fresh blocks. One shuffle per pass;
  ``applyInPandas`` groups are bounded by shard size, so head terms cannot
  blow up a task (same skew argument as the build).

Property-tested: merge(A,B,C) ≡ merge(merge(A,B),C) ≡ build-from-union
(SURVEY.md §5.4 merge associativity).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark import config
from searchengine_spark.operators import codec
from searchengine_spark.operators import shards as shards_mod
from searchengine_spark.operators.index_build import IndexTables
from searchengine_spark.operators.shards import BLOCK_POS_SCHEMA, BLOCK_SCHEMA, DEFAULT_BLOCK_SIZE


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def merge_index_tables(spark: SparkSession, segments: list[IndexTables]) -> IndexTables:
    """Merge doc-disjoint logical segments into one logical index."""
    if not segments:
        raise ValueError("no segments to merge")
    postings = _union_all([s.postings for s in segments])
    docs = _union_all([s.docs for s in segments])
    doc_stats = _union_all([s.doc_stats for s in segments])

    stats = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    # df re-sums across segments (a term can appear in many); idf needs the
    # merged N, so it is recomputed, not unioned.
    term_stats = (
        _union_all([s.term_stats.select("term", "df") for s in segments])
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            "df",
            F.greatest(
                F.lit(0.0),
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            ).alias("idf"),
        )
    )
    return IndexTables(
        docs=docs,
        postings=postings,
        doc_stats=doc_stats,
        term_stats=term_stats,
        stats=stats,
    )


def merge_block_segments(
    segments: list[DataFrame],
    avgdl: float,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Merge posting-block tables (shared docno space, doc-disjoint
    segments) into one re-blocked table. One shuffle by (shard,
    term-bucket) — the groupBy below induces it; nothing else may add one."""
    u = _union_all(segments)
    with_positions = "pcounts" in u.columns

    def regroup(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        # "\x00"-prefixed pseudo-terms (the field-signature sidecar,
        # functions/fieldsig.py) pass through VERBATIM as already-encoded
        # block rows: their streams are not (tf, doc_len) postings, segments
        # are doc-disjoint so per-segment rows stay valid side by side, and
        # readers concatenate by docno. Only block_no is renumbered (docno
        # order) for a deterministic layout.
        out_cols = (
            shards_mod._BLOCK_POS_COLS if with_positions else shards_mod._BLOCK_COLS
        )
        pseudo = pdf["term"].str.startswith("\x00")
        passthrough = pdf[pseudo]
        if len(passthrough):
            passthrough = passthrough.sort_values(
                ["shard", "term", "min_docno"], kind="stable"
            ).copy()
            passthrough["block_no"] = passthrough.groupby(
                ["shard", "term"], sort=False
            ).cumcount()
            passthrough = passthrough[out_cols]
            pdf = pdf[~pseudo]
        else:
            passthrough = None
        for (shard, term), g in pdf.groupby(["shard", "term"], sort=False):
            parts = [codec.decode_postings(r.gaps, r.tfs, r.dls) for r in g.itertuples()]
            # carry the boost-bound flag stream through the re-encode
            flags = [codec.varint_decode(r.fls).astype(np.int64) for r in g.itertuples()]
            cols = {
                "shard": int(shard),
                "term": term,
                "docno": np.concatenate([p[0].astype(np.int64) for p in parts]),
                "tf": np.concatenate([p[1] for p in parts]),
                "doc_len": np.concatenate([p[2] for p in parts]),
                "flags": np.concatenate(flags),
            }
            if with_positions:
                plists: list[np.ndarray] = []
                for r in g.itertuples():
                    counts, flat_pos = codec.decode_positions(r.pcounts, r.pgaps)
                    plists.extend(
                        np.split(flat_pos.astype(np.int64), np.cumsum(counts)[:-1])
                    )
                cols["positions"] = plists
            frames.append(pd.DataFrame(cols))
        if not frames:
            encoded = pd.DataFrame(columns=out_cols)
        else:
            flat = pd.concat(frames, ignore_index=True)
            encoded = shards_mod.encode_blocks_pdf(
                flat, avgdl, block_size, with_positions
            )
        if passthrough is not None:
            encoded = pd.concat(
                [encoded[out_cols] if len(encoded) else encoded, passthrough],
                ignore_index=True,
            )
        return encoded

    # same coarse grouping as the build: (shard, term-bucket), per-term
    # split inside the kernel (see operators/shards.py)
    return (
        u.withColumn(
            "_tb", F.pmod(F.xxhash64("term"), F.lit(shards_mod.TERM_BUCKETS))
        )
        .groupBy("shard", "_tb")
        .applyInPandas(
            lambda pdf: regroup(pdf.drop(columns=["_tb"])),
            BLOCK_POS_SCHEMA if with_positions else BLOCK_SCHEMA,
        )
    )


def multi_pass_merge(
    segments: list[DataFrame],
    avgdl: float,
    block_size: int = DEFAULT_BLOCK_SIZE,
    fan_in: int = 2,
) -> DataFrame:
    """Merge many segments in passes of ``fan_in`` (bounds per-pass shuffle
    width; at 10^12 docs segment counts reach thousands and a single
    all-way union would shuffle everything at once)."""
    runs = list(segments)
    while len(runs) > 1:
        runs = [
            merge_block_segments(runs[i : i + fan_in], avgdl, block_size)
            if len(runs[i : i + fan_in]) > 1
            else runs[i]
            for i in range(0, len(runs), fan_in)
        ]
    return runs[0]


def apply_tombstones(spark: SparkSession, index, tombstones: DataFrame):
    """Delete docs from a sharded index (compaction rewrite) — the
    maintenance operator a 10^12-doc index needs for takedowns/GDPR that
    the in-RAM reference (rebuild-the-pickle) never had to express.

    ``tombstones`` is any frame with a ``doc_id`` column. The pass is a
    per-(shard, term-bucket) walk over the block table (the SAME group
    granularity as the build and :func:`merge_block_segments`, so a delete
    task is bounded by ~1/TERM_BUCKETS of a shard — never a whole shard,
    never a whole head-term posting list); the kill set is replicated
    across a shard's buckets (TERM_BUCKETS small int rows per tombstone).

    **Selective rewrite** (enabled by the avgdl-free (max_tf, min_dl)
    bounds every block carries): only blocks whose docnos intersect the
    kill set are decoded and re-encoded — every other block passes through
    with its posting streams BYTE-IDENTICAL (property-tested), paying a
    searchsorted range check and, for range-overlapping blocks, one gaps
    decode. A 100-doc takedown on a 10^12-doc index therefore rewrites
    ~100 blocks, not the index. Corpus-level stats still change everywhere
    — ``N`` and ``avgdl`` are recomputed exactly and idf re-derives from
    the updated per-block ``n`` — and that is still EXACT for queries
    because the only per-block field that depends on avgdl is the WAND
    *upper bound*: pass-through blocks get ``max_partial`` refreshed
    arithmetically to partial(max_tf, min_dl, new avgdl) (a sound, slightly
    looser bound — monotonicity in tf and dl), rewritten blocks get the
    exact block max. Scoring never reads ``max_partial``, so querying the
    compacted index is rank- and score-identical to a fresh build of the
    surviving corpus (property-tested). Surviving docnos keep their values
    — scores never depend on docno, and holes in the docno space are fine
    (shard membership is unchanged, so doc-disjointness and the per-shard
    top-k merge argument still hold).

    For delete visibility WITHOUT any rewrite (O(tombstones) takedowns),
    see :mod:`searchengine_spark.operators.tombstones` — the query-time
    mask the engines consult; this compactor is its amortized counterpart.

    Field-signature sidecar rows (functions/fieldsig.py) are rewritten the
    same way (their deleted entries dropped), so the sidecar never leaks
    deleted docs' field bits.

    The returned index is LAZY: its blocks and term_stats are plans over
    the rewrite, and each materialization re-runs it. **Persist it with
    ``shards.write_sharded_index(apply_tombstones(...), path)``**: the
    rewrite then runs ONCE (the blocks write) and term_stats derive from
    the written blocks.
    """
    from searchengine_spark.functions import fieldsig
    from searchengine_spark.operators.shards import ShardedIndex

    block_size = index.block_size
    with_positions = index.with_positions
    tomb_ids = tombstones.select("doc_id").distinct()
    docs2 = index.docs.join(tomb_ids, "doc_id", "left_anti")
    st = docs2.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").cast("long").alias("sum_doc_len"),
    ).collect()[0]
    n_docs2 = int(st["n_docs"])
    avgdl2 = float(st["avgdl"]) if st["avgdl"] is not None else 0.0
    sum_dl2 = int(st["sum_doc_len"]) if st["sum_doc_len"] is not None else None
    tomb = index.docs.join(tomb_ids, "doc_id").select("shard", "docno")
    out_cols = shards_mod._BLOCK_POS_COLS if with_positions else shards_mod._BLOCK_COLS

    def rewrite(bpdf: pd.DataFrame, tpdf: pd.DataFrame) -> pd.DataFrame:
        kill = np.sort(tpdf["docno"].to_numpy(dtype=np.int64))
        frames = []
        pseudo = bpdf["term"].str.startswith("\x00")
        sig_rows = bpdf[pseudo]
        out_sig_rows = []
        for r in sig_rows.itertuples():
            d = np.cumsum(codec.varint_decode(r.gaps), dtype=np.uint64).astype(
                np.int64
            )
            w = codec.varint_decode(r.tfs)
            if w.size != d.size * fieldsig.SIG_WORDS:
                continue
            keep = ~np.isin(d, kill)
            if not keep.any():
                continue
            if keep.all():
                # no deleted docs in this sidecar row: pass it through with
                # its streams verbatim (sig rows carry no avgdl-dependent
                # metadata, so nothing needs refreshing)
                out_sig_rows.append({c: getattr(r, c) for c in out_cols})
                continue
            d2 = d[keep].astype(np.uint64)
            w2 = w.reshape(-1, fieldsig.SIG_WORDS)[keep]
            gaps = np.empty_like(d2)
            gaps[0] = d2[0]
            np.subtract(d2[1:], d2[:-1], out=gaps[1:])
            row = {
                "shard": int(r.shard),
                "term": r.term,
                "block_no": 0,  # renumbered below
                "n": int(keep.sum()),
                "min_docno": int(d2[0]),
                "max_docno": int(d2[-1]),
                "max_partial": 0.0,
                "max_tf": 0,
                "min_dl": 0,
                "gaps": codec.varint_encode(gaps),
                "tfs": codec.varint_encode(w2.astype(np.uint64).ravel()),
                "dls": b"",
                "fls": b"",
            }
            if with_positions:
                row["pcounts"] = b""
                row["pgaps"] = b""
            out_sig_rows.append(row)
        # docno-ordered per (shard, term): the run split below needs clean
        # and dirty blocks of a term in positional docno order
        bpdf = (
            bpdf[~pseudo]
            .sort_values(["shard", "term", "min_docno"], kind="stable")
            .reset_index(drop=True)
        )

        # selective split: a block whose docnos miss the kill set entirely
        # passes through with posting streams verbatim. The cheap range
        # check (sorted kill + searchsorted on block min/max) clears most
        # blocks without touching bytes; only range-overlapping blocks pay
        # a gaps decode for the precise membership test.
        touched = np.zeros(len(bpdf), dtype=bool)
        if kill.size:
            lo = bpdf["min_docno"].to_numpy(dtype=np.int64)
            hi = bpdf["max_docno"].to_numpy(dtype=np.int64)
            i = np.searchsorted(kill, lo)
            in_range = i < kill.size
            nxt = kill[np.minimum(i, kill.size - 1)]
            in_range &= nxt <= hi
            gaps_col = bpdf.columns.get_loc("gaps")
            for j in np.flatnonzero(in_range):
                d = np.cumsum(
                    codec.varint_decode(bpdf.iat[j, gaps_col]), dtype=np.uint64
                ).astype(np.int64)
                touched[j] = bool(np.isin(d, kill).any())
        clean = bpdf[~touched].copy()
        # run id: dirty blocks of a term separated by a clean block must
        # re-encode independently — pooling them would let a rewritten
        # block span the clean block's docno range, breaking the
        # same-term non-overlap invariant the WAND kernel's searchsorted
        # pruning relies on. A global clean-count works as the run key:
        # a term's rows are contiguous (sorted above), so the count only
        # advances between two of its dirty rows when one of ITS clean
        # blocks sits between them.
        dirty = bpdf[touched].assign(_crun=np.cumsum(~touched)[touched])
        if len(clean):
            # refresh the avgdl-baked WAND bound arithmetically from the
            # avgdl-free (max_tf, min_dl) metadata: a sound (if slightly
            # looser) upper bound under the NEW avgdl — monotone in tf,
            # antitone in dl — with no decode and no re-encode
            mt = clean["max_tf"].to_numpy(dtype=np.float64)
            md = clean["min_dl"].to_numpy(dtype=np.float64)
            clean["max_partial"] = config.bm25_partial(mt, md, avgdl2)

        for (shard, term, run), g in dirty.groupby(
            ["shard", "term", "_crun"], sort=False
        ):
            parts = [codec.decode_postings(r.gaps, r.tfs, r.dls) for r in g.itertuples()]
            flags = [codec.varint_decode(r.fls).astype(np.int64) for r in g.itertuples()]
            docno = np.concatenate([p[0].astype(np.int64) for p in parts])
            keep = ~np.isin(docno, kill)
            if not keep.any():
                continue
            cols = {
                "shard": int(shard),
                "term": term,
                "_crun": int(run),
                "docno": docno[keep],
                "tf": np.concatenate([p[1] for p in parts])[keep],
                "doc_len": np.concatenate([p[2] for p in parts])[keep],
                "flags": np.concatenate(flags)[keep],
            }
            if with_positions:
                plists: list[np.ndarray] = []
                for r in g.itertuples():
                    counts, flat_pos = codec.decode_positions(r.pcounts, r.pgaps)
                    plists.extend(
                        np.split(flat_pos.astype(np.int64), np.cumsum(counts)[:-1])
                    )
                cols["positions"] = [p for p, k in zip(plists, keep) if k]
            frames.append(pd.DataFrame(cols))
        parts_out = []
        if len(clean):
            parts_out.append(clean[out_cols])
        if frames:
            flat = pd.concat(frames, ignore_index=True)
            parts_out.append(
                shards_mod.encode_blocks_pdf(
                    flat, avgdl2, block_size, with_positions, run_col="_crun"
                )[out_cols]
            )
        if out_sig_rows:
            parts_out.append(pd.DataFrame(out_sig_rows, columns=out_cols))
        if not parts_out:
            return pd.DataFrame(columns=out_cols)
        allb = pd.concat(parts_out, ignore_index=True)
        # deterministic layout: blocks renumbered in docno order per
        # (shard, term) — pass-through and rewritten rows interleave cleanly
        # because blocks of one term never overlap in docno space (the
        # per-run re-encode above is what preserves that invariant)
        allb = allb.sort_values(["shard", "term", "min_docno"], kind="stable")
        allb["block_no"] = (
            allb.groupby(["shard", "term"], sort=False).cumcount().astype("int32")
        )
        return allb[out_cols].reset_index(drop=True)

    # build-granularity grouping: (shard, term-bucket) bounds each task at
    # ~1/TERM_BUCKETS of a shard; the kill set replicates across buckets
    # (tiny int rows) so every bucket task sees its shard's tombstones
    blocks_b = index.blocks.withColumn(
        "_tb", F.pmod(F.xxhash64("term"), F.lit(shards_mod.TERM_BUCKETS)).cast("int")
    )
    tomb_rep = tomb.withColumn(
        "_tb",
        F.explode(F.array(*[F.lit(i) for i in range(shards_mod.TERM_BUCKETS)])),
    )
    blocks2 = (
        blocks_b.groupby("shard", "_tb")
        .cogroup(tomb_rep.groupby("shard", "_tb"))
        .applyInPandas(
            lambda b, t: rewrite(b.drop(columns=["_tb"]), t),
            BLOCK_POS_SCHEMA if with_positions else BLOCK_SCHEMA,
        )
    )

    return ShardedIndex(
        blocks=blocks2,
        docs=docs2,
        term_stats=shards_mod._term_stats(blocks2, n_docs2),
        n_docs=n_docs2,
        avgdl=avgdl2,
        sum_doc_len=sum_dl2,
        n_shards=index.n_shards,
        shard_size=index.shard_size,
        block_size=block_size,
        with_positions=with_positions,
    )
