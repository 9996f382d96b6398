"""Document-sharded, block-compressed physical index layout.

This is the 100 TB-scale physical organization of the logical index
(:class:`~searchengine_spark.operators.index_build.IndexTables`):

* **docno assignment** — every doc_id (md5 hex, 128-bit) gets a dense
  int64 ``docno`` by global doc_id order. Implemented scale-correctly:
  ``repartitionByRange`` + in-partition sort + per-partition offset
  enumeration (the classic zipWithIndex layout) — no global sort on one
  node, no window over a single partition. Deterministic because the
  ranged/sorted frame is persisted and both passes (offset count,
  enumeration) read the same partitions.

* **doc-range sharding** — ``shard = docno // shard_size``. Sharding by
  *document* (not by term) is what real distributed search engines do:
  every posting of a doc lives in exactly one shard, so a shard can compute
  exact BM25+boost scores for its docs locally and global top-k is the
  merge of per-shard top-k's. It is also the skew answer demanded by the
  north rule: a Zipf head term's posting list is split across all shards
  (doc-hash salting with contiguous ranges), so no single task ever
  materializes a whole head-term posting list. The salt-invariance
  property (n_shards=1 ≡ n_shards=16 after decode) is pytest-verified.

* **posting blocks** — within (shard, term), postings are sorted by docno
  and cut into blocks of ``block_size``; each block stores delta-gap +
  varint streams (operators/codec.py) for (docno gaps, tf, doc_len,
  boost flags) plus block-max metadata: ``max_partial`` = max over the
  block of the doc-dependent BM25 factor (k1+1)·tf / (k1·(1−b+b·dl/avgdl)+tf),
  the exact per-block score upper bound used by the WAND scorer
  (plans/wand.py), and the avgdl-free ``(max_tf, min_dl)`` pair that
  re-derives that bound under any other avgdl. Contiguous docnos within a
  shard keep gaps tiny, so varints are mostly 1 byte.

* **one build path, one writer, one layout** — postings become blocks
  only in :func:`shard_and_write_from_tokenized` (stage-1 tokenized frame →
  blocks; :func:`build_and_write_sharded` and the CLI ``optimize`` reach it
  from pages / a kept ``tokenized`` table), and every sharded index —
  build or compaction (operators/merge.py) — is written by
  :func:`write_sharded_index`, with term_stats derived from the written
  blocks. Segment merge emits the same block columns;
  :func:`read_sharded_index` checks them once on open and refuses anything
  else, so no reader keeps a compatibility branch.

Reference parity: this replaces the reference's single pickled
``term → [(doc_id, tf)]`` dict (indexer.py:45,149-150,246-248) and its
whole-file gzip "optimization" (optimized_indexer.py:238-248) with the
standard compressed inverted-file layout (delta-gap + LEB128, block-max).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark import config
from searchengine_spark.config import (
    CONTENT_WEIGHT,
    META_BOOST,
    TITLE_BOOST,
)
from searchengine_spark.operators import codec


def _assert_integral_boosts() -> None:
    """The compressed layout narrows tf/doc_len to int32 for the posting
    shuffle. tf is a sum of (field boost × occurrence count) and doc_len a
    boost-weighted token total, so both are integral iff every field boost
    is — validate HERE, before the cast, so a fractional boost config fails
    loudly instead of silently truncating (the reference allows arbitrary
    float boosts; this layout intentionally does not)."""
    for name, val in (
        ("TITLE_BOOST", TITLE_BOOST),
        ("META_BOOST", META_BOOST),
        ("CONTENT_WEIGHT", CONTENT_WEIGHT),
    ):
        if float(val) != int(val):
            raise ValueError(
                f"compressed sharded layout requires integral field boosts; "
                f"{name}={val} would silently truncate tf in the int32 cast "
                f"(use the logical index layout for fractional boosts)"
            )

BLOCK_SCHEMA = (
    "shard int, term string, block_no int, n int, min_docno long, max_docno long, "
    "max_partial double, max_tf int, min_dl int, "
    "gaps binary, tfs binary, dls binary, fls binary"
)
# positional layout: two extra varint streams per block — per-posting
# position counts + delta-gapped in-document token positions (codec.py)
BLOCK_POS_SCHEMA = BLOCK_SCHEMA + ", pcounts binary, pgaps binary"

DEFAULT_BLOCK_SIZE = 128
# docs per field-signature sidecar row (fieldsig_block_rows). One row per
# SHARD would be correct but defeats WAND's phase-1 sub-range splitting
# (plans/wand.py): the explode ships a shard-spanning sidecar row to EVERY
# cell and each cell varint-decodes the whole shard's signatures — measured
# round 5 as the dominant sub-split cost (posting blocks duplicated ×1.02,
# sig rows ×S). Chunked rows route to only the cells they overlap; 4096
# matches wand.SUB_SPLIT_MIN_DOCS so the smallest legal cell sees ~1-2
# chunks. Readers are unaffected — the sidecar contract has always been
# "a shard may carry several signature rows; concatenate by docno".
SIG_CHUNK_DOCS = 4096
TERM_BUCKETS = 8

# Auto-sharding policy: the DEFAULT is a constant docs-per-shard TARGET with
# n_shards derived (n_shards=None), NOT a constant shard count — a fixed
# n_shards=16 at 10^12 docs would make 6×10^10-doc shards, an un-runnable
# task. 4M docs/shard ≈ 7×10^8 postings/shard at ~180 postings/doc, and the
# encode/query kernels group by (shard, term-bucket) = 1/TERM_BUCKETS of
# that — comfortably inside one task's memory — while staying far below the
# positional kernels' 2^31 docs/shard key-packing ceiling (plans/phrase.py).
# Explicit n_shards remains available for benchmarks and tests.
DEFAULT_DOCS_PER_SHARD = 4_000_000


def derive_n_shards(n_docs: int) -> int:
    return max(1, math.ceil(n_docs / DEFAULT_DOCS_PER_SHARD))

# Explicit broadcast hints are gated on estimated BYTES, not bare row count:
# the (doc_id, docno) mapping is ~50 B/row, so this cap keeps a forced
# broadcast under ~200 MB on every executor; past it the keyed join is left
# to AQE, which shrinks it back to a broadcast at runtime when the actual
# build-side bytes allow.
BROADCAST_DOCNOS_MAX_ROWS = 4_000_000  # ~50 B/row ⇒ ≤ ~200 MB

_BLOCK_COLS = [
    "shard", "term", "block_no", "n", "min_docno", "max_docno",
    "max_partial", "max_tf", "min_dl", "gaps", "tfs", "dls", "fls",
]
_BLOCK_POS_COLS = _BLOCK_COLS + ["pcounts", "pgaps"]
_DOC_COLS = [
    "shard", "docno", "doc_id", "url", "title", "description",
    "content_snippet", "doc_len",
]
# meta.json = the scalar fields of ShardedIndex; every writer emits all of
# them (_write_meta) and read_sharded_index requires all of them
_META_KEYS = (
    "n_docs", "avgdl", "sum_doc_len", "n_shards", "shard_size", "block_size",
    "with_positions",
)

# Per-posting boost-bound flag bits (the ``fls`` varint stream): whether the
# posting's term is a SUBSTRING of the doc's lowercased title / description /
# content_snippet — the exact predicates the boost chain evaluates per query
# token (plans/bm25.py:boost_chain_expr, reference indexer.py:405-441). One
# byte per posting buys the WAND phase-1 kernel a per-doc boost upper/lower
# bound far tighter than the global MAX_BOOST=13.5, collapsing candidate
# emission from O(match set) to O(k) per shard (plans/wand.py).
FLAG_TITLE = 1
FLAG_DESC = 2
FLAG_SNIPPET = 4


def _boost_flags_col(lt, ld, lc, term) -> "F.Column":
    """Catalyst expression for the per-posting flag byte. Uses the same
    ``Contains`` expression as boost_chain_expr so bit semantics match the
    query-time boost exactly (null field ≡ empty ≡ no match)."""
    return (
        F.when(lt.contains(term), F.lit(FLAG_TITLE)).otherwise(F.lit(0))
        + F.when(ld.contains(term), F.lit(FLAG_DESC)).otherwise(F.lit(0))
        + F.when(lc.contains(term), F.lit(FLAG_SNIPPET)).otherwise(F.lit(0))
    ).cast("int")


def _lowered_fields() -> list:
    return [
        F.lower(F.coalesce(F.col("title"), F.lit(""))).alias("_lt"),
        F.lower(F.coalesce(F.col("description"), F.lit(""))).alias("_ld"),
        F.lower(F.coalesce(F.col("content_snippet"), F.lit(""))).alias("_lc"),
    ]


def encode_blocks_pdf(
    pdf: pd.DataFrame,
    avgdl: float,
    block_size: int,
    with_positions: bool = False,
    run_col: str | None = None,
) -> pd.DataFrame:
    """(shard, term, docno, tf, doc_len, flags[, positions]) rows → encoded
    block rows.

    Fully vectorized across the WHOLE frame (no per-term or per-block numpy
    calls — at 1M docs a term-bucket group holds ~10⁴ terms / ~10⁴ blocks,
    and per-block ``encode_postings`` calls were the build's hot spot): block
    boundaries come from run-length structure over the (shard, term)-sorted
    frame, each varint stream is encoded ONCE for the whole frame, and
    per-block buffers are byte-range slices (LEB128 is per-value independent,
    so slices are byte-identical to per-block encodes). With positions, the
    flat position stream is likewise encoded once and sliced at block
    boundaries mapped through the per-posting position counts."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_BLOCK_POS_COLS if with_positions else _BLOCK_COLS)
    pdf = pdf.sort_values(["shard", "term", "docno"], kind="stable")
    shards_a = pdf["shard"].to_numpy(dtype=np.int32)
    terms = pdf["term"].to_numpy()
    docnos = pdf["docno"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.float64)
    dls = pdf["doc_len"].to_numpy(dtype=np.float64)
    n = len(pdf)

    tfs_u = tfs.astype(np.uint64)
    dls_u = dls.astype(np.uint64)
    if not (np.all(tfs_u == tfs) and np.all(dls_u == dls)):
        raise ValueError("non-integral tf/doc_len cannot be varint-quantized")

    # run/block structure over the sorted frame
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (terms[1:] != terms[:-1]) | (shards_a[1:] != shards_a[:-1])
    if run_col is not None:
        # caller-imposed extra block boundaries (selective compaction: a
        # rewritten block must never span the docno range of a pass-through
        # block of the same term — same-term blocks stay non-overlapping)
        runs_a = pdf[run_col].to_numpy(dtype=np.int64)
        new_run[1:] |= runs_a[1:] != runs_a[:-1]
    run_id = np.cumsum(new_run) - 1
    run_starts = np.flatnonzero(new_run)
    pos_in_run = np.arange(n, dtype=np.int64) - run_starts[run_id]
    block_no = pos_in_run // block_size
    new_block = new_run | (pos_in_run % block_size == 0)
    bstarts = np.flatnonzero(new_block)
    bends = np.append(bstarts[1:], n)

    # within-block delta gaps (first element of each block keeps its docno)
    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = docnos[1:] - docnos[:-1]
    gaps[bstarts] = docnos[bstarts]

    partial = config.bm25_partial(tfs, dls, avgdl)
    max_partial = np.maximum.reduceat(partial, bstarts)
    # avgdl-FREE block-bound metadata: partial(tf, dl) is increasing in tf
    # and decreasing in dl, so partial(max_tf, min_dl) computed with ANY
    # live avgdl upper-bounds every posting in the block under that avgdl.
    # This is what lets tombstone-masked queries and selective compaction
    # keep exact WAND pruning after avgdl changes WITHOUT re-encoding
    # untouched blocks (max_partial bakes the build-time avgdl in).
    max_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    min_dl = np.minimum.reduceat(dls, bstarts).astype(np.int32)

    def _ranged_slices(vals: np.ndarray, lo_idx: np.ndarray, hi_idx: np.ndarray) -> list[bytes]:
        """Encode the whole value stream once; return the byte slices that
        cover value ranges [lo_idx, hi_idx) — byte-identical to encoding
        each range separately (LEB128 is per-value independent)."""
        buf = codec.varint_encode(vals)
        ends_b = np.concatenate(([0], np.cumsum(codec.varint_byte_counts(vals))))
        lo = ends_b[lo_idx].tolist()
        hi = ends_b[hi_idx].tolist()
        return [buf[a:z] for a, z in zip(lo, hi)]

    def _block_slices(vals: np.ndarray) -> list[bytes]:
        return _ranged_slices(vals, bstarts, bends)

    cols = {
        "shard": shards_a[bstarts],
        "term": terms[bstarts],
        "block_no": block_no[bstarts].astype(np.int32),
        "n": (bends - bstarts).astype(np.int32),
        "min_docno": docnos[bstarts],
        "max_docno": docnos[bends - 1],
        "max_partial": max_partial,
        "max_tf": max_tf,
        "min_dl": min_dl,
        "gaps": _block_slices(gaps.astype(np.uint64)),
        "tfs": _block_slices(tfs_u),
        "dls": _block_slices(dls_u),
        # boost-bound flag stream (one byte/posting, FLAG_* bits)
        "fls": _block_slices(pdf["flags"].to_numpy(dtype=np.int64).astype(np.uint64)),
    }
    if with_positions:
        if "posv" in pdf.columns:
            # fast path (the build pipeline): positions arrive pre-encoded
            # per posting (npos + delta-gap varint blob, index_build.
            # _pos_terms_col). Per-posting streams reset at their first
            # position — exactly the block pgaps layout — so a block's
            # stream is the plain concatenation of its postings' blobs
            # (byte-identical to encoding the block in one pass); the
            # kernel never touches an individual position.
            counts = pdf["npos"].to_numpy(dtype=np.int64)
            posv = pdf["posv"].to_numpy()
            cols["pcounts"] = _block_slices(counts.astype(np.uint64))
            cols["pgaps"] = [
                b"".join(posv[a:z]) for a, z in zip(bstarts, bends)
            ]
        else:
            # list path (segment merge re-encode): positions as int lists
            plists = [
                np.asarray(x, dtype=np.int64) for x in pdf["positions"].to_numpy()
            ]
            counts = np.fromiter((p.size for p in plists), dtype=np.int64, count=n)
            flat = np.concatenate(plists) if plists else np.empty(0, dtype=np.int64)
            fstarts = np.concatenate(([0], np.cumsum(counts)))
            # delta-gap the flat stream, reset at each posting's first position
            pgaps = np.empty(flat.size, dtype=np.int64)
            if flat.size:
                pgaps[1:] = flat[1:] - flat[:-1]
                firsts = fstarts[:-1][counts > 0]
                pgaps[firsts] = flat[firsts]
            cols["pcounts"] = _block_slices(counts.astype(np.uint64))
            cols["pgaps"] = _ranged_slices(
                pgaps.astype(np.uint64), fstarts[bstarts], fstarts[bends]
            )
    return pd.DataFrame(cols, columns=_BLOCK_POS_COLS if with_positions else _BLOCK_COLS)


def assign_docnos(spark: SparkSession, doc_ids: DataFrame, n_parts: int = 32) -> DataFrame:
    """(doc_id) → (doc_id, docno) with docno dense in global doc_id order.

    Two passes over one persisted ranged+sorted layout: pass 1 counts rows
    per partition (driver collects ≤n_parts rows → cumulative offsets),
    pass 2 enumerates within each partition starting at its offset.
    """
    ranged = (
        doc_ids.select("doc_id")
        .repartitionByRange(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in ranged.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def enumerate_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["pid"].iloc[0])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "docno": np.arange(pos, pos + len(pdf), dtype=np.int64),
                }
            )
            pos += len(pdf)

    out = ranged.mapInPandas(enumerate_partition, "doc_id string, docno long")
    # The persisted ranged frame must outlive every action that reads the
    # returned docnos (both index writes join them); carry it along so the
    # builder can release the executor cache once its writes complete.
    out._docno_source = ranged  # type: ignore[attr-defined]
    return out


def release_docnos(df) -> None:
    """Unpersist the ranged frame :func:`assign_docnos` cached, if any.

    Call after the LAST action that consumes the docnos (or a plan derived
    from them) — without this, every sharded build pins a full doc_id set
    in MEMORY_AND_DISK for the application lifetime."""
    ranged = getattr(df, "_docno_source", None)
    if ranged is not None:
        ranged.unpersist()


@dataclass
class ShardedIndex:
    """Physical index: compressed posting blocks + co-sharded doc metadata."""

    blocks: DataFrame  # BLOCK_SCHEMA (+ pcounts/pgaps when positional)
    docs: DataFrame  # shard, docno, doc_id, url, title, description, content_snippet
    term_stats: DataFrame  # term, df, idf (global)
    n_docs: int
    avgdl: float
    n_shards: int
    shard_size: int
    block_size: int
    with_positions: bool = False
    # filesystem root of a WRITTEN index (None for in-memory plans) — lets
    # query engines probe docs_sharded/blocks directly with row-group
    # pruning instead of joining the whole table into the plan
    path: str | None = None
    # exact Σ doc_len over the corpus (None for an empty corpus): lets a
    # tombstone mask derive the surviving avgdl exactly —
    # (sum_doc_len − Σ killed doc_len) / surviving count — instead of
    # reconstructing the sum from the rounded stored avgdl
    sum_doc_len: int | None = None


def fieldsig_block_rows(sig_src: DataFrame, with_positions: bool = False) -> DataFrame:
    """Per-shard field-signature pseudo-blocks (functions/fieldsig.py).

    Input: (shard, docno, fieldsig), one row per doc, with the signature
    words every stage-1 tokenizer emits (index_build.tokenize_documents,
    tokenize_extracted_documents, text_only's adapters), so no UDF pass
    runs here. Output: block rows (one per SIG_CHUNK_DOCS
    docs, ``block_no`` = chunk index) per shard with ``term = SIG_TERM``
    holding the docs' 14-uint32 Bloom signatures — ``gaps`` is the standard
    delta-gapped docno stream (first gap absolute, per row), ``tfs`` the
    doc-major interleave of the 14 words (32-bit values: exact through the
    merge path's float64-mediated varint re-encode), ``dls``/``fls`` empty.
    Chunking (not one shard-spanning row) keeps the sidecar compatible with
    WAND's phase-1 sub-range cells — see the SIG_CHUNK_DOCS note. The
    signature words are computed MAP-SIDE in stage 1, so the per-shard
    exchange carries ~64 B/doc, not the ~350 B/doc of field text. Merged
    segments keep their rows verbatim (operators/merge.py passes
    pseudo-terms through), so a shard may carry several signature rows
    beyond the chunking; readers concatenate by docno.
    """
    from searchengine_spark.functions import fieldsig

    src = sig_src.select("shard", "docno", F.col("fieldsig").alias("sw"))
    out_cols = _BLOCK_POS_COLS if with_positions else _BLOCK_COLS
    schema = BLOCK_POS_SCHEMA if with_positions else BLOCK_SCHEMA

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=out_cols)
        pdf = pdf.sort_values("docno")
        docnos = pdf["docno"].to_numpy(dtype=np.uint64)
        words = np.stack(pdf["sw"].to_numpy()).astype(np.uint64)
        shard_val = int(pdf["shard"].iloc[0])
        rows = []
        for bno, a in enumerate(range(0, len(docnos), SIG_CHUNK_DOCS)):
            d = docnos[a : a + SIG_CHUNK_DOCS]
            w = words[a : a + SIG_CHUNK_DOCS]
            gaps = np.empty_like(d)
            gaps[0] = d[0]
            np.subtract(d[1:], d[:-1], out=gaps[1:])
            row = {
                "shard": shard_val,
                "term": fieldsig.SIG_TERM,
                "block_no": bno,
                "n": len(d),
                "min_docno": int(d[0]),
                "max_docno": int(d[-1]),
                "max_partial": 0.0,
                "max_tf": 0,
                "min_dl": 0,
                "gaps": codec.varint_encode(gaps),
                "tfs": codec.varint_encode(w.ravel()),
                "dls": b"",
                "fls": b"",
            }
            if with_positions:
                row["pcounts"] = b""
                row["pgaps"] = b""
            rows.append(row)
        return pd.DataFrame(rows, columns=out_cols)

    return src.groupBy("shard").applyInPandas(build, schema)


def build_and_write_sharded(
    spark: SparkSession,
    pages: DataFrame,
    path: str,
    n_shards: int | None = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    use_precomputed_text: bool = True,
    resumable: bool = False,
    n_chunks: int = 16,
    with_positions: bool = False,
) -> ShardedIndex:
    """One-pass production indexing pipeline: web_pages → compressed sharded
    index, WITHOUT materializing the raw postings table.

    The raw (term, doc_id, tf, doc_len) posting rows are ~10x the bytes of
    the encoded blocks (a 32-char hex doc_id on every posting); at 100 TB
    writing them out just to re-read, re-shuffle and encode would dominate
    the build. Here posting rows exist only inside ONE
    shuffle (the groupBy(shard, term-bucket) exchange feeding the encode
    kernel):

    1. stage 1 tokenize (map-only) → persisted ``tokenized``
    2. docno assignment over the (small) doc_id set; joined to ``tokenized``
       BEFORE the explode — the join moves 1 row/doc, never 1 row/posting
       (broadcast while byte-safe, doc-keyed shuffle join beyond)
    3. explode → groupBy(shard, term-bucket) → Arrow encode kernel →
       block rows written directly, term-sorted within partitions
    4. docs re-derived from ``tokenized`` (cheap column scan); term_stats
       derived from the *written* blocks (Σ n per term == df, since tf rows
       are unique per (doc, term)) — never re-touching posting rows

    Stage 1 lands in ``{path}/tokenized``; stages 2-4 are
    :func:`shard_and_write_from_tokenized`, reached through the module
    global, and its writes are :func:`write_sharded_index`'s.
    """
    from searchengine_spark.operators.index_build import tokenize_documents

    if resumable:
        # chunked stage 1 with per-chunk lineage; a killed build resumes by
        # skipping complete chunks (operators/checkpoint.py)
        from searchengine_spark.operators import checkpoint

        tokenized = checkpoint.checkpointed_tokenize(
            spark, pages, path, n_chunks=n_chunks,
            use_precomputed_text=use_precomputed_text,
            with_positions=with_positions,
        )
    else:
        tokenize_documents(
            pages,
            use_precomputed_text=use_precomputed_text,
            with_positions=with_positions,
        ).write.mode("overwrite").parquet(f"{path}/tokenized")
        tokenized = spark.read.parquet(f"{path}/tokenized")

    return shard_and_write_from_tokenized(
        spark, tokenized, path,
        n_shards=n_shards, block_size=block_size, with_positions=with_positions,
    )


def shard_and_write_from_tokenized(
    spark: SparkSession,
    tokenized: DataFrame,
    path: str,
    n_shards: int | None = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    with_positions: bool = False,
) -> ShardedIndex:
    """Stages 2-4 of :func:`build_and_write_sharded`, starting from an
    already-tokenized frame (any of the stage-1 tokenizers: web pages,
    pre-extracted fields, or the text-only documents adapter) — the only
    path from tokens to posting blocks. Plans the lazy index (encoded
    blocks ∪ field-signature sidecar rows, plus docs), persists it with
    :func:`write_sharded_index` and returns the opened index.
    ``n_shards=None`` → the docs-per-shard policy (:func:`derive_n_shards`)."""
    st = tokenized.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").cast("long").alias("sum_doc_len"),
    ).collect()[0]
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    sum_doc_len = int(st["sum_doc_len"]) if st["sum_doc_len"] is not None else None
    if n_shards is None:
        n_shards = derive_n_shards(n_docs)
    shard_size = max(1, math.ceil(n_docs / n_shards))

    docnos = docnos_src = assign_docnos(spark, tokenized.select("doc_id"))
    if n_docs <= BROADCAST_DOCNOS_MAX_ROWS:
        docnos = F.broadcast(docnos)  # wraps a NEW frame: release via docnos_src
    tk = tokenized.join(docnos, "doc_id").withColumn(
        "shard", (F.col("docno") / shard_size).cast("int")
    )

    # int32 tf/doc_len through the build's single big shuffle (integral
    # under integral field boosts — validated before the cast, which would
    # otherwise truncate silently; the kernel re-widens to float64)
    _assert_integral_boosts()
    posting_cols = [
        F.col("shard"),
        F.col("tw.term").alias("term"),
        F.col("docno"),
        F.col("tw.tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
        # boost-bound flags: computed HERE, before the posting shuffle — the
        # lowered metadata never enters the exchange, only the flag byte does
        _boost_flags_col(
            F.col("_lt"), F.col("_ld"), F.col("_lc"), F.col("tw.term")
        ).alias("flags"),
    ]
    if with_positions:
        posting_cols.append(F.col("tw.npos").alias("npos"))
        posting_cols.append(F.col("tw.posv").alias("posv"))
    exploded = tk.select(
        "shard", "docno", "doc_len", *_lowered_fields(),
        F.explode("tf_terms").alias("tw"),
    ).select(*posting_cols)
    # Group granularity: (shard, term-bucket), NOT (shard, term). One Arrow
    # group per term would mean |vocab|·n_shards tiny groups — pure
    # per-group overhead. A bucket carries ~1/TERM_BUCKETS of a shard's
    # postings (bounded memory); the per-term split happens inside the
    # kernel. Head-term skew is already neutralized by doc-sharding, so
    # buckets are near-uniform.
    encoded = (
        exploded.withColumn("_tb", F.pmod(F.xxhash64("term"), F.lit(TERM_BUCKETS)))
        .groupBy("shard", "_tb")
        .applyInPandas(
            lambda pdf: encode_blocks_pdf(
                pdf.drop(columns=["_tb"]), avgdl, block_size, with_positions
            ),
            BLOCK_POS_SCHEMA if with_positions else BLOCK_SCHEMA,
        )
    )
    # field-signature sidecar (pseudo-term rows, one per SIG_CHUNK_DOCS
    # docs per shard; see fieldsig_block_rows — readers concatenate a
    # shard's chunks by docno) unions into the same write; the words come
    # precomputed from stage 1, so the per-shard exchange carries ~64 B/doc
    blocks = encoded.unionByName(
        fieldsig_block_rows(tk.select("shard", "docno", "fieldsig"), with_positions)
    )
    written = write_sharded_index(
        ShardedIndex(
            blocks=blocks,
            docs=tk.select(*_DOC_COLS),
            term_stats=_term_stats(blocks, n_docs),
            n_docs=n_docs,
            avgdl=avgdl,
            n_shards=n_shards,
            shard_size=shard_size,
            block_size=block_size,
            with_positions=with_positions,
            sum_doc_len=sum_doc_len,
        ),
        path,
    )
    release_docnos(docnos_src)  # blocks+docs are written; the cache is dead weight
    return written


def _term_stats(blocks: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, idf) from posting blocks: Σ n per term == df, since a
    (doc, term) posting is unique. "\\x00"-prefixed pseudo-terms
    (field-signature sidecar rows) are not postings — they must not surface
    as vocabulary terms."""
    return (
        blocks.filter(~F.col("term").startswith("\x00"))
        .groupBy("term")
        .agg(F.sum("n").cast("long").alias("df"))
        .select(
            "term",
            "df",
            F.greatest(
                F.lit(0.0),
                F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            ).alias("idf"),
        )
    )


def _write_meta(path: str, **meta) -> None:
    """Write ``meta.json``: exactly the _META_KEYS read_sharded_index needs."""
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        json.dump({k: meta[k] for k in _META_KEYS}, f)


def write_sharded_index(index: ShardedIndex, path: str) -> ShardedIndex:
    """The only writer of a sharded index (the build and compaction both
    end here); returns the opened index.

    Blocks are term-sorted within files, so the query-time term IN-list
    prunes parquet row groups; docs are repartitioned by shard and
    docno-sorted for the phase-2 row-group probe. ``index.term_stats`` is
    not written: term_stats derive from the WRITTEN blocks, so a lazy
    ``index.blocks`` plan (the build's encode, a compaction's rewrite) runs
    exactly once."""
    spark = index.blocks.sparkSession
    (
        index.blocks.sortWithinPartitions("term", "shard", "block_no")
        .write.mode("overwrite")
        .parquet(f"{path}/blocks")
    )
    (
        index.docs.repartition(index.n_shards, "shard")
        .sortWithinPartitions("shard", "docno")
        .write.mode("overwrite")
        .parquet(f"{path}/docs_sharded")
    )
    _term_stats(spark.read.parquet(f"{path}/blocks"), index.n_docs).write.mode(
        "overwrite"
    ).parquet(f"{path}/term_stats")
    _write_meta(path, **{k: getattr(index, k) for k in _META_KEYS})
    return read_sharded_index(spark, path)


def read_sharded_index(spark: SparkSession, path: str) -> ShardedIndex:
    """Open a written sharded index.

    The layout every writer emits is the only one accepted: a missing
    meta.json key, block column (the ``fls`` flag stream, the avgdl-free
    ``max_tf``/``min_dl`` bounds, ...) or docs_sharded column (``doc_len``,
    ...) raises a ValueError naming it, so no reader downstream needs a
    compatibility branch. The check reads only the schemas Spark resolves
    when it opens the tables — no extra job."""
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    blocks = spark.read.parquet(f"{path}/blocks")
    docs = spark.read.parquet(f"{path}/docs_sharded")
    block_cols = _BLOCK_POS_COLS if meta.get("with_positions") else _BLOCK_COLS
    missing = (
        [f"meta.json key {k!r}" for k in _META_KEYS if k not in meta]
        + [f"blocks column {c!r}" for c in block_cols if c not in blocks.columns]
        + [f"docs_sharded column {c!r}" for c in _DOC_COLS if c not in docs.columns]
    )
    if missing:
        raise ValueError(
            f"{path} is not a current sharded index: missing "
            f"{', '.join(missing)}; rebuild the index "
            "(shards.build_and_write_sharded)"
        )
    return ShardedIndex(
        blocks=blocks,
        docs=docs,
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        path=path,
        **meta,
    )


def decode_blocks_to_positional_postings(blocks_pdf: pd.DataFrame) -> pd.DataFrame:
    """Test/verification helper: positional block rows → flat
    (term, docno, tf, doc_len, positions) with per-posting position lists."""
    terms, docnos, tfs, dls, poss = [], [], [], [], []
    for row in blocks_pdf.itertuples(index=False):
        if row.term.startswith("\x00"):
            continue  # field-signature sidecar rows are not postings
        d, t, dl = codec.decode_postings(row.gaps, row.tfs, row.dls)
        counts, flat = codec.decode_positions(row.pcounts, row.pgaps)
        terms.extend([row.term] * len(d))
        docnos.append(d.astype(np.int64))
        tfs.append(t)
        dls.append(dl)
        poss.extend(
            [p.tolist() for p in np.split(flat.astype(np.int64), np.cumsum(counts)[:-1])]
        )
    if not terms:
        return pd.DataFrame(columns=["term", "docno", "tf", "doc_len", "positions"])
    return pd.DataFrame(
        {
            "term": terms,
            "docno": np.concatenate(docnos),
            "tf": np.concatenate(tfs),
            "doc_len": np.concatenate(dls),
            "positions": poss,
        }
    )


def decode_blocks_to_postings(blocks_pdf: pd.DataFrame) -> pd.DataFrame:
    """Test/verification helper: block rows → flat (term, docno, tf, doc_len).
    Used by the shard-invariance property test (n_shards=1 ≡ n_shards=16).
    "\\x00"-prefixed pseudo-terms (field-signature sidecar) are not postings
    and are skipped."""
    terms, docnos, tfs, dls = [], [], [], []
    for row in blocks_pdf.itertuples(index=False):
        if row.term.startswith("\x00"):
            continue
        d, t, dl = codec.decode_postings(row.gaps, row.tfs, row.dls)
        terms.extend([row.term] * len(d))
        docnos.append(d.astype(np.int64))
        tfs.append(t)
        dls.append(dl)
    if not terms:
        return pd.DataFrame(columns=["term", "docno", "tf", "doc_len"])
    return pd.DataFrame(
        {
            "term": terms,
            "docno": np.concatenate(docnos),
            "tf": np.concatenate(tfs),
            "doc_len": np.concatenate(dls),
        }
    )


def term_skew_report(index: ShardedIndex, top_n: int = 20) -> DataFrame:
    """Skew observability for the doc-range "salting": per head term, how
    its posting list is spread across shards.

    Columns: term, df (total postings), n_shards_present, max_shard_postings,
    skew = max_shard_postings / ceil(df / n_shards). A well-salted head term
    has skew ≈ 1 (its list splits near-uniformly across every shard — no
    single task ever materializes the whole Zipf-head posting list); a
    term-partitioned layout would show skew = n_shards. This is the
    metric-driven check SURVEY §7 calls for, computable from block metadata
    alone (Σ n per (shard, term)) — no posting decode, no extra state."""
    per_shard = index.blocks.filter(
        ~F.col("term").startswith("\x00")  # skip field-signature sidecar rows
    ).groupBy("term", "shard").agg(
        F.sum("n").cast("long").alias("postings")
    )
    agg = per_shard.groupBy("term").agg(
        F.sum("postings").alias("df"),
        F.count("*").cast("long").alias("n_shards_present"),
        F.max("postings").alias("max_shard_postings"),
    )
    return (
        agg.withColumn(
            "skew",
            F.round(
                F.col("max_shard_postings")
                / F.ceil(F.col("df") / F.lit(index.n_shards)).cast("double"),
                3,
            ),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top_n)
    )


def export_index(spark: SparkSession, index: ShardedIndex) -> "IndexTables":
    """Compressed sharded blocks → the logical ``IndexTables`` layout (the
    CLI's ``export``; the exhaustive engine and the DuckDB-checkable entry
    queries read that layout).

    Layout conversion never re-tokenizes. The blocks already carry every
    posting (term, docno, tf, doc_len) and ``docs_sharded`` carries doc
    metadata + doc_len, so export is one vectorized decode pass
    (``mapInPandas`` over block rows — numpy varint/delta-gap decode, no
    per-row Python) plus a docno→doc_id mapping join: broadcast below 20M
    docs, doc-keyed shuffle join beyond. At 100 TB this is pure I/O + numpy,
    ~10× cheaper than rebuilding from ``web_pages`` (the tokenize stage is
    the dominant build cost), which is how a production pipeline should
    derive secondary layouts: tokenize once, convert layouts thereafter.
    """
    from searchengine_spark.operators.index_build import IndexTables

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_blocks_to_postings(pdf)

    decoded = index.blocks.filter(
        ~F.col("term").startswith("\x00")  # field-signature rows are not postings
    ).select("term", "gaps", "tfs", "dls").mapInPandas(
        decode, "term string, docno long, tf double, doc_len double"
    )
    mapping = index.docs.select("docno", "doc_id")
    if index.n_docs <= BROADCAST_DOCNOS_MAX_ROWS:
        mapping = F.broadcast(mapping)
    postings = decoded.join(mapping, "docno").select("term", "doc_id", "tf", "doc_len")

    docs = index.docs.select("doc_id", "url", "title", "description", "content_snippet")
    doc_stats = index.docs.select("doc_id", "doc_len")
    stats = spark.createDataFrame(
        [(index.n_docs, float(index.avgdl))], "n_docs long, avgdl double"
    )
    return IndexTables(
        docs=docs,
        postings=postings,
        doc_stats=doc_stats,
        term_stats=index.term_stats.select("term", "df", "idf"),
        stats=stats,
    )


def export_and_write_index(
    spark: SparkSession,
    index: ShardedIndex,
    path: str,
    postings_partitions: int = 32,
) -> "IndexTables":
    """Export + persist in the standard logical layout (hash-bucket posting
    directories; see ``index_build.write_index``) and return the re-read
    tables — the exact shape ``BM25SearchEngine`` and the DuckDB-checkable
    entry queries consume."""
    from searchengine_spark.operators import index_build

    tables = export_index(spark, index)
    index_build.write_index(tables, path, postings_partitions)
    return index_build.read_index(spark, path)
