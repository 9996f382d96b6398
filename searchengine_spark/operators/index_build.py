"""Distributed inverted-index build (the Spark re-expression of
``indexer.py:109-167`` + ``_process_document`` ``indexer.py:58-107``).

Two physical stages:

**Stage 1 — extract+tokenize** (``tokenize_documents``): one ``mapInPandas``
pass over ``web_pages`` does HTML→fields extraction (crawler.py:280-290) and
per-field tokenization+filtering (text_processing.py:40-81 +
indexer.py:73-90) in a single Arrow crossing, emitting per-doc token arrays
plus ``doc_len`` — which is computable *before* any shuffle because it is
exactly ``5·|title| + 3·|meta| + 1·|content|`` tokens (indexer.py:92-107,
144-146), so query-time scoring never needs a doc_stats join. The full
content string is dropped here (only the 200-char snippet survives), which
bounds row width no matter how large the page is. This stage is
embarrassingly parallel, and is the checkpoint/resume granularity.

**Stage 2 — aggregate** (``build_index_tables``): all-native Catalyst ops.
The per-doc weighted tf map (A1, indexer.py:92-107) aggregates only within
one document, so stage 1 computes it map-side; stage 2 is a pure explode
(no (doc,term) shuffle exists anywhere). The only shuffles in the build
are the final repartition-by-term for the sorted posting layout and the
per-term df aggregation; Zipf head-term skew in the posting *blocks*
(operators/shards.py) is handled by doc-range sharding.

``build_and_write_index`` materializes stage 1 to parquet before the five
table writes so extraction runs exactly once (and resume can pick up from
the materialized stage).

Scale notes (100 TB / 10^12 docs): stage 1 is a map-only scan (no shuffle);
stage 2 shuffles the postings once (the hash-bucket layout exchange) and
aggregates once by term for term_stats; postings land in POSTING_BUCKETS
hash directories so query-time term lookups prune whole directories —
the distributed analog of the reference's dict lookup (indexer.py:384-394).
For the production build prefer operators/shards.build_and_write_sharded,
which skips this raw postings table entirely (posting rows live only
inside its single shuffle) and emits the compressed block index. The
sharded index is only ever built from a stage-1 ``tokenized`` table
(shards.shard_and_write_from_tokenized); these logical tables feed the
exhaustive engine, segment merge and export, never the block encoder.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from searchengine_spark.config import (
    CONTENT_WEIGHT,
    DEFAULT_STOPWORDS,
    META_BOOST,
    TITLE_BOOST,
)
from searchengine_spark.functions import fieldsig, textproc
from searchengine_spark.functions.udfs import extract_fields

# Hash-bucket directory layout for the plain postings table. Directory
# (partition-value) pruning on the query's bucket set replaces the old
# term-sorted row-group pruning; measured on 177M postings/1M docs it
# builds 2.4x faster (the (term, doc_id) external sort spilled heavily)
# and writes half the bytes (doc-clustered arrival order dictionary-
# compresses doc_id runs, which a term sort scatters).
POSTING_BUCKETS = 64


def term_bucket_col(term: Column) -> Column:
    """JVM-side bucket id for a term; must stay in lock-step with
    :func:`term_bucket` (the driver-side mirror used for pruning)."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"),
        F.lit(POSTING_BUCKETS),
    )


def term_bucket(term: str) -> int:
    """Driver-side mirror of :func:`term_bucket_col`."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % POSTING_BUCKETS


TOKENIZED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("content_snippet", StringType()),
        StructField(
            "tf_terms",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType()),
                        StructField("tf", DoubleType()),
                    ]
                )
            ),
        ),
        StructField("n_tokens", LongType()),
        StructField("doc_len", DoubleType()),
        # per-doc field Bloom signature words (functions/fieldsig.py),
        # computed in this same Arrow pass so the sidecar build adds no
        # extra scan or UDF job downstream
        StructField("fieldsig", ArrayType(LongType())),
    ]
)


TOKENIZED_POS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("content_snippet", StringType()),
        StructField(
            "tf_terms",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType()),
                        StructField("tf", DoubleType()),
                        # positions travel PRE-ENCODED: npos + the term's
                        # delta-gap varint stream. LEB128 is per-value
                        # independent and block position streams reset at
                        # each posting, so per-posting blobs concatenate
                        # byte-identically into block pgaps — the encode
                        # kernel never touches individual positions, and
                        # the posting shuffle moves ~1-byte varints instead
                        # of 8-byte array elements.
                        StructField("npos", IntegerType()),
                        StructField("posv", BinaryType()),
                    ]
                )
            ),
        ),
        StructField("n_tokens", LongType()),
        StructField("doc_len", DoubleType()),
        StructField("fieldsig", ArrayType(LongType())),
    ]
)


def _pos_terms_col(
    tf: dict[str, float], pos: dict[str, list[int]]
) -> list[tuple[str, float, int, bytes]]:
    """(term, tf, npos, posv) entries for one doc: all terms' delta-gapped
    positions varint-encoded in ONE numpy pass, then byte-sliced per term."""
    from searchengine_spark.operators import codec

    terms = list(tf.keys())
    lens = np.empty(len(terms), dtype=np.int64)
    chunks = []
    for k, t in enumerate(terms):
        p = pos[t]
        lens[k] = len(p)
        chunks.append(p)
    total = int(lens.sum())
    flat = np.fromiter(
        (x for c in chunks for x in c), dtype=np.int64, count=total
    )
    gaps = np.empty_like(flat)
    if flat.size:
        gaps[1:] = flat[1:] - flat[:-1]
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        gaps[starts] = flat[starts]
    buf = codec.varint_encode(gaps.astype(np.uint64))
    ends = np.concatenate(([0], np.cumsum(codec.varint_byte_counts(gaps.astype(np.uint64)))))
    bounds = np.concatenate(([0], np.cumsum(lens)))
    return [
        (t, tf[t], int(lens[k]), buf[ends[bounds[k]] : ends[bounds[k + 1]]])
        for k, t in enumerate(terms)
    ]


def _tf_only(field_tokens: list[tuple[list[str], float]]) -> tuple[dict[str, float], int]:
    """Within-row A1 (indexer.py:92-107): per-doc field-weighted tf map.
    The non-positional hot path — at ~1.6k tokens/doc every extra dict op
    here is ~10⁸ Python ops per 100k docs, so position tracking lives in
    the separate :func:`_tf_and_positions` variant."""
    tf: dict[str, float] = {}
    n = 0
    for toks, w in field_tokens:
        for tok in toks:
            tf[tok] = tf.get(tok, 0.0) + w
        n += len(toks)
    return tf, n


def _tf_and_positions(
    field_tokens: list[tuple[list[str], float]],
) -> tuple[dict[str, float], dict[str, list[int]], int]:
    """Within-row A1 plus token positions. Positions index the concatenated
    filtered token stream (title tokens, then meta, then content) — the
    north-rule posting payload (docID, tf, positions); the reference itself
    stores no positions (indexer.py:150), so position semantics are ours to
    define and this ordering matches how doc_len/n_tokens already count."""
    tf: dict[str, float] = {}
    pos: dict[str, list[int]] = {}
    i = 0
    for toks, w in field_tokens:
        for tok in toks:
            tf[tok] = tf.get(tok, 0.0) + w
            pos.setdefault(tok, []).append(i)
            i += 1
    return tf, pos, i


@dataclass
class IndexTables:
    """Logical index: the Spark analogs of the reference's pickled dicts
    (SURVEY.md §1.1)."""

    docs: DataFrame  # doc_id, url, title, description, content_snippet
    postings: DataFrame  # term, doc_id, tf, doc_len
    doc_stats: DataFrame  # doc_id, doc_len
    term_stats: DataFrame  # term, df, idf
    stats: DataFrame  # n_docs, avgdl


def tokenize_documents(
    pages: DataFrame,
    use_precomputed_text: bool = True,
    stopwords: frozenset[str] = DEFAULT_STOPWORDS,
    with_positions: bool = False,
) -> DataFrame:
    """Stage 1: web_pages → per-doc fields + filtered token arrays + doc_len.

    One Arrow crossing; pure per row, so output is partitioning-invariant.
    ``with_positions=True`` widens ``tf_terms`` entries to
    (term, tf, positions) for the positional index layout.
    """
    stop = stopwords
    schema = TOKENIZED_POS_SCHEMA if with_positions else TOKENIZED_SCHEMA

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            htmls = pdf["html"].map(
                lambda b: b.decode("utf-8", errors="replace")
                if isinstance(b, (bytes, bytearray))
                else (b or "")
            )
            titles, metas, contents = [], [], []
            for i, html in enumerate(htmls):
                titles.append(textproc.extract_title_from_html(html))
                metas.append(textproc.extract_meta_description(html))
                if use_precomputed_text and "text" in pdf.columns:
                    t = pdf["text"].iloc[i]
                    if isinstance(t, str):
                        contents.append(t)
                    else:
                        # NULL text means "not extracted yet" (e.g.
                        # `ingest-warc --no-text`): fall back to the T2
                        # kernel per row — silently indexing "" would build
                        # a title/meta-only index with no error signal
                        contents.append(textproc.extract_text_from_html(html))
                else:
                    contents.append(textproc.extract_text_from_html(html))
            snippets = [textproc.make_snippet(c) for c in contents]
            sigs = fieldsig.sig_words_batch(titles, metas, snippets).astype("int64")
            rows = []
            for i, (url, title, meta, content) in enumerate(
                zip(pdf["url"], titles, metas, contents)
            ):
                tt = textproc.tokenize_filtered(title, stop)
                mt = textproc.tokenize_filtered(meta, stop)
                ct = textproc.tokenize_filtered(content, stop)
                # per-doc field-weighted tf map (indexer.py:92-107) — A1 is
                # a WITHIN-row aggregation, so it is computed map-side here
                # and the posting build needs no (doc, term) shuffle at all
                fields = [(tt, TITLE_BOOST), (mt, META_BOOST), (ct, CONTENT_WEIGHT)]
                if with_positions:
                    tf, pos, _ = _tf_and_positions(fields)
                    terms_col = _pos_terms_col(tf, pos)
                else:
                    tf, _ = _tf_only(fields)
                    terms_col = list(tf.items())
                rows.append(
                    (
                        textproc.doc_id_for_url(url),
                        url,
                        title,
                        meta,
                        snippets[i],
                        terms_col,
                        len(tt) + len(mt) + len(ct),
                        TITLE_BOOST * len(tt)
                        + META_BOOST * len(mt)
                        + CONTENT_WEIGHT * len(ct),
                        sigs[i].tolist(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return pages.mapInPandas(process, schema)


def term_frequencies(tokenized: DataFrame) -> DataFrame:
    """Field-weighted tf (indexer.py:92-107). The tf map is computed
    within-row in stage 1 (A1 aggregates over ONE document's tokens, never
    across rows), so this is a pure map-side explode — NO shuffle. The only
    shuffle in the whole posting build is the final repartition into the
    hash-bucket directory layout."""
    return tokenized.select(
        "doc_id",
        "doc_len",
        F.explode("tf_terms").alias("tw"),
    ).select(
        "doc_id",
        "doc_len",
        F.col("tw.term").alias("term"),
        F.col("tw.tf").alias("tf"),
    )


def build_index_tables(tokenized: DataFrame) -> IndexTables:
    """Stage 2: all-native aggregations over the tokenized intermediate."""
    tf = term_frequencies(tokenized)

    doc_stats = tokenized.select("doc_id", "doc_len")
    stats = doc_stats.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        # exact Σdoc_len: lets downstream sharded builds persist the
        # corpus sum, which tombstone masking needs for bit-exact
        # surviving-avgdl derivation (operators/tombstones.py)
        F.sum("doc_len").cast("long").alias("sum_doc_len"),
    )

    # IDF (indexer.py:386-388): max(0, ln((N - n + 0.5) / (n + 0.5)))
    term_stats = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
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

    postings = tf.select("term", "doc_id", "tf", "doc_len")
    docs = tokenized.select("doc_id", "url", "title", "description", "content_snippet")

    return IndexTables(
        docs=docs, postings=postings, doc_stats=doc_stats, term_stats=term_stats, stats=stats
    )


# Back-compat aliases used by earlier tests -------------------------------
def extract_documents(pages: DataFrame, use_precomputed_text: bool = True) -> DataFrame:
    """web_pages → (doc_id, url, title, meta_description, content) via the
    struct-returning Arrow UDF. Used by the byte-identity test; the build
    pipeline itself uses :func:`tokenize_documents` (single crossing)."""
    out = pages.withColumn("doc_id", F.md5(F.col("url"))).withColumn(
        "_f", extract_fields(F.col("html"))
    )
    content = F.col("text") if use_precomputed_text else F.col("_f.content")
    return out.select(
        "doc_id",
        "url",
        F.col("_f.title").alias("title"),
        F.col("_f.meta_description").alias("meta_description"),
        content.alias("content"),
    )


def tokenize_extracted_documents(
    documents: DataFrame, stopwords: frozenset[str] = DEFAULT_STOPWORDS
) -> DataFrame:
    """:func:`extract_documents` output → the stage-1 tokenized shape.

    Same field-boosted tf semantics as :func:`tokenize_documents`, minus the
    HTML extraction (already done). Lets callers split extraction from
    tokenization — e.g. to persist the extracted fields as their own table."""
    stop = stopwords

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            snippets = [textproc.make_snippet(c or "") for c in pdf["content"]]
            sigs = fieldsig.sig_words_batch(
                pdf["title"].tolist(), pdf["meta_description"].tolist(), snippets
            ).astype("int64")
            rows = []
            for i, (doc_id, url, title, meta, content) in enumerate(
                zip(
                    pdf["doc_id"],
                    pdf["url"],
                    pdf["title"],
                    pdf["meta_description"],
                    pdf["content"],
                )
            ):
                tt = textproc.tokenize_filtered(title or "", stop)
                mt = textproc.tokenize_filtered(meta or "", stop)
                ct = textproc.tokenize_filtered(content or "", stop)
                tf, n_toks = _tf_only(
                    [(tt, TITLE_BOOST), (mt, META_BOOST), (ct, CONTENT_WEIGHT)]
                )
                rows.append(
                    (
                        doc_id,
                        url,
                        title or "",
                        meta or "",
                        snippets[i],
                        list(tf.items()),
                        n_toks,
                        TITLE_BOOST * len(tt)
                        + META_BOOST * len(mt)
                        + CONTENT_WEIGHT * len(ct),
                        sigs[i].tolist(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in TOKENIZED_SCHEMA.fields])

    return documents.mapInPandas(process, TOKENIZED_SCHEMA)


def build_index(documents_or_pages: DataFrame) -> IndexTables:
    """Build the logical index directly from a web_pages frame (detects the
    input shape). Prefer :func:`build_and_write_index` for persisted builds —
    it materializes stage 1 so extraction runs once across the five writes."""
    cols = set(documents_or_pages.columns)
    if {"html", "url"} <= cols:
        tokenized = tokenize_documents(documents_or_pages)
    elif {"tf_terms", "doc_len"} <= cols:
        tokenized = documents_or_pages
    elif {"doc_id", "title", "meta_description", "content"} <= cols:
        tokenized = tokenize_extracted_documents(documents_or_pages)
    else:
        raise ValueError(f"unrecognized input columns: {sorted(cols)}")
    return build_index_tables(tokenized)


def write_index(tables: IndexTables, path: str, postings_partitions: int = 32) -> None:
    """Persist the index. Postings land in ``POSTING_BUCKETS`` hash-bucket
    directories; query-time term lookups prune whole directories via the
    bucket-of-term filter (the distributed analog of the reference's
    hash-dict lookup — same hash-addressed skip behavior, no sort)."""
    tables.docs.write.mode("overwrite").parquet(f"{path}/docs")
    (
        tables.postings.withColumn("bucket", term_bucket_col(F.col("term")))
        .repartition(postings_partitions, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    tables.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
    tables.term_stats.repartition(max(1, postings_partitions // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(f"{path}/term_stats")
    tables.stats.write.mode("overwrite").parquet(f"{path}/stats")


def build_and_write_index(
    spark: SparkSession,
    pages: DataFrame,
    path: str,
    postings_partitions: int = 32,
    use_precomputed_text: bool = True,
) -> IndexTables:
    """Full persisted build: materialize stage 1 once, then derive tables.

    The ``tokenized`` intermediate is itself a table (kept at
    ``{path}/tokenized``) — it is the resume point for checkpointed builds
    (operators/checkpoint.py) and the input the CLI's ``optimize`` shards
    into posting blocks.

    Each expensive computation runs exactly once: the tf aggregation (the
    big shuffle) feeds the postings write, and term_stats/stats derive
    from the *written* postings/doc_stats parquet (cheap column scans)
    instead of re-running the aggregation — at 100 TB the tf agg is hours,
    so recomputing it per output table is not an option.
    """
    tokenize_documents(pages, use_precomputed_text=use_precomputed_text).write.mode(
        "overwrite"
    ).parquet(f"{path}/tokenized")
    tokenized = spark.read.parquet(f"{path}/tokenized")

    tokenized.select(
        "doc_id", "url", "title", "description", "content_snippet"
    ).write.mode("overwrite").parquet(f"{path}/docs")
    tokenized.select("doc_id", "doc_len").write.mode("overwrite").parquet(
        f"{path}/doc_stats"
    )
    doc_stats = spark.read.parquet(f"{path}/doc_stats")
    doc_stats.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").cast("long").alias("sum_doc_len"),
    ).write.mode("overwrite").parquet(f"{path}/stats")

    (
        term_frequencies(tokenized)
        .select("term", "doc_id", "tf", "doc_len")
        .withColumn("bucket", term_bucket_col(F.col("term")))
        .repartition(postings_partitions, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    postings = spark.read.parquet(f"{path}/postings")
    stats = spark.read.parquet(f"{path}/stats")
    (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            "df",
            F.greatest(
                F.lit(0.0),
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            ).alias("idf"),
        )
        .repartition(max(1, postings_partitions // 4), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{path}/term_stats")
    )
    return read_index(spark, path)


def read_index(spark: SparkSession, path: str) -> IndexTables:
    return IndexTables(
        docs=spark.read.parquet(f"{path}/docs"),
        postings=spark.read.parquet(f"{path}/postings"),
        doc_stats=spark.read.parquet(f"{path}/doc_stats"),
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        stats=spark.read.parquet(f"{path}/stats"),
    )
