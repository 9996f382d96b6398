"""Adversarial soundness cases for WAND's flag-derived boost bounds.

The phase-1 kernel (plans/wand.py) prunes candidate emission with per-doc
boost bounds computed from per-posting flag bits (term ⊆ title/desc/snippet,
operators/shards.py). Two properties those bounds must NOT violate:

* **stem-not-substring phrase**: the boost chain's phrase factors compare
  the FULL query string against the fields (bm25.boost_chain_expr), and a
  Porter stem need not be a substring of the query it came from
  ("happily" → "happili"). A doc whose title contains the raw phrase but
  not the stemmed token has title-bit 0 — using that bit to rule the
  phrase boost out would wrongly drop the doc. The kernel may only rule a
  field's phrase out via terms that ARE substrings of the query.
* **exclusive-chain bound**: when the title phrase is ruled out but the
  description may hold the phrase, the bound must walk to 1.5, not 1.0.

Both are pinned by rank-identity against the exhaustive Catalyst engine on
hand-crafted corpora where the bounds actually gate emission (all docs in
one shard, more matches than k).
"""

import pandas as pd
import pytest

from searchengine_spark.functions import textproc
from searchengine_spark.operators import index_build, shards
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.plans.wand import WandSearchEngine


def _page(url: str, title: str, desc: str, body: str) -> dict:
    html = (
        f"<html><head><title>{title}</title>"
        f'<meta name="description" content="{desc}">'
        f"</head><body><p>{body}</p></body></html>"
    )
    return {
        "url": url,
        "warc_ts": "20260101000000",
        "html": html.encode("utf-8"),
        "text": body,
        "lang": "en",
    }


def _build_both(spark, pages_df, path: str, block_size: int):
    """(logical tables, one-shard sharded index) over one stage-1 frame."""
    tokenized = index_build.tokenize_documents(pages_df).cache()
    tables = index_build.build_index_tables(tokenized)
    sharded = shards.shard_and_write_from_tokenized(
        spark, tokenized, path, n_shards=1, block_size=block_size
    )
    return tables, sharded


def _rank_identity(
    spark, path, pages: list[dict], queries: list[tuple[int, str]], k: int
):
    pdf = pd.DataFrame(pages, columns=["url", "warc_ts", "html", "text", "lang"])
    tables, sharded = _build_both(spark, spark.createDataFrame(pdf), str(path), 8)
    want = BM25SearchEngine(spark, tables).search_batch(queries, top_k=k)
    got = WandSearchEngine(spark, sharded).search_batch(queries, top_k=k)
    cols = ["query_id", "rank", "doc_id", "score"]
    w = [tuple(r) for r in want.select(*cols).orderBy("query_id", "rank").collect()]
    g = [tuple(r) for r in got.select(*cols).orderBy("query_id", "rank").collect()]
    assert [x[:3] for x in w] == [x[:3] for x in g]
    for (_, _, _, s1), (_, _, _, s2) in zip(w, g):
        assert abs(s1 - s2) <= 1e-9 * max(abs(s1), abs(s2), 1.0)
    return w


def test_stem_not_substring_phrase_kept(spark, tmp_path):
    # "happily" stems to something that is not a substring of the query
    assert textproc.tokenize("happily") != ["happily"]
    # filler keeps idf positive (no query term) while the 4 matchers give
    # the single shard more matches than k, so emission bounds gate them
    filler = [
        _page(
            f"https://site{i}.example/f",
            "archive page",
            "archive",
            "walking around town " + "filler words " * (i + 1),
        )
        for i in range(12)
    ]
    pages = filler + [
        # raw phrase in the TITLE, stemmed token absent from it: the doc's
        # title-bit is 0, yet the 1.8 title-phrase boost genuinely applies
        _page(
            "https://a.example/story",
            "Happily Ever After",
            "",
            "a tale told happily",
        ),
        # stronger raw BM25 (more occurrences), no title phrase: if the
        # kernel wrongly ruled the title phrase out for the doc above, this
        # one would win instead
        _page(
            "https://b.example/blog",
            "daily notes",
            "",
            "happily happily happily writing code",
        ),
        _page("https://c.example/c", "more notes", "", "happily strolling home"),
        _page("https://e.example/e", "other notes", "", "she hummed happily twice happily"),
    ]
    res = _rank_identity(spark, tmp_path, pages, [(0, "happily")], k=2)
    assert len(res) == 2  # the query genuinely returns results


def test_exclusive_chain_desc_phrase(spark, tmp_path):
    # stems here ARE query substrings, so the title CAN be ruled out per
    # doc; the bound must then still allow the description phrase (1.5)
    q = "quantum garden"
    toks = textproc.tokenize(q)
    assert all(t in q for t in toks)
    pages = [
        _page(
            f"https://site{i}.example/f",
            "misc page",
            "misc",
            f"ordinary notes {'pad ' * (i + 1)}",
        )
        for i in range(12)
    ] + [
        _page(
            "https://d.example/desc",
            "plain title",
            "the quantum garden explained",
            "quantum garden quantum",
        ),
        _page(
            "https://t.example/title",
            "quantum garden handbook",
            "",
            "quantum garden quantum garden",
        ),
        _page("https://u.example/u", "notes one", "", "quantum filler text"),
        _page("https://v.example/v", "notes two", "", "garden filler quantum text"),
        _page("https://w.example/w", "notes three", "", "a quantum garden appears"),
    ]
    res = _rank_identity(spark, tmp_path, pages, [(0, q)], k=3)
    assert len(res) == 3


def test_free_token_cross_boundary_substring_kept(spark, tmp_path):
    # "smartly" stems to a token with no postings for most docs, and the
    # boost chain tests SUBSTRING containment: "smart" ⊂ "smartest ideas"
    # crosses no token boundary but "art" ⊂ "smartest" does. The Bloom
    # sidecar may only prove absence — a doc whose title contains the free
    # token as a cross-boundary substring must keep its title-match boost.
    from searchengine_spark.functions import textproc

    q = "art nivu"
    toks = textproc.tokenize(q)
    assert "art" in toks
    filler = [
        _page(
            f"https://site{i}.example/f",
            "plain notes",
            "",
            f"ordinary filler {'pad ' * (i + 1)}",
        )
        for i in range(12)
    ]
    pages = filler + [
        # "art" appears ONLY inside "smartest" — cross-boundary substring;
        # "art" has no posting for this doc, so only the Bloom path sees it
        _page(
            "https://a.example/x",
            "smartest ideas",
            "",
            "nivu appears here once",
        ),
        _page("https://b.example/y", "other page", "", "nivu nivu text body"),
        _page("https://c.example/z", "more words", "", "nivu something else"),
    ]
    res = _rank_identity(spark, tmp_path, pages, [(0, q)], k=2)
    assert len(res) == 2


def test_emission_bounds_match_on_reference_queries(spark, tmp_path):
    # broader randomized-ish sweep: the generated corpus at tiny k with one
    # shard maximizes emission pressure (su.size >> k) across 21 queries
    from searchengine_spark.sources import webgen

    pdf = webgen.generate_pandas(200)
    tables, sharded = _build_both(spark, spark.createDataFrame(pdf), str(tmp_path), 16)
    queries = webgen.reference_queries()
    want = BM25SearchEngine(spark, tables).search_batch(queries, top_k=3)
    got = WandSearchEngine(spark, sharded).search_batch(queries, top_k=3)
    cols = ["query_id", "rank", "doc_id"]
    w = [tuple(r) for r in want.select(*cols).orderBy("query_id", "rank").collect()]
    g = [tuple(r) for r in got.select(*cols).orderBy("query_id", "rank").collect()]
    assert w == g
