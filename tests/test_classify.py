"""Classifier + crawl predicates (plans/classify.py): native column
expressions vs reference-semantics Python, over handcrafted URLs/pages and
the generated corpus (SURVEY.md §2.2 F4/F6-F9/F11, §2.4 A7)."""

import re
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from searchengine_spark.plans import classify
from searchengine_spark.sources import webgen

URLS = [
    "https://alice.substack.com/p/hello",
    "https://www.medium.com/@bob/post",
    "https://me.github.io/2023/04/02/notes",
    "https://blog.bigcorp.com/announcement",
    "https://myblog.blog/entry/one",
    "https://www.irs.gov/forms",
    "https://news.ycombinator.com/item",
    "https://en.wikipedia.org/wiki/Spark",
    "https://www.youtube.com/watch?v=x",
    "https://example.com/blog/2021/hello-world",
    "https://example.com/shop/item/42",
    "https://example.com/2024/11/05/diary",
    "https://example.com/2024/3/",
    "https://example.com/about",
    "https://open.spotify.com/episode/abc",
    "https://podcasts.apple.com/us/podcast/x",
]


def _is_article_py(url: str) -> bool:
    import re

    path = urlparse(url).path.lower()
    if any(p in path for p in classify.ARTICLE_PATH_PATTERNS):
        return True
    return any(re.search(p, path) for p in classify.DATE_PATH_PATTERNS)


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame([(u,) for u in URLS], "url string")


def test_article_url_predicate(urls_df):
    got = {
        r["url"]: r["hit"]
        for r in urls_df.select(
            "url", classify.is_article_url_col(F.col("url")).alias("hit")
        ).collect()
    }
    for u in URLS:
        assert got[u] == _is_article_py(u), u


def test_domain_class_native_matches_python(urls_df):
    got = {
        r["url"]: r["cls"]
        for r in urls_df.select(
            "url", classify.domain_class_col(F.col("url")).alias("cls")
        ).collect()
    }
    for u in URLS:
        assert got[u] == classify._domain_class_py(u), u
    # spot-check the reference's precedence: blog. prefix → personal
    assert got["https://blog.bigcorp.com/announcement"] is True
    assert got["https://www.irs.gov/forms"] is False
    assert got["https://example.com/about"] is None


def test_excluded_domains(urls_df):
    got = {
        r["url"]: r["x"]
        for r in urls_df.select(
            "url", classify.excluded_domain_col(F.col("url")).alias("x")
        ).collect()
    }
    assert got["https://open.spotify.com/episode/abc"] is True
    assert got["https://podcasts.apple.com/us/podcast/x"] is True
    assert got["https://example.com/about"] is False


TEXTS = [
    "My thoughts on distributed systems, written by a human author.",
    "Product catalog page with specifications and pricing.",
    "about me: i think opinion pieces are personal. my blog, my journey.",
    "",
]


def test_content_confidence_native_matches_python(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = [
        r["c"]
        for r in df.select(
            classify.content_confidence_col(F.col("text")).alias("c")
        ).collect()
    ]
    want = [classify.content_confidence_py(t) for t in TEXTS]
    assert got == pytest.approx(want)
    assert want[2] == 0.9  # saturates at the cap


def test_hierarchical_classify_over_corpus(spark):
    pages = spark.createDataFrame(webgen.generate_pandas(120))
    out = classify.classify_pages(pages).collect()
    assert len(out) == 120
    assert {r["method"] for r in out} <= {"domain_pattern", "header_footer", "content"}
    for r in out:
        if r["method"] == "domain_pattern":
            assert r["confidence"] == 0.9
        else:
            assert 0.5 <= r["confidence"] <= 0.9
        assert r["is_personal_blog"] is not None


def test_classify_handcrafted_pages(spark):
    pages = spark.createDataFrame(
        [
            ("https://alice.substack.com/p/1", b"<html><p>x</p></html>"),
            ("https://www.irs.gov/forms", b"<html><p>tax</p></html>"),
            (
                "https://example.com/blog/x",
                b"<html><header>about me my blog written by author "
                b"personal opinion</header><p>body</p></html>",
            ),
            ("https://example.com/shop", b"<html><p>plain product page</p></html>"),
        ],
        "url string, html binary",
    )
    got = {r["url"]: r for r in classify.classify_pages(pages).collect()}
    assert got["https://alice.substack.com/p/1"]["method"] == "domain_pattern"
    assert got["https://alice.substack.com/p/1"]["is_personal_blog"] is True
    assert got["https://www.irs.gov/forms"]["is_personal_blog"] is False
    hf = got["https://example.com/blog/x"]
    assert hf["method"] == "header_footer" and hf["confidence"] == 0.9
    shop = got["https://example.com/shop"]
    assert shop["method"] == "content"
    assert shop["is_personal_blog"] is True and shop["confidence"] == 0.65


def test_extract_links_semantics():
    html = (
        '<a href="/blog/next">n</a> <a href=\'https://other.com/p?q=1#frag\'>o</a>'
        ' <a href="mailto:x@y.z">m</a> <a name="noref">skip</a>'
        ' <a href="#section">frag-only</a>'
    )
    got = classify.extract_links("https://example.com/blog/cur", html)
    assert got == [
        "https://example.com/blog/next",
        "https://other.com/p?q=1",  # fragment dropped, query kept
        "https://example.com/blog/cur",  # "#section" resolves to self, no frag
    ]


def test_outlinks_and_frontier(spark):
    pages = spark.createDataFrame(webgen.generate_pandas(40))
    out = classify.outlinks(pages)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["out_url"].startswith("http") and "#" not in r["out_url"] for r in rows)
    visited = pages.select("url")
    frontier = classify.crawl_frontier(pages, visited).collect()
    visited_set = {r["url"] for r in visited.collect()}
    assert all(r["url"] not in visited_set for r in frontier)


def test_domain_stats(spark):
    pdf = webgen.generate_pandas(150)
    pages = spark.createDataFrame(pdf)
    got = {r["domain"]: r["n_pages"] for r in classify.domain_stats(pages).collect()}
    import re

    want = (
        pdf["url"]
        .map(lambda u: re.search(r"https?://(?:www\.)?([^/]+)", u).group(1))
        .value_counts()
    )
    for d, n in got.items():
        assert want[d] == n


def test_classify_summary(spark):
    pages = spark.createDataFrame(webgen.generate_pandas(60))
    rows = classify.classify_summary(pages).collect()
    assert sum(r["n_pages"] for r in rows) == 60
    assert {r["is_personal_blog"] for r in rows} <= {True, False}


def test_search_batch_exclude_domains(spark, tmp_path):
    from searchengine_spark.operators import index_build
    from searchengine_spark.plans.bm25 import BM25SearchEngine

    pdf = webgen.generate_pandas(80)
    # plant an excluded-domain page that would otherwise rank
    pdf.loc[0, "url"] = "https://open.spotify.com/episode/abc"
    pages = spark.createDataFrame(pdf)
    tables = index_build.build_index(pages)
    eng = BM25SearchEngine(spark, tables)
    qs = webgen.reference_queries()[:4]
    with_all = eng.search_batch(qs, top_k=10).collect()
    filtered = eng.search_batch(qs, top_k=10, exclude_domains=True).collect()
    assert all("spotify.com" not in r["url"] for r in filtered)
    assert len(filtered) <= len(with_all)


# --- F3: content-type filter (crawler.py:268-274) ---------------------------

def test_content_type_filter_exact_reference_predicate(spark):
    rows = [
        ("https://a.com/1", "text/html"),
        ("https://a.com/2", "TEXT/HTML; charset=utf-8"),
        ("https://a.com/3", "application/xhtml+xml"),  # reference DROPS this
        ("https://a.com/4", "application/pdf"),
        ("https://a.com/5", "image/png"),
        ("https://a.com/6", None),
    ]
    df = spark.createDataFrame(rows, "url string, content_type string")
    kept = {r["url"] for r in classify.filter_html_pages(df).collect()}
    # reference: keep iff 'text/html' in content_type.lower()
    assert kept == {"https://a.com/1", "https://a.com/2"}


def test_content_type_filter_sniffs_when_header_absent(spark):
    rows = [
        ("https://a.com/html", b"<!DOCTYPE html><html><body>x</body></html>"),
        ("https://a.com/bom", "﻿  <HTML lang=en><p>y".encode()),
        ("https://a.com/frag", b"  <div class=x>loose fragment</div>"),
        ("https://a.com/json", b'{"not": "html"}'),
        ("https://a.com/pdf", b"%PDF-1.7 stream..."),
        ("https://a.com/text", b"plain prose, no markup at all"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    kept = {r["url"] for r in classify.filter_html_pages(df).collect()}
    assert kept == {"https://a.com/html", "https://a.com/bom", "https://a.com/frag"}


def test_content_type_filter_keeps_whole_generated_corpus(spark):
    pages = spark.createDataFrame(webgen.generate_pandas(40))
    assert classify.filter_html_pages(pages).count() == 40


# ---------------------------------------------------------------- anchor text


ANCHOR_CASES = [
    # (base_url, html, expected [(dst, text)])
    (
        "https://example.com/a/b",
        '<p><a href="/x/y">go <b>deep</b></a></p>',
        [("https://example.com/x/y", "go deep")],
    ),
    (
        "https://example.com/",
        "<a href='https://other.org/p?q=1#frag'>Caf&eacute; &amp; more</a>",
        [("https://other.org/p?q=1", "Café & more")],
    ),
    (
        "https://example.com/",
        '<a class="z" href="img.png" title="t"><img src="i"></a>',
        [("https://example.com/img.png", "")],  # empty anchor kept
    ),
    (
        "https://example.com/",
        '<a href="mailto:x@y.z">mail</a><a href="javascript:f()">js</a>',
        [],  # non-web schemes skipped
    ),
    (
        "https://example.com/",
        '<a href="/unclosed">never closed <p>text',
        [],  # unclosed anchor yields no match (signal extractor contract)
    ),
    (
        "https://example.com/",
        '<A HREF="/up">Shout</A\n>',
        [("https://example.com/up", "Shout")],  # case + slack before >
    ),
]


@pytest.mark.parametrize("case", range(len(ANCHOR_CASES)))
def test_extract_anchor_texts_cases(case):
    url, html, want = ANCHOR_CASES[case]
    assert classify.extract_anchor_texts(url, html) == want


def test_anchor_texts_resolution_matches_extract_links():
    # every anchor target must resolve exactly like F5 extract_links
    # (shared _resolve_href); the legal differences are links without a
    # well-formed close tag and nested or overlapping anchors (the
    # non-greedy outer match swallows an inner <a>, so that inner link has
    # no anchor-text row) — this input has neither
    html = (
        '<a href="/a">one</a> <a href="https://x.org/b?k=v#f">two</a> '
        '<a href="rel/c">three</a>'
    )
    url = "https://example.com/base/page"
    from_links = classify.extract_links(url, html)
    from_anchors = [d for d, _ in classify.extract_anchor_texts(url, html)]
    assert from_anchors == from_links


def _anchor_reference(rows, stop):
    """Pure-Python twin of anchor_term_counts over collected pages."""
    from searchengine_spark.functions import textproc

    occ: dict[tuple[str, str], int] = {}
    anch: dict[tuple[str, str], set[int]] = {}
    aid = 0
    for r in rows:
        html = r["html"]
        if isinstance(html, (bytes, bytearray)):
            html = html.decode("utf-8", errors="replace")
        for dst, text in classify.extract_anchor_texts(r["url"], html or ""):
            for t in textproc.tokenize_filtered(text, stop):
                occ[(dst, t)] = occ.get((dst, t), 0) + 1
                anch.setdefault((dst, t), set()).add(aid)
            aid += 1
    return occ, {k: len(v) for k, v in anch.items()}


def test_anchor_term_counts_end_to_end(spark):
    from searchengine_spark.operators.index_build import DEFAULT_STOPWORDS

    pdf = webgen.generate_pandas(80)
    pages = spark.createDataFrame(pdf)
    got = {
        (r["dst_url"], r["term"]): (r["n_occurrences"], r["n_anchors"])
        for r in classify.anchor_term_counts(pages).collect()
    }
    assert got, "webgen corpus must yield anchor terms"
    occ, anch = _anchor_reference(pdf.to_dict("records"), DEFAULT_STOPWORDS)
    assert set(got) == set(occ)
    for k in occ:
        assert got[k] == (occ[k], anch[k]), (k, got[k], occ[k], anch[k])


def test_anchor_distinct_count_survives_multiple_arrow_batches(spark):
    # 12k single-anchor pages in ONE partition forces >1 Arrow batch per
    # task (maxRecordsPerBatch=10000); the per-anchor id must stay unique
    # across batches or n_anchors collapses to the batch count
    n = 12000
    rows = [
        (f"https://s.com/p{i}", f'<a href="https://hub.com/">alphaterm</a>')
        for i in range(n)
    ]
    pages = spark.createDataFrame(
        rows, "url string, html string"
    ).repartition(1)
    out = classify.anchor_term_counts(pages).collect()
    by_term = {(r["dst_url"], r["term"]): r for r in out}
    row = by_term[("https://hub.com/", "alphaterm")]
    assert row["n_occurrences"] == n
    assert row["n_anchors"] == n


def test_cli_linkrank(spark, tmp_path):
    """CLI surface: `linkrank --anchors` writes pagerank + anchor-term
    parquet from a pages table, cross-checked against the operators."""
    from searchengine_spark import cli
    from searchengine_spark.plans import graph

    pages_dir = tmp_path / "pages"
    webgen.generate_spark(spark, 60, partitions=2).write.parquet(
        str(pages_dir)
    )
    out = tmp_path / "lr"
    assert cli.main([
        "linkrank", "--input", str(pages_dir), "--out", str(out),
        "--iterations", "3", "--anchors", "--partitions", "4",
    ]) == 0
    pr = spark.read.parquet(str(out / "pagerank"))
    assert pr.columns == ["url", "pr"]
    assert pr.count() == 60
    assert abs(pr.agg(F.sum("pr")).collect()[0][0] - 1.0) < 1e-9
    # matches the operator run directly (bucketed vs plain paths agree)
    pages = spark.read.parquet(str(pages_dir))
    want = {
        r["node"]: r["pr"]
        for r in graph.pagerank(
            classify.outlinks(pages), src="src_url", dst="out_url",
            nodes=pages.select("url"), iterations=3,
        ).collect()
    }
    for r in pr.collect():
        assert abs(r["pr"] - want[r["url"]]) < 1e-12
    anchors = spark.read.parquet(str(out / "anchor_terms"))
    assert set(anchors.columns) == {
        "dst_url", "term", "n_occurrences", "n_anchors"
    }
    assert anchors.count() > 0


def test_cli_linkrank_bucket_table_per_output(tmp_path):
    """Concurrent linkrank runs with different --out paths must not share
    (and DROP) one bucketed edge table; the same path maps to one name."""
    from searchengine_spark import cli

    a = cli.linkrank_bucket_table(str(tmp_path / "a"))
    b = cli.linkrank_bucket_table(str(tmp_path / "b"))
    assert a != b
    assert a == cli.linkrank_bucket_table(str(tmp_path / "x" / ".." / "a"))
    assert re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", a)
