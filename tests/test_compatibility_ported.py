"""src/test/readability-compatibility.test.ts ported verbatim, including
the reference's <1s performance budget on a 100-paragraph document."""

import time

import pytest

from readability_core import Readable
from readability_core.extract import extract, extract_full
from readability_core.render import to_markdown

FIXTURES = "/root/reference/test/test-pages"


def _load(case):
    return open(f"{FIXTURES}/{case}/source.html",
                encoding="utf-8", errors="replace").read()


@pytest.mark.requires_reference
def test_fixture_compatibility_cases():
    for case in ("001", "003-metadata-preferred",
                 "004-metadata-space-separated-properties", "aclu"):
        source = _load(case)
        r, _d, root, _c = extract_full(source)
        assert root is not None, case
        assert Readable.from_html(source).page_type == "article", case
        assert r["title"], case


def test_pattern_semantic_html5():
    html = """
      <html><body><article>
        <header><h1>Article Title</h1><time>2024-01-01</time></header>
        <section>
          <p>First paragraph with substantial content to ensure it's recognized as an article.</p>
          <p>Second paragraph providing more context and information about the topic.</p>
        </section>
      </article></body></html>"""
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    assert root is not None
    assert len(to_markdown(root)) > 50


def test_pattern_blog_class_names():
    html = """
      <html><body><div class="post">
        <h1 class="post-title">Blog Post Title</h1>
        <div class="post-content">
          <p>This is a blog post with common class names that readability should recognize.</p>
          <p>Multiple paragraphs help establish this as article content.</p>
        </div>
      </div></body></html>"""
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    assert root is not None
    assert len(to_markdown(root)) > 50


def test_pattern_news_with_byline():
    html = """
      <html><body><div class="article">
        <h1>News Article Title</h1>
        <p class="byline">By John Doe | January 1, 2024</p>
        <div class="article-body">
          <p>This is a news article with a byline, which is common in news websites.</p>
          <p>The algorithm should recognize this pattern and extract the content.</p>
        </div>
      </div></body></html>"""
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    assert root is not None
    assert len(to_markdown(root)) > 50


def test_open_graph_metadata():
    html = """
      <html>
        <head>
          <meta property="og:title" content="OG Title">
          <meta property="og:site_name" content="Example Site">
          <meta property="og:description" content="OG Description">
          <meta property="og:url" content="https://example.com/article">
        </head>
        <body><article>
          <h1>Article Title</h1>
          <p>Article content that is long enough to be extracted.</p>
        </article></body>
      </html>"""
    r = extract(html, char_threshold=50)
    # the reference test asserts title === "OG Title", but its own
    # getArticleTitle never reads og:title (extract.ts:488-513 — <title>
    # tag → h1 fallback); faithful behavior pinned:
    assert r["title"] == "Article Title"
    assert r["site_name"] == "Example Site"     # og:site_name IS read


def test_author_metadata():
    html = """
      <html><head><meta name="author" content="Jane Smith"></head>
      <body><article>
        <h1>Article with Author</h1>
        <p>Content written by the author specified in metadata.</p>
      </article></body></html>"""
    r = extract(html, char_threshold=50)
    assert r["byline"] == "Jane Smith"


def test_deeply_nested_content():
    html = """
      <html><body><div><div><div><div>
        <article>
          <h1>Deeply Nested Article</h1>
          <p>This content is deeply nested but should still be extracted.</p>
          <p>Multiple paragraphs ensure it's recognized as article content.</p>
        </article>
      </div></div></div></div></body></html>"""
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    assert root is not None


def test_ignores_hidden_content():
    html = """
      <html><body>
        <div style="display: none"><p>This hidden content should be ignored.</p></div>
        <article>
          <h1>Visible Article</h1>
          <p>Only this visible content should be extracted.</p>
          <p>Hidden elements should not affect the extraction.</p>
        </article>
      </body></html>"""
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    md = to_markdown(root)
    assert "hidden content" not in md
    assert "Visible Article" in md


def test_special_characters_and_entities():
    html = """
      <html><body><article>
        <h1>Article with Special Characters</h1>
        <p>This article contains special characters: &amp; &lt; &gt; &quot;</p>
        <p>Unicode: café, naïve, 日本語</p>
      </article></body></html>"""
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    md = to_markdown(root)
    assert "&" in md and "<" in md and ">" in md and '"' in md
    assert "café" in md


def test_performance_budget_100_paragraphs():
    """The reference's only quantified perf target: < 1000 ms for a
    100-paragraph document (readability-compatibility.test.ts:262-288)."""
    paragraphs = "\n".join(
        f"<p>This is paragraph {i + 1} with some content to make it "
        f"substantial.</p>" for i in range(100))
    html = f"<html><body><article><h1>Large Article</h1>{paragraphs}</article></body></html>"
    t0 = time.time()
    _r, _d, root, _c = extract_full(html, char_threshold=50)
    elapsed_ms = (time.time() - t0) * 1000
    assert root is not None
    assert elapsed_ms < 1000
