"""Metadata extraction — first-match scalar reductions.

Reimplements title/byline/lang/siteName/link extraction
(/root/reference/src/extract/extract.ts:488-616).  Each is a priority
``coalesce`` over filtered node sets, which is exactly how the Spark layer
expresses them relationally when the node table is exploded.

``nodes`` is an optional dict of per-tag node lists in document order
(title/meta off the documentElement, h1/h2/a off the body), as
``extract_from_doc`` pre-collects them; without it each extractor scans
the tree itself, with identical results.
"""

from __future__ import annotations

from typing import Optional

from .dom import get_elements_by_tag_name, get_inner_text, js_trim
from .vdom import VDocument


def get_article_title(doc: VDocument, nodes: Optional[dict] = None
                      ) -> Optional[str]:
    """<title> → single <h1> → first h1/h2 (extract.ts:488-513)."""
    titles = (nodes["title"] if nodes is not None else
              get_elements_by_tag_name(doc.document_element, "title"))
    if titles:
        return get_inner_text(titles[0])
    h1s = (nodes["h1"] if nodes is not None else
           get_elements_by_tag_name(doc.body, "h1"))
    if len(h1s) == 1:
        return get_inner_text(h1s[0])
    headings = h1s + (nodes["h2"] if nodes is not None else
                      get_elements_by_tag_name(doc.body, "h2"))
    if headings:
        return get_inner_text(headings[0])
    return None


def get_article_byline(doc: VDocument, nodes: Optional[dict] = None
                       ) -> Optional[str]:
    """meta author/og:author/article:author → <a rel=author> (extract.ts:518-548)."""
    metas = (nodes["meta"] if nodes is not None else
             get_elements_by_tag_name(doc.document_element, "meta"))
    for meta in metas:
        name = (meta.attrs.get("name") or "").lower()
        prop = (meta.attrs.get("property") or "").lower()
        content = meta.attrs.get("content")
        if not content:
            continue
        if name == "author" or prop in ("author", "og:author", "article:author"):
            return content
    anchors = (nodes["a"] if nodes is not None else
               get_elements_by_tag_name(doc.body, "a"))
    for a in anchors:
        if a.attrs.get("rel") == "author":
            text = get_inner_text(a)
            if text:
                return text
    return None


def get_article_lang(doc: VDocument) -> Optional[str]:
    """<html lang> (extract.ts:553-561)."""
    return doc.document_element.attrs.get("lang") or None


def get_article_site_name(doc: VDocument, nodes: Optional[dict] = None
                          ) -> Optional[str]:
    """og:site_name → application-name (extract.ts:566-589)."""
    metas = (nodes["meta"] if nodes is not None else
             get_elements_by_tag_name(doc.document_element, "meta"))
    for meta in metas:
        prop = (meta.attrs.get("property") or "").lower()
        content = meta.attrs.get("content")
        if prop == "og:site_name" and content:
            return content
    for meta in metas:
        name = (meta.attrs.get("name") or "").lower()
        content = meta.attrs.get("content")
        if name == "application-name" and content:
            return content
    return None


def extract_links(doc: VDocument, nodes: Optional[dict] = None) -> list[dict]:
    """All <a href> excluding javascript: links (extract.ts:594-616)."""
    links: list[dict] = []
    anchors = (nodes["a"] if nodes is not None else
               get_elements_by_tag_name(doc.body, "a"))
    for el in anchors:
        href = el.attrs.get("href") or None
        if href and not href.lower().startswith("javascript:"):
            links.append({
                "href": href,
                # JS .trim() (extract.ts:601) — strips ﻿, keeps \x1c-1f
                "text": js_trim(get_inner_text(el)),
                "score": 0.0,
            })
    return links
