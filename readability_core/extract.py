"""End-to-end extraction: parse → preprocess → score → classify → render.

Reimplements the reference's ``extract()`` lifecycle
(/root/reference/src/extract/extract.ts:777-859) as a single pure function
returning a flat dict — the exact record the Spark pandas UDF emits per
turn.  Statelessness is the point: one HTML string in, one deterministic
record out, no shared state between rows, so the Spark layer can batch it
over Arrow with no ordering constraints.
"""

from __future__ import annotations

import sys
from typing import Any, Optional

# the renderers recurse ~3 frames per DOM level; MAX_DOM_DEPTH (512) bounds
# tree depth, so 16k frames is comfortably safe (pure-Python recursion does
# not consume C stack in CPython 3.11+)
if sys.getrecursionlimit() < 16_000:
    sys.setrecursionlimit(16_000)

from .aria import aria_tree_to_string, build_aria_tree
from .classify import ARTICLE, OTHER, classify_page_type
from .classify_improved import classify_improved, classify_snapshot_score
from .constants import DEFAULT_CHAR_THRESHOLD, DEFAULT_N_TOP_CANDIDATES
from .metadata import (
    extract_links,
    get_article_byline,
    get_article_lang,
    get_article_site_name,
    get_article_title,
)
from .preprocess import preprocess_document
from .render import (
    count_nodes,
    extract_text_content,
    format_document,
    stringify,
    to_html,
    to_markdown,
)
from .dom import build_link_index
from .scoring import find_main_candidates, is_probably_content
from .vdom import VDocument, parse_html

# Hard guard against adversarial/degenerate payloads: a single turn larger
# than this is truncated before parse (bounds per-batch memory; the guard is
# surfaced in the `error` field).  Mirrors the reference's documented
# maxElemsToParse abort option (README.md:207-209) at the byte level.
MAX_HTML_BYTES = 8 * 1024 * 1024


def extract(html: Optional[str],
            char_threshold: int = DEFAULT_CHAR_THRESHOLD,
            nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
            base_uri: str = "about:blank",
            build_aria: bool = True,
            parser=None,
            forced_page_type: Optional[str] = None) -> dict[str, Any]:
    record, _doc, _root, _cands = extract_full(
        html, char_threshold, nb_top_candidates, base_uri, build_aria,
        parser, forced_page_type)
    return record


def extract_full(html: Optional[str],
                 char_threshold: int = DEFAULT_CHAR_THRESHOLD,
                 nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
                 base_uri: str = "about:blank",
                 build_aria: bool = True,
                 parser=None,
                 forced_page_type: Optional[str] = None):
    """Extract main content + metadata from one HTML payload.

    ``parser`` is the pluggable-parser hook (extract.ts ReadabilityOptions.
    parser): a callable (html, base_uri) -> VDocument; default parse_html.

    Returns ``(record, doc, root, candidates)``.  The record is a flat dict:
    page_type, page_type_v2, article_possibility, title, byline, lang,
    site_name, extracted_text, extracted_md, extracted_html, node_count,
    top_score, candidate_scores, n_candidates, links, n_links, aria_tree,
    aria_node_count, body_text_len, char_yield, span_start, span_end,
    error.  The Spark output struct (``schema.EXTRACT_SCHEMA``) derives
    from it: it splits ``links`` into link_hrefs/link_texts and has no
    extracted_html.
    """
    doc, error = parse_guarded(html, base_uri, parser)
    return extract_from_doc(doc, error, char_threshold, nb_top_candidates,
                            base_uri, build_aria, forced_page_type)


def create_extractor(parser=None, generate_aria_tree: Optional[bool] = None,
                     forced_page_type: Optional[str] = None):
    """extract.ts:866-890 — extractor factory with a pre-configured parser
    plus default generateAriaTree / forcedPageType.  The returned callable
    accepts extract()'s options EXCEPT ``parser`` (the reference's
    ``Omit<ReadabilityOptions, "parser">``); per-call forced_page_type /
    build_aria override the factory defaults."""
    default_aria = True if generate_aria_tree is None else generate_aria_tree

    def _extract(html: Optional[str],
                 char_threshold: int = DEFAULT_CHAR_THRESHOLD,
                 nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
                 base_uri: str = "about:blank",
                 build_aria: Optional[bool] = None,
                 forced_page_type_call: Optional[str] = None
                 ) -> dict[str, Any]:
        return extract(
            html, char_threshold, nb_top_candidates, base_uri,
            default_aria if build_aria is None else build_aria,
            parser,
            forced_page_type_call if forced_page_type_call is not None
            else forced_page_type)

    return _extract


def parse_guarded(html: Optional[str], base_uri: str = "about:blank",
                  parser=None):
    """Byte-truncation + depth-cap guarded parse → (doc, error)."""
    error = None
    if html is None:
        html = ""
    # byte-accurate guard: a CJK/emoji payload is up to 4 bytes/char, so a
    # char-length check alone would admit ~4x the budget.  The encode only
    # runs when the char count could possibly exceed the cap.
    if len(html) > MAX_HTML_BYTES:
        html = html[:MAX_HTML_BYTES]   # cheap pre-trim: ≥1 byte per char
        error = "truncated:max_html_bytes"
    if len(html) * 4 > MAX_HTML_BYTES:
        encoded = html.encode("utf-8", "replace")
        if len(encoded) > MAX_HTML_BYTES:
            html = encoded[:MAX_HTML_BYTES].decode("utf-8", "ignore")
            error = "truncated:max_html_bytes"
    doc = (parser or parse_html)(html, base_uri)
    if doc.depth_capped:
        error = (error + ";" if error else "") + "depth_capped:max_dom_depth"
    return doc, error


def extract_from_doc(doc: VDocument, error: Optional[str],
                     char_threshold: int = DEFAULT_CHAR_THRESHOLD,
                     nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
                     base_uri: str = "about:blank",
                     build_aria: bool = True,
                     forced_page_type: Optional[str] = None):
    """Extraction over an already-parsed document.  PREPROCESSES IN PLACE —
    run any raw-tree analysis (structure detection) before calling this."""
    preprocess_document(doc)

    # TWO walks shared by every downstream tag census: metadata, the
    # scoring short-circuit + element selection, and the improved
    # classifier (behavior-identical — collect_by_tags returns identical
    # per-tag lists in document order, supersets are fine, and nothing
    # below mutates the tree after preprocess)
    from .dom import collect_by_tags
    de_nodes = collect_by_tags(doc.document_element,
                               ("title", "meta", "article", "main"))
    body_nodes = collect_by_tags(
        doc.body,
        ("h1", "h2", "h3", "h4", "h5", "h6", "a", "section", "p", "td",
         "pre", "img", "article", "li"))
    md_nodes = {"title": de_nodes["title"], "meta": de_nodes["meta"],
                "h1": body_nodes["h1"], "h2": body_nodes["h2"],
                "a": body_nodes["a"]}
    title = get_article_title(doc, md_nodes)
    byline = get_article_byline(doc, md_nodes)
    lang = get_article_lang(doc)
    site_name = get_article_site_name(doc, md_nodes)

    # per-document link index: O(links) density checks instead of a
    # subtree walk per candidate (identical results — see build_link_index)
    link_index = build_link_index(doc)
    candidates = find_main_candidates(doc, nb_top_candidates, link_index,
                                      de_nodes=de_nodes,
                                      body_nodes=body_nodes)
    candidate_scores = [float(c.score or 0.0) for c in candidates]

    links = extract_links(doc, md_nodes)

    # ARIA tree is built from the preprocessed doc (extract.ts:816);
    # persisted as the rendered snapshot string + node count
    aria_tree = ""
    aria_node_count = 0
    if build_aria:
        tree = build_aria_tree(doc)
        aria_node_count = tree["node_count"]
        aria_tree = aria_tree_to_string(tree)

    # forcedPageType pre-empts classification but NOT the content-gate
    # demotion below (extract.ts:820 — `forcedPageType || classifyPageType`)
    page_type = forced_page_type or classify_page_type(
        doc, candidates, char_threshold, link_index)

    root = None
    if page_type == ARTICLE and candidates:
        top = candidates[0]
        # skip the gate when charThreshold is low (extract.ts:826-832)
        if char_threshold < 100 or is_probably_content(top, link_index):
            root = top
        else:
            page_type = OTHER

    # improved classifier (classify.ts:70-249) and probabilistic snapshot
    # score (classify.ts:406-513) as additional columns
    page_type_v2 = classify_improved(doc, candidates, char_threshold,
                                     url=base_uri, body_nodes=body_nodes)
    article_possibility, _ = classify_snapshot_score(root, candidates,
                                                     base_uri)

    node_count = count_nodes(root) if root is not None else 0
    extracted_text = format_document(stringify(root)) if root is not None else ""
    extracted_md = to_markdown(root) if root is not None else ""
    extracted_html = to_html(root) if root is not None else ""

    # span offsets of the extracted root's raw text within the full document
    # raw text (post-preprocess), for the per-turn span-equality invariant;
    # -1 when that text is empty or absent (a root the ad pass detached)
    span_start = span_end = -1
    if root is not None:
        root_text = extract_text_content(root)
        if root_text:
            idx = extract_text_content(doc.document_element).find(root_text)
            if idx >= 0:
                span_start = idx
                span_end = idx + len(root_text)
    body_text_len = len(extract_text_content(doc.body))

    record = {
        "page_type": page_type,
        "page_type_v2": page_type_v2,
        "article_possibility": article_possibility,
        "title": title or "",
        "byline": byline,
        "lang": lang,
        "site_name": site_name,
        "extracted_text": extracted_text,
        "extracted_md": extracted_md,
        "extracted_html": extracted_html,
        "node_count": node_count,
        "top_score": candidate_scores[0] if candidate_scores else 0.0,
        "candidate_scores": candidate_scores,
        "n_candidates": len(candidates),
        "links": [{"href": l["href"], "text": l["text"]} for l in links],
        "n_links": len(links),
        "aria_tree": aria_tree,
        "aria_node_count": aria_node_count,
        "body_text_len": body_text_len,
        "char_yield": len(extracted_text),
        "span_start": span_start,
        "span_end": span_end,
        "error": error,
    }
    return record, doc, root, candidates

