"""Progressive-analysis output modes — the staged CLI dispatch.

Ports the mode chain of ``/root/reference/cli.js:194-436`` (tested by
``src/cli-progressive.test.ts``) as pure functions over an HTML string;
``progressive_dispatch`` mirrors the if/else ladder and returns the string
the CLI would print.  On Spark these are cheap extra projections over the
same parse (readability_spark.udfs.make_extract_udf is the extraction
UDF they would extend).

Reference quirks preserved deliberately:

- ``pageType`` in --analyze-structure / --full-analysis is the CLI's own
  heuristic ``nodeCount > 0 ? "article" : "other"`` (cli.js:201), NOT the
  classifier's page_type.
- ai-summary's ``mainTopics`` and ``navigationSummary.sections`` read
  ``structure.sections`` — a key analyzePageStructure never returns — so
  they are always ``[]`` / ``0`` (cli.js:344,347).  Likewise
  ai-structured's ``sidebar.navigation`` reads the nonexistent
  ``structure.sidebarNavigation`` and is always ``0`` (cli.js:397).
- ai-structured's metadata spread ``{url, ...result.metadata}`` lets the
  extractor's default ``url: "about:blank"`` override the CLI-provided url
  (cli.js:361-364; asserted by cli-progressive.test.ts:227).
- JS falsiness: ``docContent.breadcrumb || null`` maps empty strings to
  null, and ``split(/\\s+/)`` keeps leading/trailing empty fields in the
  word count (cli.js:351).
"""

from __future__ import annotations

import json
import re
from typing import Any, Optional

from .constants import DEFAULT_CHAR_THRESHOLD
from .detect import analyze_page_structure, extract_document_content
from .dom import JS_WS
from .extract import extract_full
from .render import to_html, to_markdown

CLI_DEFAULT_THRESHOLD = 250   # cli.js:168 — the CLI default, not extract()'s


def _extract(html: str, char_threshold: int):
    """cli.js:185-187 — extract(html, {charThreshold}) with NO url option,
    so metadata.url stays the extractor default "about:blank"."""
    snapshot, _doc, root, _cands = extract_full(
        html, char_threshold=char_threshold)
    return snapshot, root


def _metadata(snapshot: dict) -> dict:
    return {
        "title": snapshot["title"],
        "byline": snapshot["byline"],
        "lang": snapshot["lang"],
        "siteName": snapshot["site_name"],
        "url": "about:blank",
    }


def analyze_structure(html: str, url: str,
                      char_threshold: int = CLI_DEFAULT_THRESHOLD) -> dict:
    """--analyze-structure (cli.js:196-224): structure without content."""
    snapshot, _root = _extract(html, char_threshold)
    structure = analyze_page_structure(html)
    navs = structure["navigations"]
    node_count = snapshot["node_count"]
    return {
        "url": url,
        "pageType": "article" if node_count > 0 else "other",
        "hasMainContent": node_count > 0,
        "navigations": {
            "global": any(n["type"] == "global" for n in navs),
            "breadcrumb": any(n["type"] == "breadcrumb" for n in navs),
            "toc": any(n["type"] == "toc" for n in navs),
            "sidebar": any(n["location"] == "sidebar" for n in navs),
            "pagination": any(n["type"] == "pagination" for n in navs),
        },
        "contentAreas": {
            "header": len(structure["headers"]) > 0,
            "mainContent": structure["mainContent"] is not None,
            "sidebar": structure["sidebar"] is not None,
            "footer": structure["footer"] is not None,
        },
        "stats": {
            "navigationCount": len(navs),
            "headerCount": len(structure["headers"]),
            "contentLength": node_count,
        },
    }


def _nav_public(nav: dict) -> dict:
    """NavigationInfo minus the AriaNode backref (navigation.ts:18-25 keeps
    ``element``; it isn't JSON-serializable here and carries no data the
    CLI output consumes)."""
    return {k: v for k, v in nav.items() if k != "element"}


def extract_nav(html: str, url: str, nav_type: Optional[str] = None,
                nav_location: Optional[str] = None) -> dict:
    """--extract-nav / --nav-only (cli.js:225-268)."""
    structure = analyze_page_structure(html)
    navs = [_nav_public(n) for n in structure["navigations"]]
    if nav_type:
        navs = [n for n in navs if n["type"] == nav_type]
    if nav_location:
        navs = [n for n in navs if n["location"] == nav_location]
    by_type: dict[str, int] = {}
    for n in navs:
        by_type[n["type"]] = by_type.get(n["type"], 0) + 1
    main_nav = structure["mainNavigation"]
    breadcrumb = structure["breadcrumb"]
    toc = structure["toc"]
    return {
        "url": url,
        "navigations": navs,
        "summary": {
            "total": len(navs),
            "byType": by_type,
            "mainNavigation": (
                {"items": [i["label"] for i in main_nav["items"]]}
                if main_nav else None),
            "breadcrumb": (
                {"path": " > ".join(i["label"] for i in breadcrumb["items"])}
                if breadcrumb else None),
            "toc": (
                {"items": [{"label": i["label"], "href": i.get("href")}
                           for i in toc["items"]]}
                if toc else None),
        },
    }


def extract_content(html: str, url: str, with_context: bool = False,
                    char_threshold: int = CLI_DEFAULT_THRESHOLD):
    """--extract-content [--with-context] (cli.js:269-292).

    Returns the markdown string, or the context dict when with_context."""
    snapshot, root = _extract(html, char_threshold)
    md = to_markdown(root) if root is not None else ""
    if not with_context:
        return md
    structure = analyze_page_structure(html)
    breadcrumb = structure["breadcrumb"]
    return {
        "url": url,
        "title": snapshot["title"] or "",
        "content": md,
        "context": {
            # `... || null`: an empty joined string maps to null (cli.js:280)
            "breadcrumb": ((" > ".join(i["label"]
                                       for i in breadcrumb["items"]) or None)
                           if breadcrumb else None),
            "section": "main" if structure["mainContent"] else "unknown",
            "surroundingNavigation": [
                {"type": n["type"], "location": n["location"],
                 "itemCount": len(n["items"])}
                for n in structure["navigations"]
                if n["location"] == "inline" or n["type"] == "toc"],
        },
        "metadata": _metadata(snapshot),
    }


def full_analysis(html: str, url: str,
                  char_threshold: int = CLI_DEFAULT_THRESHOLD) -> dict:
    """--full-analysis (cli.js:293-330)."""
    snapshot, _root = _extract(html, char_threshold)
    structure = analyze_page_structure(html)
    doc_content = extract_document_content(html)
    return {
        "url": url,
        "structure": {
            "pageType": "article" if snapshot["node_count"] > 0 else "other",
            "navigations": [
                {"type": n["type"], "location": n["location"],
                 "itemCount": len(n["items"]), "label": n.get("label")}
                for n in structure["navigations"]],
            "headers": [
                {"type": h["type"],
                 "text": (h["contains"].get("siteTitle") or {}).get(
                     "text", "") or ""}
                for h in structure["headers"]],
            "contentAreas": {
                "main": structure["mainContent"] is not None,
                "sidebar": structure["sidebar"] is not None,
                "footer": structure["footer"] is not None,
            },
        },
        "navigation": {
            "breadcrumb": doc_content.get("breadcrumb") or None,
            "tableOfContents": doc_content.get("toc") or None,
            "sidebarNav": doc_content.get("sidebarNav") or None,
        },
        "content": {
            "main": doc_content["content"],
            "outline": doc_content.get("outline") or None,
        },
        "metadata": _metadata(snapshot),
    }


def ai_summary(html: str, url: str,
               char_threshold: int = CLI_DEFAULT_THRESHOLD) -> dict:
    """--format ai-summary (cli.js:331-355)."""
    snapshot, root = _extract(html, char_threshold)
    structure = analyze_page_structure(html)
    navs = structure["navigations"]
    md = to_markdown(root) if root is not None else ""
    breadcrumb = structure["breadcrumb"]
    if any(n["type"] == "toc" and n["location"] == "sidebar" for n in navs):
        page_type = "documentation"
    elif snapshot["node_count"] > 500:
        page_type = "article"
    else:
        page_type = "other"
    return {
        "url": url,
        "type": page_type,
        "title": snapshot["title"] or "",
        "summary": (md[:200] + "..." if root is not None else ""),
        "mainTopics": [],          # structure.sections is never set — quirk
        "navigationSummary": {
            # `... || null` (cli.js:345): empty joined string maps to null
            "breadcrumb": ((" > ".join(i["label"]
                                       for i in breadcrumb["items"]) or None)
                           if breadcrumb else None),
            "sections": 0,         # structure.sections quirk again
            "hasTableOfContents": any(n["type"] == "toc" for n in navs),
            "hasSidebar": structure["sidebar"] is not None,
        },
        "contentStats": {
            # JS split(/\s+/) keeps leading/trailing empty fields; the JS \s
            # class differs from Python's re \s on U+FEFF and \x1c-\x1f, so
            # split on the spelled-out set (dom.JS_WS) like render.py does
            "wordCount": (len(re.split(f"[{JS_WS}]+", md))
                          if root is not None else 0),
            "hasCode": "```" in md if root is not None else False,
        },
    }


def ai_structured(html: str, url: str,
                  char_threshold: int = CLI_DEFAULT_THRESHOLD) -> dict:
    """--format ai-structured (cli.js:356-402)."""
    snapshot, root = _extract(html, char_threshold)
    structure = analyze_page_structure(html)
    main_header = structure["mainHeader"]
    main_nav = structure["mainNavigation"]
    breadcrumb = structure["breadcrumb"]
    meta = _metadata(snapshot)
    return {
        # {url, ...result.metadata}: the spread's url wins (cli.js:361-364)
        "metadata": {"url": url, **meta},
        "structure": {
            "header": (
                {"logo": ("present" if main_header["contains"].get("logo")
                          else "absent"),
                 "title": (main_header["contains"].get("siteTitle") or {})
                 .get("text") or None,
                 "navigation": ("present"
                                if main_header["contains"].get("navigation")
                                else "absent")}
                if main_header else None),
            "navigation": {
                "types": [n["type"] for n in structure["navigations"]],
                "main": ([{"label": i["label"], "href": i.get("href")}
                          for i in main_nav["items"]] if main_nav else []),
                "breadcrumb": breadcrumb["items"] if breadcrumb else [],
            },
            "content": {
                "main": {
                    "present": root is not None,
                    "markdown": to_markdown(root) if root is not None else "",
                },
                "sections": [],    # structure.sections quirk
            },
            "sidebar": (
                # structure.sidebarNavigation is never set — always 0
                {"present": True, "navigation": 0}
                if structure["sidebar"] else None),
        },
    }


def doc_mode(html: str) -> str:
    """--doc-mode / --format doc (cli.js:403-427)."""
    doc_content = extract_document_content(html)
    content = "# Document Content\n\n"
    if doc_content.get("breadcrumb"):
        content += f"**Breadcrumb:** {doc_content['breadcrumb']}\n\n"
    if doc_content.get("toc"):
        content += "## Table of Contents\n\n" + doc_content["toc"] + "\n"
    if doc_content.get("sidebarNav"):
        content += ("## Sidebar Navigation\n\n"
                    + doc_content["sidebarNav"] + "\n")
    if doc_content.get("outline"):
        content += "## Document Outline\n\n" + doc_content["outline"] + "\n"
    content += "## Main Content\n\n" + doc_content["content"]
    return content


def progressive_dispatch(html: str, url: str = "",
                         fmt: str = "md",
                         threshold: int = CLI_DEFAULT_THRESHOLD,
                         **flags: Any) -> str:
    """The CLI's mode ladder (cli.js:194-436), in precedence order.

    flags: analyze_structure, extract_nav, nav_only, nav_type, nav_location,
    extract_content, with_context, full_analysis, doc_mode (booleans/str).
    Returns the exact string the CLI would print (JSON modes use indent=2).
    """
    def j(obj: Any) -> str:
        return json.dumps(obj, indent=2, ensure_ascii=False)

    if flags.get("analyze_structure"):
        return j(analyze_structure(html, url, threshold))
    if flags.get("extract_nav") or flags.get("nav_only"):
        return j(extract_nav(html, url, flags.get("nav_type"),
                             flags.get("nav_location")))
    if flags.get("extract_content"):
        out = extract_content(html, url, bool(flags.get("with_context")),
                              threshold)
        return out if isinstance(out, str) else j(out)
    if flags.get("full_analysis"):
        return j(full_analysis(html, url, threshold))
    if fmt == "ai-summary":
        return j(ai_summary(html, url, threshold))
    if fmt == "ai-structured":
        return j(ai_structured(html, url, threshold))
    if flags.get("doc_mode") or fmt == "doc":
        return doc_mode(html)
    snapshot, root = _extract(html, threshold)
    if fmt == "html":
        return to_html(root) if root is not None else ""
    return to_markdown(root) if root is not None else ""
