"""Output projections: plain text, cleaned HTML, GFM markdown.

Reimplements the reference's formatters:
- ``stringify`` — tag-free text with block-element newlines
  (/root/reference/src/format/format.ts:147-194)
- ``to_html`` — HTML dropping span wrappers and class attributes
  (format.ts:15-97)
- ``to_markdown`` — full GFM converter: headings, emphasis, inline code with
  backtick-run escaping, fenced code blocks with language classes,
  blockquotes, nested lists, links (image-link collapse), images, hr/br and
  pipe tables (/root/reference/src/format/markdown.ts:66-465)
- ``format_document`` — newline collapse/trim (format.ts:203-209)
- ``extract_text_content`` / ``count_nodes`` (format.ts:217-254)

Whitespace joining rules are order-sensitive; they are ported exactly and
covered by dedicated golden tests.
"""

from __future__ import annotations

import re
from typing import Optional

from .dom import JS_WS_CHARS, js_trim
from .vdom import VElement, VNode

# ---------------------------------------------------------------------------
# plain text (stringify)
# ---------------------------------------------------------------------------

BLOCK_ELEMENTS = frozenset(
    "address article aside blockquote details dialog dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr li "
    "main nav ol p pre section table ul".split())

_RE_NL2 = re.compile(r"\n{2,}")
_RE_NL3 = re.compile(r"\n{3,}")


def stringify(el: Optional[VElement]) -> str:
    """format.ts:147-194 — readable plain text with block newlines."""
    if el is None:
        return ""
    tag = el.tag
    if tag == "br":
        return "\n"
    if tag == "hr":
        return "\n----------\n"
    is_block = tag in BLOCK_ELEMENTS
    parts: list[str] = ["\n"] if is_block else []
    for child in el.children:
        if child.nodeType == "text":
            text = js_trim(child.text)
            if text:
                parts.append(text + " ")
        else:
            parts.append(stringify(child))
    result = "".join(parts)
    if result.endswith(" "):
        result = result[:-1]            # remove ONE trailing space
    if is_block:
        result += "\n"
    if "\n\n" in result:                # sub is a no-op otherwise
        return _RE_NL2.sub("\n", result)
    return result


def format_document(text: str) -> str:
    """format.ts:203-209."""
    text = _RE_NL2.sub("\n", text)
    text = _RE_LEAD_NL.sub("", text)
    text = _RE_TRAIL_NL.sub("", text)
    return js_trim(text)


def extract_text_content(el: Optional[VElement]) -> str:
    """format.ts:217-229 — raw subtree text concat, no normalization."""
    if el is None:
        return ""
    out: list[str] = []
    stack: list[VNode] = list(reversed(el.children))
    while stack:
        node = stack.pop()
        if node.nodeType == "text":
            out.append(node.text)
        else:
            stack.extend(reversed(node.children))
    return "".join(out)


def count_nodes(el: Optional[VElement]) -> int:
    """format.ts:237-254 — elements + text nodes, self-inclusive."""
    if el is None:
        return 0
    count = 0
    stack: list[VNode] = [el]
    while stack:
        node = stack.pop()
        count += 1
        if node.nodeType == "element":
            stack.extend(node.children)
    return count


# ---------------------------------------------------------------------------
# HTML (span/class-dropping serializer)
# ---------------------------------------------------------------------------

_SELF_CLOSING = frozenset(
    "area base br col embed hr img input link meta param source track "
    "wbr".split())


def _escape_html(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("\xa0", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&#039;")
    )


def to_html(el: Optional[VElement]) -> str:
    """format.ts:15-97 — omit <span> wrappers and class attributes."""
    if el is None:
        return ""
    tag = el.tag
    if tag == "span":
        return "".join(
            _escape_html(c.text) if c.nodeType == "text" else to_html(c)
            for c in el.children
        )
    attrs = " ".join(
        f'{k}="{_escape_html(v)}"' for k, v in el.attrs.items() if k != "class"
    )
    if tag in _SELF_CLOSING and not el.children:
        return f"<{tag} {attrs}/>" if attrs else f"<{tag}/>"
    start = f"<{tag} {attrs}>" if attrs else f"<{tag}>"
    inner = "".join(
        _escape_html(c.text) if c.nodeType == "text" else to_html(c)
        for c in el.children
    )
    return f"{start}{inner}</{tag}>"


# ---------------------------------------------------------------------------
# Markdown (GFM)
# ---------------------------------------------------------------------------

_MD_BLOCK = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "pre",
     "blockquote", "hr", "table", "div"])
_MD_IGNORED = frozenset(
    ["script", "style", "nav", "aside", "header", "footer", "form", "button",
     "iframe", "object", "embed", "applet", "link", "meta", "title", "svg"])
_RE_MD_ESCAPE = re.compile(r"([*_`\[\]\\])")
_RE_SPACE_TAB = re.compile(r"[ \t]+")
# JS /\s/ — same set as String.trim (incl. \ufeff, excl. \x1c-\x1f);
# Python's \s differs at exactly those boundaries
_PUNCT_NO_SPACE = frozenset(".,!?;:)")
_RE_LEAD_NL = re.compile(r"^\n+")
_RE_TRAIL_NL = re.compile(r"\n+$")
_RE_LANG_CLASS = re.compile(r"language-([a-zA-Z0-9_-]+)")
_RE_PRE_TRIM = re.compile(r"^\s*\n|\s+$")
_RE_NL_RUN = re.compile(r"\n+")


def _escape_markdown(text: str) -> str:
    """markdown.ts:9-20 — decode residual entities, escape md specials.
    Fast paths skip the decode chain when no '&' is present and the escape
    sub when no specials are present (the overwhelmingly common case)."""
    if "&" in text:
        text = (
            text.replace("&amp;", "&")
            .replace("&lt;", "<")
            .replace("&gt;", ">")
            .replace("&quot;", '"')
            .replace("&#039;", "'")
            .replace("&nbsp;", " ")
        )
    if _RE_MD_ESCAPE.search(text) is None:
        return text
    return _RE_MD_ESCAPE.sub(r"\\\1", text)


_JS_WS_SET = frozenset(JS_WS_CHARS)


def _join_md_parts(parts: list[str]) -> str:
    """markdown.ts:27-56 — smart inline spacing.

    Regex-free: `[JS_WS]$` on the accumulator and `^[JS_WS]` on the part
    are single-char class probes, exactly first/last-char set membership;
    the all-whitespace skip only pays the trim when the first char is
    whitespace (a non-ws first char can never trim to empty)."""
    result = ""
    for part in parts:
        if not part or (part[0] in _JS_WS_SET and js_trim(part) == ""):
            continue
        if result == "":
            result = part
        else:
            if (result[-1] not in _JS_WS_SET and part[0] not in _JS_WS_SET
                    and part[0] not in _PUNCT_NO_SPACE):
                result += " "
            result += part
    return result


def _convert_node(node: VNode, parent_tag: Optional[str] = None,
                  depth: int = 0,
                  memo: Optional[dict] = None) -> str:
    """markdown.ts:66-438.

    ``memo`` caches results per (node, parent_tag, depth): the eager
    children pass and the ul/ol/li/table branch re-conversions would
    otherwise recompute whole subtrees per nesting level — measured
    exponential (12 nested lists took 127s) despite the depth cap.
    Output-identical: _convert_node is pure in (node, parent_tag,
    depth) and nodes are immutable during rendering."""
    if memo is None:
        memo = {}
    key = (id(node), parent_tag, depth)
    hit = memo.get(key)
    if hit is not None:
        return hit
    res = _convert_node_body(node, parent_tag, depth, memo)
    memo[key] = res
    return res


def _convert_node_body(node: VNode, parent_tag: Optional[str],
                       depth: int, memo: dict) -> str:
    if node.nodeType == "text":
        if parent_tag in ("pre", "code"):
            return node.text
        text = node.text
        if "\t" in text or "  " in text:
            text = _RE_SPACE_TAB.sub(" ", text)
        if not text:
            return ""
        return _escape_markdown(text)

    el = node
    tag = el.tag
    is_block = tag in _MD_BLOCK

    child_depth = depth + 1 if tag in ("ul", "ol", "blockquote") else depth
    # text children inlined (identical to _convert_node's text branch with
    # parent_tag == tag): skips the memo machinery for roughly half the
    # per-node conversions
    if tag == "pre" or tag == "code":
        children_results = [
            c.text if c.nodeType == "text"
            else _convert_node(c, tag, child_depth, memo)
            for c in el.children
        ]
    else:
        children_results = []
        ap = children_results.append
        for c in el.children:
            if c.nodeType == "text":
                text = c.text
                if "\t" in text or "  " in text:
                    text = _RE_SPACE_TAB.sub(" ", text)
                ap(_escape_markdown(text) if text else "")
            else:
                ap(_convert_node(c, tag, child_depth, memo))
    children_md = _join_md_parts(children_results)
    trimmed = js_trim(children_md)

    if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
        return f"{'#' * int(tag[1])} {trimmed}\n\n"

    if tag == "p":
        return f"{trimmed}\n\n" if trimmed else ""

    if tag in ("strong", "b"):
        return f"**{children_md}**"
    if tag in ("em", "i"):
        return f"*{children_md}*"

    if tag == "code":
        if parent_tag != "pre":
            content = children_md
            runs = re.findall(r"`+", content)
            longest = max((len(r) for r in runs), default=0)
            delim = "`" * (longest + 1)
            if re.fullmatch(r"`+", content) and len(content) >= len(delim):
                delim = "`" * (len(content) + 1)
            needs_pad = (
                content.startswith("`") or content.endswith("`")
                or bool(re.fullmatch(r"`+", content))
                or not js_trim(content)
            )
            final = f" {content} " if needs_pad else content
            return f"{delim}{final}{delim}"
        return children_md

    if tag == "pre":
        code_child = next(
            (c for c in el.children
             if c.nodeType == "element" and c.tag == "code"), None)
        raw = extract_text_content(
            code_child if code_child is not None else el)
        lang = ""
        cls = code_child.attrs.get("class", "") if code_child is not None else ""
        m = _RE_LANG_CLASS.search(cls)
        if m:
            lang = m.group(1)
        cleaned = _RE_PRE_TRIM.sub("", raw)
        if lang in ("markdown", "md"):
            return f"````{lang}\n{cleaned}\n````"
        return f"```{lang}\n{cleaned}\n```"

    if tag == "blockquote":
        content = js_trim(children_md)
        if not content:
            return ""
        quoted = [
            ">" if js_trim(line) == "" else f"> {line}"
            for line in content.split("\n")
        ]
        return "\n".join(quoted) + "\n\n"

    if tag in ("ul", "ol"):
        items = [
            _convert_node(c, tag, depth + 1, memo)
            for c in el.children
            if c.nodeType == "element" and c.tag == "li"
        ]
        items = [it for it in items if js_trim(it) != ""]
        if not items:
            return ""
        list_content = "\n".join(items)
        indent = "  " * max(0, depth - 1)
        if indent:
            list_content = "\n".join(
                f"{indent}{line}" if js_trim(line) else line
                for line in list_content.split("\n")
            )
        return list_content + "\n\n"

    if tag == "li":
        marker = "1." if parent_tag == "ol" else "-"
        main_parts: list[str] = []
        nested_parts: list[str] = []
        for c in el.children:
            if c.nodeType == "element" and c.tag in ("ul", "ol"):
                nested = _convert_node(c, tag, depth + 1, memo)
                if nested:
                    nested_parts.append(_RE_TRAIL_NL.sub("", nested))
            else:
                main_parts.append(_convert_node(c, tag, depth, memo))
        main_content = js_trim(_join_md_parts(main_parts))
        result = f"{marker} {main_content}"
        if nested_parts:
            if main_content:
                result += "\n"
            result += "\n".join(nested_parts)
        return result

    if tag == "a":
        href = el.attrs.get("href", "")
        link_content = js_trim(_RE_NL_RUN.sub(" ", children_md))
        if (len(el.children) == 1 and el.children[0].nodeType == "element"
                and el.children[0].tag == "img"):
            img = el.children[0]
            alt = img.attrs.get("alt", "")
            src = img.attrs.get("src", "")
            display = alt if js_trim(alt) else src
            return f"[{display}]({href})"
        return f"[{link_content}]({href})"

    if tag == "img":
        alt = _escape_markdown(el.attrs.get("alt", ""))
        src = el.attrs.get("src", "")
        title_attr = el.attrs.get("title")
        title = f' "{_escape_markdown(title_attr)}"' if title_attr else ""
        if parent_tag == "a":
            return alt if js_trim(alt) else src
        return f"![{alt}]({src}{title})"

    if tag == "hr":
        return "---\n\n"
    if tag == "br":
        return "  \n"

    if tag == "table":
        header_row: list[str] = []
        body_rows: list[list[str]] = []
        max_cols = 0

        def find_child(parent: VElement, name: str) -> Optional[VElement]:
            return next(
                (c for c in parent.children
                 if c.nodeType == "element" and c.tag == name), None)

        def process_cell(cell: VElement) -> str:
            return js_trim(_convert_node(cell, cell.tag, depth + 1, memo))

        thead = find_child(el, "thead")
        tbody = find_child(el, "tbody")
        if thead is not None:
            header_tr = find_child(thead, "tr")
            if header_tr is not None:
                header_row = [
                    process_cell(c) for c in header_tr.children
                    if c.nodeType == "element" and c.tag == "th"
                ]
                max_cols = max(max_cols, len(header_row))
        rows_container = tbody if tbody is not None else el
        for tr in rows_container.children:
            if tr.nodeType == "element" and tr.tag == "tr":
                row = [
                    process_cell(c) for c in tr.children
                    if c.nodeType == "element" and c.tag in ("td", "th")
                ]
                body_rows.append(row)
                max_cols = max(max_cols, len(row))

        table_md = ""
        separator = " | ".join(["---"] * max_cols)
        if header_row:
            header_row += [""] * (max_cols - len(header_row))
            table_md += f"| {' | '.join(header_row)} |\n"
            table_md += f"| {separator} |\n"
        elif body_rows and max_cols > 0:
            table_md += f"| {separator} |\n"
        for row in body_rows:
            row += [""] * (max_cols - len(row))
            table_md += f"| {' | '.join(row)} |\n"
        return f"{js_trim(table_md)}\n\n" if table_md else ""

    if tag in _MD_IGNORED:
        return ""

    # default: block-like → trim + spacing; otherwise inline passthrough
    if is_block:
        return f"{trimmed}\n\n" if trimmed else ""
    return children_md


def to_markdown(el: Optional[VElement]) -> str:
    """markdown.ts:445-465."""
    if el is None:
        return ""
    md = _convert_node(el, None, 0)
    md = js_trim(md)
    return _RE_NL3.sub("\n\n", md)
