"""DOM traversal / measurement utilities.

Reimplements the per-node predicates and measurements the extraction
algorithm depends on (reference: /root/reference/src/dom.ts).  All text
handling matches JS semantics: ``trim()`` / ``\\s`` use the JS whitespace
class (which includes U+FEFF and excludes U+001C-001F), so results are
byte-identical to the reference on unicode inputs.
"""

from __future__ import annotations

import re
from typing import Optional

from .vdom import VElement, VNode

# JS \s character class (ECMA-262 WhiteSpace + LineTerminator)
JS_WS = (
    "\t\n\x0b\f\r \xa0\u1680"
    "\u2000-\u200a\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_RE_NORMALIZE = re.compile(f"[{JS_WS}]{{2,}}")          # REGEXPS.normalize
# literal char string (ranges expanded) for C-speed str.strip
JS_WS_CHARS = (
    "\t\n\x0b\f\r \xa0\u1680"
    + ''.join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000\ufeff"

)


def js_trim(s: str) -> str:
    """Exact JS String.prototype.trim (trims JS whitespace set)."""
    return s.strip(JS_WS_CHARS)


def get_attribute(el: VElement, name: str) -> Optional[str]:
    # reference dom.ts:36-38 — `|| null`: empty string is falsy in JS
    return el.attrs.get(name) or None


def get_elements_by_tag_name(el: VElement, tags) -> list[VElement]:
    """Depth-first pre-order tag selection, root-inclusive (dom.ts:41-59).

    Hot path (called hundreds of times per document) — the single-tag case
    is special-cased with index loops (no genexpr/reversed allocations)."""
    out: list[VElement] = []
    stack = [el]
    if isinstance(tags, str) and tags != "*":
        t = tags.lower()
        while stack:
            node = stack.pop()
            if node.nodeType != "element":
                continue
            if node.tag == t:
                out.append(node)
            children = node.children
            if children:
                stack += children[::-1]
        return out
    if isinstance(tags, str):
        tags = (tags,)
    tagset = frozenset(t.lower() for t in tags)
    wild = "*" in tagset
    while stack:
        node = stack.pop()
        if node.nodeType != "element":
            continue
        if wild or node.tag in tagset:
            out.append(node)
        children = node.children
        if children:
            stack += children[::-1]
    return out


def collect_by_tags(el: VElement, tags) -> dict[str, list[VElement]]:
    """ONE pre-order DFS collecting several tags at once; each returned
    list is element-for-element identical to
    ``get_elements_by_tag_name(el, tag)`` (same document order, root-
    inclusive).  Collapses the per-tag-loop hot paths (candidate scoring
    scans 9 tags, the improved classifier 7) into a single traversal."""
    out: dict[str, list[VElement]] = {t.lower(): [] for t in tags}
    get = out.get
    stack = [el]
    while stack:
        node = stack.pop()
        if node.nodeType != "element":
            continue
        bucket = get(node.tag)
        if bucket is not None:
            bucket.append(node)
        children = node.children
        if children:
            stack += children[::-1]
    return out


def is_probably_visible(el: VElement) -> bool:
    """dom.ts:87-98 — style/hidden/aria-hidden visibility heuristic."""
    style = el.attrs.get("style", "")
    return (
        "display: none" not in style
        and "visibility: hidden" not in style
        and "hidden" not in el.attrs
        and el.attrs.get("aria-hidden") != "true"
    )


def _inner_text_unnormalized(el: VNode) -> str:
    """Per-level-trimmed subtree text (dom.ts:187-202 with
    normalizeSpaces=false): each nested element's text is trimmed before
    concatenation into its parent.  Memoized on the element (valid because
    the tree is immutable once scoring starts) and computed iteratively
    post-order so arbitrarily deep DOMs can't blow the Python stack."""
    if el.nodeType == "text":
        return js_trim(el.text)
    if el.txt_cache is not None:
        return el.txt_cache
    # iterative post-order: state 0 = expand, 1 = combine
    stack: list = [(el, 0)]
    while stack:
        node, state = stack.pop()
        if state == 0:
            if node.txt_cache is not None:
                continue
            stack.append((node, 1))
            for c in node.children:
                if c.nodeType == "element" and c.txt_cache is None:
                    stack.append((c, 0))
        else:
            buf = []
            for c in node.children:
                if c.nodeType == "text":
                    buf.append(c.text)
                else:
                    buf.append(c.txt_cache or "")
            node.txt_cache = js_trim("".join(buf))
    return el.txt_cache


def get_inner_text(el: VNode, normalize_spaces: bool = True) -> str:
    """Subtree text concat + trim (+ collapse \\s{2,} → ' ') (dom.ts:187-209)."""
    if normalize_spaces and el.nodeType == "element":
        if el.norm_cache is None:
            el.norm_cache = _RE_NORMALIZE.sub(
                " ", _inner_text_unnormalized(el))
        return el.norm_cache
    text = _inner_text_unnormalized(el)
    if normalize_spaces:
        return _RE_NORMALIZE.sub(" ", text)
    return text


def get_link_density(el: VElement) -> float:
    """dom.ts:212-228 — '#' fragment links weighted 0.3."""
    text_len = len(get_inner_text(el))
    if text_len == 0:
        return 0.0
    link_len = 0.0
    for link in get_elements_by_tag_name(el, "a"):
        href = get_attribute(link, "href")
        coeff = 0.3 if (href and href.startswith("#")) else 1.0
        link_len += len(get_inner_text(link)) * coeff
    return link_len / text_len


def build_link_index(doc) -> list:
    """Per-document link index: [(ancestor_id_set, weighted_len), ...].

    Built by DOWNWARD DFS from the documentElement and the body (the body
    can be detached by the ad pass while keeping a stale upward parent
    pointer — containment must follow children, not parents, to match
    get_link_density's subtree semantics exactly).  Lets candidate scoring
    compute link densities in O(links) per candidate instead of a full
    subtree walk each time.
    """
    index: list = []
    seen: set[int] = set()
    for root in (doc.document_element, doc.body):
        if id(root) in seen:
            continue
        # DFS with a persistent cons-cell ancestor chain: O(1) to extend per
        # node (a tuple concat was O(depth) per node); flattened to a
        # frozenset only at the links themselves
        stack = [(root, None)]
        while stack:
            node, anc = stack.pop()
            nid = id(node)
            if nid in seen:
                continue
            seen.add(nid)
            anc_here = (nid, anc)
            if node.tag == "a":
                href = node.attrs.get("href") or None
                coeff = 0.3 if (href and href.startswith("#")) else 1.0
                ids = []
                cell = anc_here
                while cell is not None:
                    ids.append(cell[0])
                    cell = cell[1]
                index.append((frozenset(ids),
                              len(get_inner_text(node)) * coeff))
            for c in node.children:
                if c.nodeType == "element":
                    stack.append((c, anc_here))
    return index


def get_link_density_indexed(el: VElement, index: list) -> float:
    """get_link_density via the per-document index (identical result)."""
    text_len = len(get_inner_text(el))
    if text_len == 0:
        return 0.0
    eid = id(el)
    link_len = 0.0
    for anc, w in index:
        if eid in anc:
            link_len += w
    return link_len / text_len


def count_links_indexed(el: VElement, index: list) -> int:
    """len(getElementsByTagName(el, 'a')) via the index."""
    eid = id(el)
    return sum(1 for anc, _w in index if eid in anc)


def get_text_density(el: VElement) -> float:
    """dom.ts:231-238 — chars per direct element child."""
    text_len = len(get_inner_text(el))
    if text_len == 0:
        return 0.0
    n_children = sum(1 for c in el.children if c.nodeType == "element")
    return text_len / (n_children or 1)


def get_node_ancestors(node: VElement, max_depth: int = 3) -> list[VElement]:
    """dom.ts:241-255."""
    out: list[VElement] = []
    cur = node.parent
    depth = 0
    while cur is not None and (max_depth <= 0 or depth < max_depth):
        out.append(cur)
        cur = cur.parent
        depth += 1
    return out
