"""Boilerplate stripping — the DELETE pass before scoring.

Reimplements the reference's preprocess stage
(/root/reference/src/extract/preprocess.ts:62-138): remove unwanted
semantic/technical tags, then remove likely-ad elements by class/id
patterns and ad-related attributes.
"""

from __future__ import annotations

from .constants import RE_AD_COMBINED, TAGS_TO_REMOVE
from .vdom import VDocument, VElement

_REMOVE_SET = frozenset(TAGS_TO_REMOVE)


def is_likely_ad(el: VElement) -> bool:
    """preprocess.ts:114-138.

    Attribute-less elements short-circuit: the combined pattern cannot
    match the bare `" "` separator and every other probe reads attrs."""
    a = el.attrs
    if not a:
        return False
    cls = a.get("class")
    eid = a.get("id")
    if (cls or eid) and RE_AD_COMBINED.search(f"{cls or ''} {eid or ''}"):
        return True
    return (
        a.get("role") == "advertisement"
        or "data-ad" in a
        or "data-ad-client" in a
        or "data-ad-slot" in a
    )


def preprocess_document(doc: VDocument) -> VDocument:
    """preprocess.ts:62-70 — remove unwanted tags, then ads.

    Implementation note (hot path): the original shape was four full tree
    walks — remove-set scan, post-splice "*" ad scan, and two cache-clear
    walks.  Both scans are fused into two collection walks done UP FRONT,
    which is result-identical because (a) ``is_likely_ad`` reads only the
    node's own attributes, never tree state, so evaluating it before the
    pass-1 splices cannot change its verdict, and (b) the only extra nodes
    the pre-splice ad walk sees live inside subtrees pass 1 detaches —
    removing such a node from its (detached) parent leaves the final
    reachable tree untouched, exactly like the reference's
    already-detached ``remove()`` no-op.  Memoized-text invalidation rides
    the same walks: nodes holding a cache are noted during collection
    (caches are only ever populated BEFORE preprocess, by the fused
    structure-detection pass, and nothing here repopulates them), and only
    those — typically zero — are cleared afterwards."""
    # walk 1: documentElement subtree MINUS the body subtree (descent stops
    # at the body node) — remove-set hits + dirty caches.  Splice order
    # within a pass is immaterial: each removal touches only its own
    # parent's child list and already-detached nodes are no-ops, so
    # partitioning the remove-set scan across the two walks is
    # result-identical to one pre-order scan.
    body_node = doc.body
    remove_hits = []
    dirty = []
    stack = [doc.document_element]
    while stack:
        node = stack.pop()
        if node.nodeType != "element" or node is body_node:
            continue
        if node.tag in _REMOVE_SET:
            remove_hits.append(node)
        if node.txt_cache is not None or node.norm_cache is not None:
            dirty.append(node)
        children = node.children
        if children:
            stack += children[::-1]
    # walk 2: body subtree (root-inclusive, possibly detached for fragment
    # inputs) — remove-set hits + ad hits + dirty caches in one visit
    ad_hits = []
    stack = [body_node]
    while stack:
        node = stack.pop()
        if node.nodeType != "element":
            continue
        if node.tag in _REMOVE_SET:
            remove_hits.append(node)
        if node.attrs and is_likely_ad(node):
            ad_hits.append(node)
        if node.txt_cache is not None or node.norm_cache is not None:
            dirty.append(node)
        children = node.children
        if children:
            stack += children[::-1]
    # 1. unwanted tags (preprocess.ts:75-90): splice matching subtrees out
    for el in remove_hits:
        parent = el.parent
        if parent is not None:
            try:
                parent.children.remove(el)
            except ValueError:
                pass  # already detached via an ancestor
    # 2. ad elements under body (preprocess.ts:95-109); the ad pass can
    # splice the body itself out of the documentElement (root-inclusive
    # scan — faithful to the reference)
    for el in ad_hits:
        parent = el.parent
        if parent is not None:
            try:
                parent.children.remove(el)
            except ValueError:
                pass
    # 3. invalidate memoized inner text populated before preprocessing
    for node in dirty:
        node.txt_cache = None
        node.norm_cache = None
    return doc
