"""Property-based robustness tests (hypothesis).

The per-turn contract at 10^12 scale: ANY byte string in the text column
must produce exactly one well-formed record, deterministically, without
throwing.  These fuzz that contract directly.
"""

from hypothesis import assume, example, given, settings, strategies as st

from readability_core import extract
from readability_core.render import stringify, to_markdown
from readability_core.serializer import deserialize_tree, serialize_tree
from readability_core.vdom import parse_html, serialize_to_html

# HTML-ish soup: tags, attributes, entities, brokenness
_tag = st.sampled_from(
    ["div", "p", "a", "span", "h1", "ul", "li", "table", "tr", "td",
     "article", "main", "nav", "script", "img", "br", "body", "html"])
_attr = st.sampled_from(
    ['class="x"', 'id="y"', 'href="/z"', "hidden", 'style="display: none"',
     'aria-label="l"', 'data-ad', ""])
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)


@st.composite
def html_soup(draw):
    parts = []
    for _ in range(draw(st.integers(0, 25))):
        kind = draw(st.integers(0, 5))
        if kind == 0:
            parts.append(f"<{draw(_tag)} {draw(_attr)}>")
        elif kind == 1:
            parts.append(f"</{draw(_tag)}>")
        elif kind == 2:
            parts.append(draw(_text))
        elif kind == 3:
            parts.append(f"<!-- {draw(_text)} -->")
        elif kind == 4:
            parts.append("&amp; &lt; &#65; &bogus;")
        else:
            parts.append(draw(st.sampled_from(["<", ">", "</", "<x", "=\""])))
    return "".join(parts)


@settings(max_examples=60, deadline=None)
@given(html_soup())
def test_extract_never_throws_and_is_deterministic(html):
    a = extract(html)
    b = extract(html)
    assert a == b
    assert a["page_type"] in ("article", "other")
    assert isinstance(a["extracted_text"], str)
    assert isinstance(a["node_count"], int)
    assert a["char_yield"] == len(a["extracted_text"])


def _serialization_is_stable(node):
    """True iff serialize_to_html(node) re-parses to the same tree.

    The reference emits attribute values and text RAW (its quote handling,
    htmlparser2.ts:167, replaces '"' with '"' — a no-op), so a '"' inside an
    attribute value or a '<' inside a text node produces HTML that re-parses
    differently.  That quirk is preserved (vdom.py serialize_to_html), which
    means the fixpoint property only holds for trees without those payloads.
    """
    if node.nodeType == "text":
        return "<" not in node.text
    if any('"' in v or "<" in v or ">" in v for v in node.attrs.values()):
        return False
    return all(_serialization_is_stable(c) for c in node.children)


@settings(max_examples=60, deadline=None)
@given(html_soup())
@example(html="<x\x1f0")   # \x1f after a tag name (htmltok fast path)
def test_parse_serialize_reaches_fixpoint(html):
    # parse → serialize may normalize; a second round-trip must be identity
    # — for trees whose payloads survive the reference's raw serialization
    # quirk (see _serialization_is_stable).
    d1 = parse_html(html)
    h1 = serialize_to_html(d1.document_element)
    d2 = parse_html(h1)
    assume(_serialization_is_stable(d2.document_element))
    h2 = serialize_to_html(d2.document_element)
    d3 = parse_html(h2)
    assert serialize_to_html(d3.document_element) == h2


def test_raw_attr_quirk_breaks_fixpoint_like_reference():
    """Documents why the fixpoint property is conditional: the reference's
    serializer (htmlparser2.ts:140-181) emits attribute values raw — its
    quote-escape is a no-op — so a '"' inside an attribute value yields HTML
    that re-parses into a different tree.  We preserve that quirk rather
    than diverge (CLAUDE.md invariant 4)."""
    d = parse_html('<x="<div class="x"><x')
    h1 = serialize_to_html(d.document_element)
    # the raw quote is emitted verbatim (no &quot; escaping)…
    assert "&quot;" not in h1
    # …and the round trip is NOT tree-preserving for this input
    h2 = serialize_to_html(parse_html(h1).document_element)
    assert h1 != h2


@settings(max_examples=40, deadline=None)
@given(html_soup())
def test_snapshot_roundtrip_preserves_renders(html):
    doc = parse_html(html)
    out = deserialize_tree(serialize_tree(doc.document_element))
    r = out["root"]
    assert serialize_to_html(r) == serialize_to_html(doc.document_element)
    assert stringify(r) == stringify(doc.document_element)
    assert to_markdown(r) == to_markdown(doc.document_element)


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=200))
def test_arbitrary_text_payloads(text):
    r = extract(text)
    assert r["page_type"] in ("article", "other")
    assert isinstance(r["aria_tree"], str)


@settings(max_examples=40, deadline=None)
@given(html_soup())
def test_span_offsets_slice_to_root_text(html):
    """When spans are reported, full_doc_text[span_start:span_end] must be
    exactly the root subtree's raw text — validates extract_from_doc's span
    search against independent traversals of the same tree."""
    from readability_core.extract import extract_full
    from readability_core.render import extract_text_content

    rec, doc, root, _cands = extract_full(html)
    if rec["span_start"] >= 0:
        full = extract_text_content(doc.document_element)
        assert (full[rec["span_start"]:rec["span_end"]]
                == extract_text_content(root))
    elif root is not None:
        # no span ⇒ the root text genuinely does not occur in the doc text
        # (detached root) or is empty
        rt = extract_text_content(root)
        assert not rt or rt not in extract_text_content(doc.document_element)
