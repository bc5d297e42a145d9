"""Yahoo fixture parity (mirrors /root/reference/src/test/nav-links.test.ts):
the reference's only committed real-page unit fixture, through the same
extractAriaTree-equivalent pipeline (preprocess → compressed aria tree)."""

import pytest

from readability_core.aria import (
    aria_tree_to_string,
    assign_weights,
    build_aria_tree,
    calculate_node_weight,
    count_links,
    filter_nodes_by_weight,
    get_node_depth,
)
from readability_core.preprocess import preprocess_document
from readability_core.vdom import parse_html

pytestmark = pytest.mark.requires_reference("src/test/fixtures/yahoo.html")

YAHOO = "/root/reference/src/test/fixtures/yahoo.html"


@pytest.fixture(scope="module")
def tree():
    html = open(YAHOO, encoding="utf-8", errors="replace").read()
    # extractAriaTree: parse → preprocess → compressed tree
    # (reference: src/extract/extract.ts:717-772)
    doc = parse_html(html)
    preprocess_document(doc)
    return build_aria_tree(doc, compress=True)


def test_tree_extracts(tree):
    assert tree["root"] is not None
    assert tree["node_count"] > 0
    s = aria_tree_to_string(tree)
    assert "main" in s
    assert "region" in s
    assert "link" in s
    assert "href=" in s


def test_link_count(tree):
    n = count_links(tree["root"])
    assert n > 0
    s = aria_tree_to_string(tree)
    assert n >= s.count("[href=")


def test_depth(tree):
    assert get_node_depth(tree["root"]) >= 3


def test_weights_and_filter(tree):
    def find_link(node):
        if node["type"] == "link":
            return node
        for c in node.get("children") or []:
            found = find_link(c)
            if found:
                return found
        return None

    link = find_link(tree["root"])
    assert link is not None
    w = calculate_node_weight(link, depth=2, index_in_parent=1,
                              sibling_count=5)
    assert 0 < w
    weighted = assign_weights(tree["root"])
    filtered = filter_nodes_by_weight(weighted, 10)
    assert filtered is not None
    assert count_links(filtered) <= 10
