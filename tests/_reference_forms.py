"""Reference forms that only tests use: the oracles the product forms are
checked against.

- ``parse_html_stdlib``: the html.parser-driven tree builder.  The
  production parser (``readability_core.htmltok.build_tree``) is a fused
  reimplementation of it; tests/test_tokenizer_diff.py asserts the two
  build equal trees.
- ``_with_cosine``: the inline cosine over both HOF norm folds, which
  ``similarity._with_cosine_pre`` must match bit for bit.
- ``_shingle_expr``: 3-token shingles as one array expression, the form
  ``dedup._shingle_rows`` replaced with a zip-explode.

Keeping them here keeps ``html.parser`` out of every Python worker.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from readability_core.vdom import (
    MAX_DOM_DEPTH,
    OPEN_IMPLIES_CLOSE,
    VOID_ELEMENTS,
    VDocument,
    VElement,
    VText,
)
from readability_spark.ops.similarity import _DOT, _NORM


class _TreeBuilder(HTMLParser):
    """Streaming tokenizer → VDocument tree, with htmlparser2-style recovery."""

    def __init__(self, doc: VDocument):
        super().__init__(convert_charrefs=True)
        self.doc = doc
        self.current: VElement = doc.document_element
        self.body_found = False
        self.html_found = False
        # stack of open element tag names (excluding html/body sentinels)
        self.stack: list[VElement] = []

    def updatepos(self, i: int, j: int) -> int:
        # html.parser counts newlines on every token boundary to serve
        # getpos(), which this builder never reads — ~5% of parse time on
        # fixture pages.  Contract: goahead resumes from the returned j.
        return j

    # -- open ---------------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list) -> None:
        self._open(tag, attrs)

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        # self-closing syntax: honored only for void elements (htmlparser2
        # default recognizeSelfClosing=false); non-void stays open
        self._open(tag, attrs)

    def _open(self, tag: str, attrs: list) -> None:
        doc = self.doc
        # implied end tags
        closers = OPEN_IMPLIES_CLOSE.get(tag)
        if closers is not None:
            while self.stack and self.stack[-1].tag in closers:
                self._close_top()

        if tag in ("html", "body"):
            el = doc.document_element if tag == "html" else doc.body
            seen = set()
            for k, v in attrs:  # first occurrence in THIS tag wins,
                if k in seen:   # but overwrites attrs from an earlier tag
                    continue
                seen.add(k)
                el.attrs[k] = v if v is not None else ""
        if tag == "html":
            self.html_found = True
            self.current = doc.document_element
            return
        if tag == "body":
            el = doc.body
            if not self.body_found:
                doc.document_element.children.append(doc.body)
                self.body_found = True
            self.current = el
            return

        # first occurrence wins AND insertion order must match document
        # order (attr order is serialized — a reversed comprehension breaks
        # golden hashes)
        amap: dict = {}
        for k, v in attrs:
            if k not in amap:
                amap[k] = v if v is not None else ""
        el = VElement(tag, amap, parent=self.current)
        self.current.children.append(el)
        if tag not in VOID_ELEMENTS:
            if len(self.stack) >= MAX_DOM_DEPTH:
                # refuse to nest deeper: adversarial 10^5-deep DOMs would
                # otherwise blow the recursive renderers; further children
                # attach at the cap level (flattened), flagged on the doc
                self.doc.depth_capped = True
                return
            self.current = el
            self.stack.append(el)

    # -- text ---------------------------------------------------------------
    def handle_data(self, data: str) -> None:
        if data:
            self.current.children.append(VText(data, parent=self.current))

    # -- close --------------------------------------------------------------
    def _close_top(self) -> None:
        el = self.stack.pop()
        parent = el.parent
        self.current = parent if parent is not None else self.doc.document_element

    def handle_endtag(self, tag: str) -> None:
        # htmlparser2's Parser emits close events only for MATCHED tags —
        # a stray </html> or </body> with no corresponding open tag is
        # ignored, never an unwind-everything (which would reattach all
        # following content to the documentElement)
        if tag == "html":
            if not self.html_found:
                return
            # unwind everything; html close returns to documentElement
            while self.stack:
                self._close_top()
            self.current = self.doc.document_element
            return
        if tag == "body":
            if not self.body_found:
                return
            while self.stack:
                self._close_top()
            self.current = self.doc.document_element
            return
        if tag in VOID_ELEMENTS:
            if tag == "br":
                # </br> acts like <br>
                self.current.children.append(
                    VElement("br", {}, parent=self.current))
            return
        # find matching open tag in stack
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == tag:
                while len(self.stack) > i:
                    self._close_top()
                return
        if tag == "p":
            # stray </p> synthesizes an empty paragraph
            self.current.children.append(VElement("p", {}, parent=self.current))

    # ignore comments / decls / PIs entirely (they produce no nodes)
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


def parse_html_stdlib(html: str, base_uri: str = "about:blank") -> VDocument:
    """Reference implementation of ``vdom.parse_html`` driven by CPython's
    html.parser.  Kept solely as the differential-canary oracle — a stdlib
    contract change OR a fast-tokenizer bug fails the diff suite loudly."""
    doc = VDocument(base_uri)
    builder = _TreeBuilder(doc)
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # lenient: keep whatever tree was built before the tokenizer choked
        pass
    return doc


def _with_cosine(joined: DataFrame) -> DataFrame:
    """cos = dot / (norm(a) * norm(b)), both norms folded per joined row."""
    return joined.withColumn(
        "cos",
        F.expr(_DOT) / (F.expr(_NORM.format(c="a")) *
                        F.expr(_NORM.format(c="b"))))


def _shingle_expr() -> str:
    """3-token shingles of the token array — GENUINELY empty when < 3
    tokens.  The guard lives in the expression itself: sequence(0, -1)
    would DESCEND ([0, -1]) and fabricate phantom shingles from NULL /
    negative indexing, so callers must not rely on pre-filters alone."""
    return ("case when size(toks) >= 3 then "
            "transform(sequence(0, size(toks) - 3), "
            "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) "
            "else array() end")
