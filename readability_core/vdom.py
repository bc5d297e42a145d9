"""Virtual DOM: node types + lenient HTML parser.

Reimplements, from public behavior only, the data model and parser semantics
of the reference extraction library (reference: /root/reference/src/types.ts:21-45,
/root/reference/src/parsers/htmlparser2.ts:18-132):

- A ``VDocument`` always owns a pre-created ``documentElement`` (<html>) and
  ``body`` (<body>).  An explicit ``<html>``/``<body>`` tag in the input only
  merges attributes onto these pre-created nodes; the body is attached to the
  documentElement the first time a ``<body>`` open tag is seen.  Content that
  appears when no ``<body>`` was opened hangs directly off the documentElement
  (fragment inputs therefore have an *empty* body — matching the reference).
- Tag and attribute names are lowercased; the first occurrence of a duplicated
  attribute wins; bare attributes get value ``""``.
- Lenient recovery mirrors htmlparser2's public behavior: implied end tags
  (``<p>`` closes ``<p>``, ``<li>`` closes ``<li>``, table-section rules, …),
  void elements never take children, a stray ``</p>`` synthesizes an empty
  paragraph, ``</br>`` acts like ``<br>``, and self-closing syntax on non-void
  tags is ignored (children nest inside).

The tree is plain Python objects with ``__slots__`` — it exists only inside a
pandas-UDF batch on the Spark side; Spark never sees node objects.
"""

from __future__ import annotations

from typing import Optional, Union


class VText:
    __slots__ = ("text", "parent")
    nodeType = "text"

    def __init__(self, text: str, parent: Optional["VElement"] = None):
        self.text = text
        self.parent = parent

    def __repr__(self) -> str:  # pragma: no cover
        return f"VText({self.text[:30]!r})"


class VElement:
    __slots__ = ("tag", "attrs", "children", "parent", "score", "txt_cache",
                 "norm_cache")
    nodeType = "element"

    def __init__(self, tag: str, attrs: Optional[dict] = None,
                 parent: Optional["VElement"] = None):
        self.tag = tag
        self.attrs = attrs if attrs is not None else {}
        self.children: list[VNode] = []
        self.parent = parent
        # readability.contentScore slot; None = not initialized
        self.score: Optional[float] = None
        # memoized inner text (raw + whitespace-normalized) — valid only
        # while the tree is immutable; preprocess invalidates
        self.txt_cache: Optional[str] = None
        self.norm_cache: Optional[str] = None

    @property
    def class_name(self) -> str:
        return self.attrs.get("class", "")

    @property
    def id(self) -> str:
        return self.attrs.get("id", "")

    def __repr__(self) -> str:  # pragma: no cover
        return f"VElement(<{self.tag}> {len(self.children)} children)"


VNode = Union[VElement, VText]


class VDocument:
    __slots__ = ("document_element", "body", "base_uri", "document_uri",
                 "depth_capped")

    def __init__(self, base_uri: str = "about:blank"):
        self.document_element = VElement("html")
        self.body = VElement("body", parent=self.document_element)
        self.base_uri = base_uri
        self.document_uri = base_uri
        # set when the parser refused to nest deeper than MAX_DOM_DEPTH
        self.depth_capped = False


# --- lenient-recovery tables (public htmlparser2 behavior) -----------------

# maximum element nesting the parser will build; real pages are < 100 deep,
# and the recursive renderers need a hard bound to be executor-safe
MAX_DOM_DEPTH = 512

VOID_ELEMENTS = frozenset(
    "area base basefont br col command embed frame hr img input isindex "
    "keygen link menuitem meta param source track wbr".split()
)

_FORM_TAGS = frozenset(
    "input option optgroup select button datalist textarea".split()
)
_P_CLOSERS = frozenset(["p"])

OPEN_IMPLIES_CLOSE: dict[str, frozenset] = {
    "tr": frozenset(["tr", "th", "td"]),
    "th": frozenset(["th"]),
    "td": frozenset(["thead", "th", "td"]),
    "body": frozenset(["head", "link", "script"]),
    "li": frozenset(["li"]),
    "p": _P_CLOSERS,
    "h1": _P_CLOSERS, "h2": _P_CLOSERS, "h3": _P_CLOSERS,
    "h4": _P_CLOSERS, "h5": _P_CLOSERS, "h6": _P_CLOSERS,
    "select": _FORM_TAGS, "input": _FORM_TAGS, "output": _FORM_TAGS,
    "button": _FORM_TAGS, "datalist": _FORM_TAGS, "textarea": _FORM_TAGS,
    "option": frozenset(["option"]),
    "optgroup": frozenset(["optgroup", "option"]),
    "dd": frozenset(["dt", "dd"]),
    "dt": frozenset(["dt", "dd"]),
    "rt": frozenset(["rt", "rp"]),
    "rp": frozenset(["rt", "rp"]),
    "tbody": frozenset(["thead", "tbody"]),
    "tfoot": frozenset(["thead", "tbody"]),
}
for _t in ("address article aside blockquote details div dl fieldset "
           "figcaption figure footer form header hr main nav ol pre "
           "section table ul").split():
    OPEN_IMPLIES_CLOSE[_t] = _P_CLOSERS


def parse_html(html: str, base_uri: str = "about:blank") -> VDocument:
    """Parse HTML into a VDocument (reference: src/parsers/htmlparser2.ts:18-132).

    Uses the fused single-pass tokenizer (htmltok.build_tree); the
    html.parser-driven builder it reimplements is ``parse_html_stdlib`` in
    tests/_reference_forms.py, and tests/test_tokenizer_diff.py asserts the
    two build equal trees."""
    from .htmltok import build_tree
    doc = VDocument(base_uri)
    try:
        build_tree(html, doc)
    except Exception:
        # lenient: keep whatever tree was built before the tokenizer choked
        pass
    return doc


# --- serialization ----------------------------------------------------------

SELF_CLOSING_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track "
    "wbr".split()
)


def serialize_to_html(node: VNode) -> str:
    """VDOM → HTML string (reference: src/parsers/htmlparser2.ts:140-181).

    Attribute values are emitted RAW: the reference's quote handling is
    `value.replace(/"/g, '"')` (htmlparser2.ts:167) — a no-op replacing a
    quote with a quote — and text nodes are raw too.  Quirk preserved per
    invariant 4 (escaped serialization lives in render.to_html, which
    mirrors format.ts's escapeHTML)."""
    if node.nodeType == "text":
        return node.text
    attrs = " ".join(
        f'{k}="{v}"' for k, v in node.attrs.items()
    )
    astr = f" {attrs}" if attrs else ""
    if node.tag in SELF_CLOSING_TAGS and not node.children:
        return f"<{node.tag}{astr}/>"
    inner = "".join(serialize_to_html(c) for c in node.children)
    return f"<{node.tag}{astr}>{inner}</{node.tag}>"
