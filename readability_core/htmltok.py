"""Single-pass HTML tokenizer + VDOM tree builder (the parse hot path).

Byte-exact reimplementation of the combined ``feed(html); close()`` behavior
of CPython's ``html.parser.HTMLParser`` (``convert_charrefs=True``) fused
with the html.parser tree builder (``_TreeBuilder`` in
tests/_reference_forms.py), specialized for one-shot parsing where the
whole document is available as a single string.  The
semantics target is the reference parser's public behavior
(reference: /root/reference/src/parsers/htmlparser2.ts:18-132); the
*tokenization* quirks (bogus-comment recovery, tolerant attribute grammar,
CDATA content mode for script/style, charref conversion) deliberately match
CPython's tolerant parser, which rounds 1-4 locked in via the golden-hash
corpus.

Why this exists: ``html.parser`` routes every token through 4-5 Python
frames (``goahead`` -> ``parse_starttag`` -> ``check_for_whole_start_tag``
-> ``handle_starttag`` -> builder) plus per-token bookkeeping
(``updatepos``, ``__starttag_text``) that the tree builder never reads.
Fusing the loop removes those frames.

All regexes below are *copies* (not imports) of the CPython 3.11 ones, so a
stdlib refactor can't silently change parsing.  Semantic drift in either
direction is caught loudly by tests/test_tokenizer_diff.py, which asserts
tree-equality between this tokenizer and the html.parser-driven builder
(``parse_html_stdlib`` in tests/_reference_forms.py) over the full fixture
corpus plus adversarial fragments (this also covers the old ADVICE concern
about the ``updatepos`` override contract).

Fused feed+close equivalences this file relies on (each one verified by the
differential suite):

- Trailing text with a bare ``&`` near EOF: ``feed`` defers (possible split
  charref), ``close`` then emits ``unescape(rest)`` -- net effect is always
  ``unescape(rest)``.
- A construct that returns "incomplete" (-1) with the full document in hand
  returns -1 again inside ``close``; ``goahead(end=1)`` then applies the
  recovery rule: consume through the next ``>`` (inclusive), else through
  the next ``<`` (exclusive), else one char, and emit that slice as
  *unescaped text*.  ``recover`` below is exactly that rule.
- Unclosed ``<script>``/``<style>`` content at EOF is dropped (html.parser
  buffers CDATA forever waiting for the close tag; ``close`` skips the
  final flush while in CDATA mode).
- In CDATA mode the scanner only stops at a full ``</script\\s*>`` match;
  the strict ``endtagfind`` re-check can still reject it (re.I casefolding
  admits names like ``ſcript``), in which case the parser keeps it as data.
- ``AssertionError`` paths inside marked-section parsing abort the whole
  feed; ``parse_html`` keeps the partial tree (mirrored by ``return``).

The fast-path regexes (``_fast_start``/``_fast_close``) match a strict
subset of the tolerant grammar -- ASCII tag name, whitespace-separated
attributes with quoted (or no) values, optional ``/>`` -- chosen so that on
any string they match, the tolerant machinery provably produces the same
(tag, attrs, endpos, self-closing) result; everything else falls through to
the exact tolerant path.
"""

from __future__ import annotations

import re
from html import unescape

from .vdom import (
    MAX_DOM_DEPTH,
    OPEN_IMPLIES_CLOSE,
    VDocument,
    VElement,
    VOID_ELEMENTS,
    VText,
)

# --- CPython 3.11 html.parser / _markupbase regexes (verbatim copies) ------

_tagfind_tolerant = re.compile(r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*')
_attrfind_tolerant = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
_locatestarttagend_tolerant = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_endtagfind = re.compile(r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>')
_commentclose = re.compile(r'--\s*>')
_declname = re.compile(r'[a-zA-Z][-_.a-zA-Z0-9]*\s*')
_markedsectionclose = re.compile(r']\s*]\s*>')
_msmarkedsectionclose = re.compile(r']\s*>')

_CDATA_CLOSE = {
    "script": re.compile(r'</\s*script\s*>', re.IGNORECASE),
    "style": re.compile(r'</\s*style\s*>', re.IGNORECASE),
}
_MARKED_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MARKED_MS = frozenset({"if", "else", "endif"})

# --- fast-path regexes (strict subset of the tolerant grammar) --------------

# attr name: no whitespace / '=' / '/' / '>' / quotes / '<' — a subset of
# attrfind_tolerant's [^\s/>][^\s/=>]* with the lookbehind satisfied by the
# mandatory preceding \s+
_ATTR_NAME = r'[^\s=/>\'"<][^\s=/>]*'
# the tag name must end where tagfind_tolerant's does: \s also matches \v,
# \x1c-\x1f, \xa0 and other Unicode spaces, which stay inside its name
_fast_start = re.compile(
    r'<([a-zA-Z][a-zA-Z0-9]*)(?=[\t\n\r\f />])'
    r'((?:\s+' + _ATTR_NAME + r'(?:\s*=\s*(?:\'[^\']*\'|"[^"]*"))?)*)'
    r'\s*(/?)>')
_fast_attr = re.compile(
    r'\s+(' + _ATTR_NAME + r')(?:\s*=\s*(?:\'([^\']*)\'|"([^"]*)"))?')
_fast_close = re.compile(r'</([a-zA-Z][a-zA-Z0-9]*)\s*>')

_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyz"
                           "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_BOGUS_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz=/"
                        "ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def build_tree(s: str, doc: VDocument) -> None:
    """Parse ``s`` into ``doc`` (one-shot feed+close, tree-builder fused)."""
    n = len(s)
    i = 0
    de = doc.document_element
    body = doc.body
    current: VElement = de
    stack: list[VElement] = []
    body_found = False
    html_found = False
    cdata_elem: str | None = None
    find = s.find
    startswith = s.startswith
    implies_close = OPEN_IMPLIES_CLOSE.get

    # -- rare-path tree callbacks (_TreeBuilder in tests/_reference_forms.py)
    # the common cases (plain element open, top-of-stack close, text append)
    # are inlined in the scan loop; these closures keep the rare branches
    # out of the hot path

    def open_tag(tag: str, amap: dict) -> None:
        # amap is already first-occurrence-wins with ""-for-bare values
        nonlocal current, body_found, html_found
        closers = implies_close(tag)
        if closers is not None:
            while stack and stack[-1].tag in closers:
                el = stack.pop()
                parent = el.parent
                current = parent if parent is not None else de
        if tag == "html":
            de.attrs.update(amap)  # attrs from THIS tag overwrite earlier ones
            html_found = True
            current = de
            return
        if tag == "body":
            body.attrs.update(amap)
            if not body_found:
                de.children.append(body)
                body_found = True
            current = body
            return
        el = VElement(tag, amap, current)
        current.children.append(el)
        if tag not in VOID_ELEMENTS:
            if len(stack) >= MAX_DOM_DEPTH:
                doc.depth_capped = True
                return
            current = el
            stack.append(el)

    def end_tag(tag: str) -> None:
        nonlocal current
        if tag == "html":
            if not html_found:
                return
            del stack[:]
            current = de
            return
        if tag == "body":
            if not body_found:
                return
            del stack[:]
            current = de
            return
        if tag in VOID_ELEMENTS:
            if tag == "br":
                current.children.append(VElement("br", {}, parent=current))
            return
        for idx in range(len(stack) - 1, -1, -1):
            if stack[idx].tag == tag:
                while len(stack) > idx:
                    el = stack.pop()
                    parent = el.parent
                    current = parent if parent is not None else de
                return
        if tag == "p":
            current.children.append(VElement("p", {}, parent=current))

    def recover(pos: int) -> int:
        # goahead(end=1) incomplete-construct recovery (see module docstring)
        k = find('>', pos + 1)
        if k >= 0:
            k += 1
        else:
            k = find('<', pos + 1)
            if k < 0:
                k = pos + 1
        chunk = s[pos:k]
        if '&' in chunk:
            chunk = unescape(chunk)
        if chunk:
            current.children.append(VText(chunk, current))
        return k

    # -- main scan loop ------------------------------------------------------

    while i < n:
        if cdata_elem is None:
            j = find('<', i)
            if j < 0:
                if i < n:
                    chunk = s[i:]
                    if '&' in chunk:
                        chunk = unescape(chunk)
                    if chunk:
                        current.children.append(VText(chunk, current))
                return
            if i < j:
                chunk = s[i:j]
                if '&' in chunk:
                    chunk = unescape(chunk)
                if chunk:
                    current.children.append(VText(chunk, current))
            i = j
        else:
            m = _CDATA_CLOSE[cdata_elem].search(s, i)
            if m is None:
                # unclosed CDATA content at EOF is dropped (parser buffers)
                return
            j = m.start()
            if i < j:
                # raw: no charref conversion in CDATA
                current.children.append(VText(s[i:j], current))
            em = _endtagfind.match(s, j)
            gtpos = find('>', j + 1) + 1  # '>' exists: the close pattern has one
            if em is None or em.group(1).lower() != cdata_elem:
                # re.I casefold can match names the strict ASCII endtagfind
                # rejects (e.g. '</ſcript>'); parser keeps it as data
                current.children.append(VText(s[j:gtpos], current))
                i = gtpos
                continue
            end_tag(cdata_elem)
            cdata_elem = None
            i = gtpos
            continue

        # s[i] == '<'
        ip1 = i + 1
        c = s[ip1] if ip1 < n else ''
        if c in _ASCII_LETTERS:
            # ---- start tag ----
            fm = _fast_start.match(s, i)
            if fm is not None:
                tag = fm.group(1)
                if not tag.islower():
                    tag = tag.lower()
                amap = {}
                # attrs matched in place via the group-2 span — no
                # attribute-string slice per tag (the \s+ prefix of
                # _fast_attr anchors identically inside the span)
                a0, a1 = fm.span(2)
                if a1 > a0:
                    for am in _fast_attr.finditer(s, a0, a1):
                        name, v1, v2 = am.group(1, 2, 3)
                        if not name.islower():
                            name = name.lower()
                        if name not in amap:
                            v = v1 if v1 is not None else v2
                            if v:
                                amap[name] = unescape(v) if '&' in v else v
                            else:
                                amap[name] = ""
                # inline element open (hot path)
                closers = implies_close(tag)
                if closers is not None:
                    while stack and stack[-1].tag in closers:
                        el = stack.pop()
                        parent = el.parent
                        current = parent if parent is not None else de
                if tag == "html" or tag == "body":
                    open_tag(tag, amap)  # idempotent closers re-check inside
                else:
                    el = VElement(tag, amap, current)
                    current.children.append(el)
                    if tag not in VOID_ELEMENTS:
                        if len(stack) >= MAX_DOM_DEPTH:
                            doc.depth_capped = True
                        else:
                            current = el
                            stack.append(el)
                if fm.start(3) == fm.end(3) and (tag == "script"
                                                 or tag == "style"):
                    cdata_elem = tag  # '/>' form never enters CDATA mode
                i = fm.end()
                continue
            # ---- tolerant start tag (parse_starttag semantics) ----
            m = _locatestarttagend_tolerant.match(s, i)
            j = m.end()
            nxt = s[j:j + 1]
            if nxt == '>':
                endpos = j + 1
            elif nxt == '/':
                if startswith('/>', j):
                    endpos = j + 2
                else:
                    i = recover(i)  # '/' then non-'>': incomplete per parser
                    continue
            elif nxt == '' or nxt in _BOGUS_NEXT:
                i = recover(i)      # EOF inside tag / mid-attribute
                continue
            else:
                endpos = j if j > i else i + 1
            tm = _tagfind_tolerant.match(s, i + 1)
            k = tm.end()
            tag = tm.group(1)
            if not tag.islower():
                tag = tag.lower()
            amap = {}
            while k < endpos:
                am = _attrfind_tolerant.match(s, k)
                if am is None:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = ""
                elif attrvalue[:1] == '\'' == attrvalue[-1:] or \
                        attrvalue[:1] == '"' == attrvalue[-1:]:
                    attrvalue = attrvalue[1:-1]
                if attrvalue and '&' in attrvalue:
                    attrvalue = unescape(attrvalue)
                if not attrname.islower():
                    attrname = attrname.lower()
                if attrname not in amap:
                    amap[attrname] = attrvalue
                k = am.end()
            end = s[k:endpos].strip()
            if end != '>' and end != '/>':
                # bogus tag source emitted raw (parse_starttag's handle_data)
                current.children.append(VText(s[i:endpos], current))
                i = endpos
                continue
            open_tag(tag, amap)
            if end == '>' and (tag == "script" or tag == "style"):
                cdata_elem = tag
            i = endpos
        elif c == '/':
            # ---- end tag ----
            fm = _fast_close.match(s, i)
            if fm is not None:
                tag = fm.group(1)
                if not tag.islower():
                    tag = tag.lower()
                # inline the common top-of-stack close
                if stack and stack[-1].tag == tag:
                    el = stack.pop()
                    parent = el.parent
                    current = parent if parent is not None else de
                else:
                    end_tag(tag)
                i = fm.end()
                continue
            gt = find('>', i + 1)
            if gt < 0:
                i = recover(i)
                continue
            m = _endtagfind.match(s, i)
            if m is not None:
                end_tag(m.group(1).lower())
                i = gt + 1
                continue
            nm = _tagfind_tolerant.match(s, i + 2)
            if nm is None:
                if s[i:i + 3] == '</>':
                    i += 3
                else:
                    gt2 = find('>', i + 2)  # bogus comment (ignored)
                    if gt2 < 0:
                        i = recover(i)
                    else:
                        i = gt2 + 1
                continue
            end_tag(nm.group(1).lower())
            # '>' after the name always exists: the search above found one
            # and the tolerant name/trailer classes cannot cross it
            i = find('>', nm.end()) + 1
        elif c == '!':
            if startswith('<!--', i):
                m = _commentclose.search(s, i + 4)
                if m is None:
                    i = recover(i)
                else:
                    i = m.end()       # comment content never becomes nodes
            elif startswith('<![', i):
                # marked section (_markupbase.parse_marked_section)
                if i + 3 == n:
                    i = recover(i)
                    continue
                dm = _declname.match(s, i + 3)
                if dm is None:
                    return            # AssertionError path: abort the feed
                name = dm.group().strip().lower()
                if i + 3 + len(dm.group()) == n:
                    i = recover(i)    # name runs to EOF: incomplete
                    continue
                if name in _MARKED_STD:
                    mm = _markedsectionclose.search(s, i + 3)
                elif name in _MARKED_MS:
                    mm = _msmarkedsectionclose.search(s, i + 3)
                else:
                    return            # AssertionError path: abort the feed
                if mm is None:
                    i = recover(i)
                else:
                    i = mm.end()
            elif s[i:i + 9].lower() == '<!doctype':
                gt = find('>', i + 9)
                if gt < 0:
                    i = recover(i)
                else:
                    i = gt + 1
            else:
                gt = find('>', i + 2)  # bogus comment (ignored)
                if gt < 0:
                    i = recover(i)
                else:
                    i = gt + 1
        elif c == '?':
            gt = find('>', i + 2)      # processing instruction (ignored)
            if gt < 0:
                i = recover(i)
            else:
                i = gt + 1
        else:
            # lone '<': data mid-stream; at EOF close() flushes it as data
            current.children.append(VText('<', current))
            if i + 1 < n:
                i += 1
            else:
                return
