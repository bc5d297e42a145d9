"""Differential canary: fast tokenizer ≡ html.parser-driven builder.

The production parse path (readability_core.htmltok.build_tree) is a fused
reimplementation of CPython html.parser's feed()+close() semantics; the
stdlib-driven builder (tests/_reference_forms.py) is kept as the oracle.  Any
divergence — a fast-tokenizer bug OR a CPython html.parser contract change
(the old ADVICE updatepos-canary concern) — fails here loudly instead of
surfacing as golden-hash drift.

Covers: the full 128-page fixture corpus, one adversarial fragment per
fused-equivalence branch (EOF recovery, CDATA quirks, bogus constructs,
marked-section aborts), and a hypothesis fuzz over HTML-ish token soup.
"""

import os

import pytest
from hypothesis import given, settings, strategies as st

from _reference_forms import parse_html_stdlib
from readability_core.vdom import parse_html


def tree_sig(doc):
    out = [("cap", doc.depth_capped)]

    def walk(node):
        if node.nodeType == "text":
            out.append(("T", node.text))
        else:
            out.append(("E", node.tag, tuple(node.attrs.items())))
            for c in node.children:
                walk(c)
            out.append(("/E",))

    walk(doc.document_element)
    # fragment inputs leave the body detached from the documentElement
    out.append(("BODY",))
    walk(doc.body)
    return out


def assert_equal_parse(html):
    assert tree_sig(parse_html(html)) == tree_sig(parse_html_stdlib(html)), \
        f"tokenizer divergence on {html[:120]!r}"


FIXTURES = "/root/reference/test/test-pages"


@pytest.mark.requires_reference
def test_full_fixture_corpus_tree_equal():
    for case in sorted(os.listdir(FIXTURES)):
        path = os.path.join(FIXTURES, case, "source.html")
        if not os.path.exists(path):
            continue
        html = open(path, encoding="utf-8", errors="replace").read()
        s1 = tree_sig(parse_html(html))
        s2 = tree_sig(parse_html_stdlib(html))
        assert s1 == s2, f"divergence on fixture {case}"


ADVERSARIAL = [
    # --- EOF / recovery branches -------------------------------------------
    "text with bare ampersand &am",           # deferred-charref flush
    "text &amp; more &#65; &#x41; &#junk &x &",
    "<!-- unterminated comment",
    "<!-- comment with > inside, no close",
    "<div class=\"unterminated",
    "<div foo",                                # EOF mid-attribute
    "tail<",                                   # lone '<' at EOF
    "a < b",                                   # lone '<' mid-stream
    "<?pi unterminated",
    "<!doctype unterminated",
    "<![CDATA[ unterminated",
    "</div",                                   # end tag, no '>'
    # --- CDATA content mode ------------------------------------------------
    "<script>var a = '<div>not a tag</div>';</script>after",
    "<script>unclosed cdata at eof",
    "<script>x</script x>y</script>z",         # bogus close stays data
    "<script>a</SCRIPT>b",                     # case-insensitive close
    "<script>a</ script >b",                   # spaced close
    "<style>p { color: red; } </style>tail",
    "<script/>not cdata</script>after",        # XHTML form skips CDATA mode
    "<script src='x'>a&amp;b</script>",        # no charref conversion inside
    # --- declarations / bogus constructs -----------------------------------
    "<!doctype html><p>x</p>",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML 1.0//EN\"><p>y</p>",
    "<!foo bar><p>z</p>",                      # bogus comment
    "</>x",                                    # empty end tag
    "</123>x",                                 # bogus end-tag comment
    "</#fragment>x",
    "<![CDATA[ raw ]]>tail",
    "<![if IE]>conditional<![endif]>tail",
    "<![bogus content ]]>tail",                # unknown keyword: feed aborts
    "before<![unknown]>after",
    "<?php echo 'x'; ?>tail",
    # --- tolerant start-tag grammar ----------------------------------------
    "<DIV CLASS=\"A\" Class='b'>dup</DIV>",
    "<div a=1 b='2' c=\"3\" d e =  f>bare</div>",
    "<div a==\"x\">multi-eq</div>",
    "<div 'quoted'=\"v\">weird name</div>",
    "<div a<b>lt in attr name</div>",
    "<a href=\"x&amp;y\" title='&#65;'>ent</a>",
    "<a href=\"a>b\">gt in value</a>",
    "<div / >odd slash</div>",
    "<div/x>slash run</div>",
    "<br/><hr /><img src='x'/>",
    "<span attr=\"v\" />xhtml startend",
    "<div\tid\n=\r\"ws\">ws soup</div>",
    "<x\x00y>nul name</x\x00y>",
    # --- structure recovery -------------------------------------------------
    "<p>one<p>two<li>a<li>b<td>c<tr><td>d",
    "</p>stray makes empty p",
    "</br>acts like br",
    "<b>unclosed <i>nest</b>tail</i>",
    "<table><tr><td>a<td>b<tr><td>c</table>",
    "<html lang='en'><body class='b'><div>x</div></body></html>",
    "<body onload='x'>first<body onload='y' id='z'>second",
    "</html>stray</body>stray<p>after",
    "fragment without body tags",
    "<ul><li>1<ul><li>1.1</ul><li>2</ul>",
    "&#8203;&nbsp; ﻿ mixed ws",
    "<div>" * 600 + "deep" + "</div>" * 600,   # MAX_DOM_DEPTH cap parity
    # pathological fast-path-miss shapes (measured linear, no regex
    # backtracking blowup; equality is what this suite pins)
    "<a " + "xyz " * 3000,                     # unterminated attr soup
    "<a " + 'k="v" ' * 3000,                 # unterminated eq soup
    "<a " + "a" * 60000,                       # giant name run, no '>'
    "<a" + " " * 60000,                        # giant space run
    "<" * 30000,                               # lt soup
    "<a " + 'k="v" ' * 3000 + ">done</a>",   # giant but terminated
    # a tag name runs on through \s characters other than \t\n\r\f and
    # space: the fast start-tag path must not split the name there
    "<p\x0bclass=\"a\">vt after name</p>",
    "<p\x1cid='z'>x1c after name</p>",
    "<p\xa0id='z'>nbsp after name</p>",
    "<x\x1f0< html=\"\"></x\x1f0<>",
]


@pytest.mark.parametrize("frag", ADVERSARIAL, ids=range(len(ADVERSARIAL)))
def test_adversarial_fragments(frag):
    assert_equal_parse(frag)


_TOKENS = st.sampled_from([
    "<div>", "</div>", "<p ", "<p>", "</p>", "<a href=", "'x'", '"y"',
    "text", "&amp;", "&", "&#65;", "&#", "<", ">", "/", "<!--", "-->",
    "<!", "<![", "CDATA[", "]]>", "<script>", "</script>", "<?", "?>",
    "<!doctype", " ", "=", "\t", "\n", "<br/>", "<BODY>", "</html>",
    "<td>", "<tr>", "<li>", "class=", "á", " ", "\x00", "]>",
])


@settings(max_examples=120, deadline=None, derandomize=True)
@given(st.lists(_TOKENS, min_size=0, max_size=40))
def test_fuzz_token_soup(tokens):
    assert_equal_parse("".join(tokens))


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.text(
    alphabet="<>/!?&;#abA='\"- \n\t[] ﻿\x00", max_size=60))
def test_fuzz_char_soup(text):
    assert_equal_parse(text)
