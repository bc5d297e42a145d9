"""Algorithm constants (reference: /root/reference/src/constants.ts).

The regexes are JS ``i``-flag regexes ported 1:1 to ``re.I``; the comma class
covers the same 9 Unicode comma codepoints (constants.ts:30).
"""

from __future__ import annotations

import re

DEFAULT_N_TOP_CANDIDATES = 5          # constants.ts:9
DEFAULT_TAGS_TO_SCORE = (             # constants.ts:12 — order matters for ties
    "section", "h2", "h3", "h4", "h5", "h6", "p", "td", "pre")
DEFAULT_CHAR_THRESHOLD = 500          # constants.ts:15

RE_UNLIKELY_CANDIDATES = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|"
    r"disqus|extra|footer|gdpr|header|legends|menu|related|remark|replies|"
    r"rss|shoutbox|sidebar|skyscraper|social|sponsor|supplemental|ad-break|"
    r"agegate|pagination|pager|popup|yom-remote", re.I)

RE_OK_MAYBE_CANDIDATE = re.compile(
    r"and|article|body|column|content|main|shadow", re.I)

RE_POSITIVE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|"
    r"text|blog|story", re.I)

RE_NEGATIVE = re.compile(
    r"-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|"
    r"footer|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|"
    r"shoutbox|sidebar|skyscraper|sponsor|shopping|tags|widget", re.I)

RE_COMMAS = re.compile(
    "\u002C|\u060C|\uFE50|\uFE10|\uFE11|\u2E41|\u2E34|\u2E32|\uFF0C")

# preprocess (reference: src/extract/preprocess.ts:11-33)
TAGS_TO_REMOVE = (
    "aside", "nav", "header", "footer", "script", "style", "noscript",
    "iframe", "form", "button", "object", "embed", "applet", "map", "dialog")

# ad class/id patterns (preprocess.ts:36-53); combined into one
# alternation — search(a|b|c) ≡ any(search(a), search(b), …) since the ^/$
# anchors keep their per-string meaning without re.M
RE_AD_COMBINED = re.compile(
    r"ad-|^ad$|^ads$|advert|banner|sponsor|promo|google-ad|adsense|"
    r"doubleclick|amazon|affiliate|commercial|paid|shopping|recommendation",
    re.I)
