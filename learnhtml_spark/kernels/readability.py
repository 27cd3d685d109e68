"""Readability-style class/id/tag scoring (reference F9).

Per-node heuristic weights the reference's blockifier can attach when
``do_readability`` is enabled (blocks.pyx:92-104,543-583, default off in
every used path): ±25 for negative/positive class-or-id regex matches,
+5 for div/pre/td/blockquote, -3 for list/form tags, -5 for headings/th.
Implemented as a standalone per-node kernel over the parsed tree (the
engine attaches it as an optional feature column rather than blockifier
state — same scores, simpler surface).
"""

from __future__ import annotations

import re

from learnhtml_spark.htmlparse import Element

RE_NEGATIVE = re.compile(
    "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    "outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|"
    "tool|widget",
    re.I,
)
RE_POSITIVE = re.compile(
    "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story",
    re.I,
)

_PLUS5 = frozenset(["div", "pre", "td", "blockquote"])
_MINUS3 = frozenset(["address", "ol", "ul", "dl", "dd", "dt", "li", "form"])
_MINUS5 = frozenset(["h1", "h2", "h3", "h4", "h5", "h6", "th"])


def readability_score(node: Element) -> int:
    """Heuristic content weight of one element node."""
    if not isinstance(node.tag, str):
        return 0
    weight = 0
    for attr in ("id", "class"):
        v = node.attrib.get(attr)
        if v:
            if RE_NEGATIVE.search(v):
                weight -= 25
            if RE_POSITIVE.search(v):
                weight += 25
    tag = node.tag
    if tag in _PLUS5:
        weight += 5
    elif tag in _MINUS3:
        weight -= 3
    elif tag in _MINUS5:
        weight -= 5
    return weight
