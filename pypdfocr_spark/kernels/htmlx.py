"""HTML boilerplate stripping (north-rule: "HTML boilerplate strip, DOM
heuristics" for Common-Crawl-style pages).

The reference operates on PDFs only; the rebuilt engine's input table
carries HTML payloads too (BASELINE.json input_hint), so this kernel adds
the main-content extraction path for them: drop non-content subtrees
(script/style/head/nav/header/footer/aside/form/iframe/noscript/svg),
keep block-level text, collapse whitespace.

stdlib-only (html.parser) — no lxml in this sandbox; on a real cluster an
lxml-backed kernel drops in behind the same signature.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_SKIP_SUBTREE = frozenset(
    "script style head nav header footer aside form iframe noscript svg template button".split()
)
_BLOCK = frozenset(
    "p div br li ul ol h1 h2 h3 h4 h5 h6 tr table article section blockquote pre td th".split()
)
_WS = re.compile(r"\s+")


class _MainContent(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self.chunks: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_SUBTREE:
            self._skip_depth += 1
        elif tag in _BLOCK:
            self.chunks.append("\x00")

    def handle_endtag(self, tag):
        if tag in _SKIP_SUBTREE and self._skip_depth:
            self._skip_depth -= 1
        elif tag in _BLOCK:
            self.chunks.append("\x00")

    def handle_data(self, data):
        if not self._skip_depth and data:
            self.chunks.append(data)


def strip_boilerplate(html: str) -> str:
    """Main-content text of an HTML page: boilerplate subtrees removed,
    block boundaries → newlines, runs of whitespace collapsed, lines
    stripped; empty lines dropped."""
    parser = _MainContent()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return ""
    text = "".join(parser.chunks)
    # block boundaries (sentinel) become line breaks; any literal
    # whitespace runs inside a block — including raw newlines in the
    # source markup — collapse to single spaces
    lines = [_WS.sub(" ", ln).strip() for ln in text.split("\x00")]
    return "\n".join(ln for ln in lines if ln)
