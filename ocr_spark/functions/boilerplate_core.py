"""Pure-Python main-content extraction (boilerplate strip) semantics.

Readability / text-density style block classification, per the north rule:
tag-tokenize the HTML-ish span into block-level segments, score each block
by link density (chars inside <a> / total text chars) and text length, and
keep only content blocks. The reference repo consumes OCR text rather than
HTML, so this operator's *spec* comes from the north rule's
"HTML boilerplate strip, DOM heuristics" requirement; its line-oriented
output discipline mirrors the reference's ordered line pipeline
(reference src/ocr/cli.js:21-27 split-trim-filter).

The rules (deterministic, shared verbatim by the data generator's oracle
and re-implemented vectorized in operators/boilerplate.py):

  * If the text contains no block-level tag, it is plain text: return it
    trimmed (whole-span passthrough).
  * Otherwise, blocks are the texts of <p>, <div>, <li>, <h1>-<h3>,
    <title>, <nav>, <header>, <footer>, <aside>, <script>, <style>
    elements (non-nested in our corpus; innermost text wins).
  * A block is BOILERPLATE if any of:
      - its tag is in DROP_TAGS (nav/header/footer/aside/script/style/title)
      - its link density > 0.33       (link-farm heuristic)
      - its visible text, trimmed, is shorter than MIN_CONTENT_CHARS (20)
  * Content block text = tag-stripped, whitespace-trimmed inner text with
    <a> anchor text kept (links contribute text but raise link density).
  * Output = content block texts joined by '\n' in document order.
"""

from __future__ import annotations

import re

MIN_CONTENT_CHARS = 20
MAX_LINK_DENSITY = 0.33
DROP_TAGS = frozenset(
    {"nav", "header", "footer", "aside", "script", "style", "title"}
)

BLOCK_TAGS = (
    "p|div|li|h1|h2|h3|title|nav|header|footer|aside|script|style"
)
_BLOCK_RE = re.compile(
    rf"<(?P<tag>{BLOCK_TAGS})\b[^>]*>(?P<body>.*?)</(?P=tag)>",
    re.IGNORECASE | re.DOTALL,
)
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def _visible(s: str) -> str:
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", s)).strip()


def strip_boilerplate(text: str | None) -> str:
    """Extract main content per the module-level rules."""
    if not text:
        return ""
    blocks = list(_BLOCK_RE.finditer(text))
    if not blocks:
        return text.strip()
    out: list[str] = []
    for m in blocks:
        tag = m.group("tag").lower()
        if tag in DROP_TAGS:
            continue
        body = m.group("body")
        visible = _visible(body)
        if len(visible) < MIN_CONTENT_CHARS:
            continue
        link_chars = sum(len(_visible(a)) for a in _ANCHOR_RE.findall(body))
        if visible and link_chars / len(visible) > MAX_LINK_DENSITY:
            continue
        out.append(visible)
    return "\n".join(out)
