"""DOM boilerplate stripper — main-content extraction from HTML bytes.

This is the north-rule generalization of the reference's image
preprocessing branch (/root/reference/lib/image_processor/preprocessor/
opencv.js): the reference isolates the "paper" (main content) from a
noisy photo background by scoring candidate regions and keeping the
plausible main block; we isolate main content from boilerplate chrome
by scoring text blocks.  Stage-by-stage analogs (SURVEY.md §2.3):

* strip script/style/comment/head nodes            ← alpha-channel
  removal + thresholding (opencv.js:19-24,53-64): remove channels
  that can never be content.
* segment into blocks at block-level tags          ← contour detection.
* per-block text length + link-density scoring     ← candidate-contour
  filter (opencv.js:301-318): a candidate must hold a minimum share of
  the page's text and be "dense" (the 50%-fill rule → our link-density
  ≤ 1/3 rule; link-y fragments ≈ non-word-shaped contours at
  opencv.js:150-180).
* winning-region selection                         ← paper polygon
  extraction (opencv.js:105-131).
* deterministic whitespace normalization           ← perspective
  rectification (opencv.js:219-257): normalize geometry → normalize
  whitespace.

Pure stdlib (html.parser), fully deterministic, no network, no
locale/timezone dependence — byte-identical output per input is the
contract (north rule).  Designed to run row-at-a-time inside an
Arrow-batched UDF: one compiled parser instance per call, no
I/O, bounded memory.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from html.parser import HTMLParser

# Tags whose entire subtree can never be main content.
_DROP_SUBTREE = frozenset(
    {"script", "style", "noscript", "template", "svg", "head", "iframe",
     "object", "embed", "applet", "canvas", "audio", "video", "select",
     "option", "button", "textarea"}
)

# Tags that open a new text block.
_BLOCK_TAGS = frozenset(
    {"address", "article", "aside", "blockquote", "body", "br", "caption",
     "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
     "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html",
     "li", "main", "nav", "ol", "p", "pre", "section", "table", "tbody",
     "td", "tfoot", "th", "thead", "tr", "ul"}
)

# Containers that are boilerplate by role: text inside them is counted
# with a link-like penalty even when not inside <a>.
_CHROME_TAGS = frozenset({"nav", "header", "footer", "aside", "form", "menu"})

_WS = re.compile(r"\s+")


@dataclass
class Block:
    """One contiguous text block with its boilerplate evidence."""

    index: int
    text_parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    chrome_depth_seen: bool = False

    def text(self) -> str:
        # Deterministic normalization: collapse all whitespace runs to a
        # single space, strip ends.  (Rectification analog.)
        return _WS.sub(" ", "".join(self.text_parts)).strip()


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        # convert_charrefs=True: html.parser applies HTML5 entity rules
        # (incl. legacy semicolon-less forms), matching browsers and the
        # fast stripper's html.unescape-based decoding.
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._drop_depth = 0
        self._link_depth = 0
        self._chrome_depth = 0
        self._current: Block | None = None

    # -- block bookkeeping ---------------------------------------------------
    def _flush(self) -> None:
        self._current = None

    def _block(self) -> Block:
        if self._current is None:
            self._current = Block(index=len(self.blocks))
            self._current.chrome_depth_seen = self._chrome_depth > 0
            self.blocks.append(self._current)
        return self._current

    # -- HTMLParser hooks ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _DROP_SUBTREE:
            self._drop_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
        if tag in _CHROME_TAGS:
            self._chrome_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in _DROP_SUBTREE:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _CHROME_TAGS:
            self._chrome_depth = max(0, self._chrome_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()

    def _emit(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        b = self._block()
        b.text_parts.append(data)
        if self._link_depth > 0:
            b.link_chars += len(_WS.sub(" ", data).strip())
        if self._chrome_depth > 0:
            b.chrome_depth_seen = True

    def handle_data(self, data: str) -> None:
        self._emit(data)


# Scoring thresholds — the contour-filter analogs.  Keep every non-empty
# block that survives the chrome + link-density rules: receipt-style main
# content legitimately has very short lines, so no minimum length.
MIN_BLOCK_CHARS = 1
MAX_LINK_DENSITY = 1.0 / 3.0  # the "word-shaped" rule (opencv.js:165-171)


def segment_blocks(html_text: str) -> list[Block]:
    parser = _BlockParser()
    try:
        parser.feed(html_text)
        parser.close()
    except Exception:
        # Malformed HTML must never fail the row (error-as-value, D3);
        # keep whatever blocks were parsed before the failure.
        pass
    return [b for b in parser.blocks if b.text()]


def _is_candidate(b: Block, text: str) -> bool:
    n = len(text)
    if n < MIN_BLOCK_CHARS:
        return False
    if b.chrome_depth_seen:
        return False
    if b.link_chars / n > MAX_LINK_DENSITY:
        return False
    return True


def extract_main_text(html_bytes: bytes | str) -> str:
    """HTML bytes/str → main-content text.

    Candidate blocks (low link-density, outside chrome containers, above
    the minimum length) are kept in document order and joined with a
    single ``\\n``.  Deterministic: same bytes → same string, always.
    """
    if isinstance(html_bytes, (bytes, bytearray)):
        html_text = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        html_text = html_bytes
    blocks = segment_blocks(html_text)
    kept: list[str] = []
    for b in blocks:
        t = b.text()
        if _is_candidate(b, t):
            kept.append(t)
    return "\n".join(kept)
